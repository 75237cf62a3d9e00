package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources._

/** Whole-result benchmark harness for the graft engine.
  *
  * Runs one workload as a closed loop with one client on one local
  * session: every item's result is materialised in full with
  * `write.format("noop")`, so sorts, unread projections and native kernel
  * calls stay in the timed plan. Items reach the program only through its
  * public entry points (`SparkEntry.queries`, the `graft.sources` DAG
  * calls). Each item runs in a fresh `newSession()` so no session memo
  * crosses items.
  *
  * The run is: set up (the session, then one untimed pass that verifies
  * every output against a fresh `java.io.tmpdir`, so staged artifacts are
  * built in it), then timed passes in a seeded order until `seconds` have
  * elapsed and at least `passes` passes ran. With `trace` the timed passes alternate untraced/traced and
  * the per-layer counters come from the traced ones. The last stdout line
  * is `RESULT {json}`.
  */
object Harness {
  val Modules = Seq("Relational", "Scalars", "Quality", "Analytics", "LlmData", "Streams", "sources")

  def moduleOf(key: String): String = {
    import graft.operators._
    if (Relational.queries.contains(key)) "Relational"
    else if (Scalars.queries.contains(key)) "Scalars"
    else if (Quality.queries.contains(key)) "Quality"
    else if (Analytics.queries.contains(key)) "Analytics"
    else if (LlmData.queries.contains(key)) "LlmData"
    else if (graft.streaming.Streams.queries.contains(key)) "Streams"
    else if (PipelineIngest.queries.contains(key) || Transfer.queries.contains(key)) "sources"
    else throw new IllegalArgumentException(s"unknown key $key")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    opts("mode") match {
      case "run" => Run(opts).main()
      case "keys" => Keys.main(opts)
      case "selftest" => SelfTest.main(opts)
      case "warm" => warm(Paths.get(opts("work")))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** A small run over the classes every benchmark run loads (session,
    * Parquet, aggregation, join, noop write, digest, the program's query
    * maps), for the build's class-data archive.
    */
  def warm(work: Path): Unit = {
    val spark = session(work)
    try {
      Keys.kset(SparkEntry.queries.keys)
      val p = work.resolve("warm.parquet").toString
      spark.range(0, 10000).selectExpr("id", "id % 7 as k", "cast(id as string) s").write.parquet(p)
      val t = spark.read.parquet(p)
      val r = t.groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
        .join(t.select(col("k"), col("s").as("v")), "k").orderBy("k", "v")
      r.write.format("noop").mode("overwrite").save()
      digest(r)
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-insensitive digest of a whole result: schema, row count, and
    * the sum and xor of a 64-bit hash of every row's JSON rendering.
    */
  def digest(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(renamed.columns.map(col).toSeq: _*)))
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$schema|${r.get(0)}|${r.get(1)}|${r.get(2)}".getBytes("UTF-8"))
    s"${r.getLong(0)}:" + md.take(8).map("%02x".format(_)).mkString
  }

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\t"); a(0) -> a(1) }.toMap

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
}

/** One unit of work: a call into `module` whose result is timed whole.
  * `check` returns a mismatch message; `reference` says whether it
  * compares against a known answer (a stored digest or the generator's
  * totals) or only records what it saw.
  */
final case class Item(id: String, module: String, build: SparkSession => DataFrame,
    check: DataFrame => Option[String], reference: Boolean)

/** Largest heap in use right after any GC, from the JVM's GC notifications. */
object LiveHeap {
  @volatile var peakBytes: Long = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peakBytes) peakBytes = used }
        }
      }, null, null)
    case _ =>
  }
}
