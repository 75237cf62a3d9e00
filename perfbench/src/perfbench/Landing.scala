package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, not}

import graft.sources._

/** One generated landing day, as listed in the generator's manifest. */
final case class Day(dir: Path, day: LocalDate, nValid: Long, nRows: Long, sumCents: Long, bytes: Long)

/** In-process Dock API stub. A seeded share of calls fails once with a
  * 503; the caller's retry then succeeds. The decision depends only on the
  * seed and the call's position in the run, so a seed replays the same
  * failures.
  */
final class Stub(seed: Long, failPct: Int, archives: Int) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  val calls = new AtomicLong()
  val failures = new AtomicLong()
  private var lastFailed = false
  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)

  private def reply(ex: HttpExchange, body: => String): Unit = synchronized {
    val n = calls.incrementAndGet()
    val h = new scala.util.Random(seed * 1000003L + n).nextInt(100)
    val fail = !lastFailed && h < failPct
    lastFailed = fail
    val (code, bytes) =
      if (fail) { failures.incrementAndGet(); (503, "unavailable".getBytes("UTF-8")) }
      else (200, body.getBytes("UTF-8"))
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  server.createContext("/oauth2/token", (ex: HttpExchange) => reply(ex, """{"access_token": "tok"}"""))
  server.createContext("/report", (ex: HttpExchange) => {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    if (q.contains("ticket=")) reply(ex, """{"file": "balance_00.zip"}""")
    else reply(ex, """{"ticket": "T-1"}""")
  })
  server.createContext("/accounts", (ex: HttpExchange) => {
    val acct = ex.getRequestURI.getPath.split("/")(2)
    reply(ex, f"""{"fileName": "balance_${java.lang.Math.floorMod(acct.hashCode, archives)}%02d.zip"}""")
  })
  server.start()

  val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}

/** The `landing` workload: the reference's own job at volume. Each day is
  * one balance-report DAG run over the production HTTP transport; the
  * statements DAG, a backfill over `events`, and every `sources` query key
  * ride along.
  */
final class Landing(landingDir: Path, data: String, work: Path, seed: Long, keys: Seq[String],
    tracer: Tracer, keyItem: (String, SparkSession => DataFrame) => Item) {
  val RetryDelayMs = 100L
  val BackfillFrom = LocalDate.parse("2024-01-01")
  val BackfillDays = 5
  val Accounts = Seq("acct-1", "acct-2", "acct-3")

  val days: Seq[Day] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(landingDir.resolve("manifest.tsv")).asScala.drop(1).map { l =>
      val a = l.split("\t")
      Day(Paths.get(a(0)), LocalDate.parse(a(1)), a(2).toLong, a(3).toLong, a(4).toLong, a(5).toLong)
    }.toSeq
  }
  private val archives = {
    val st = Files.list(days.head.dir)
    try st.filter(_.toString.endsWith(".zip")).count().toInt finally st.close()
  }
  val stub = new Stub(seed, failPct = 10, archives = archives)
  private val http = new JdkHttpTransport()

  /** Per-stage totals of the traced report DAG runs, and source counts. */
  val stages = new Counters

  private val dagDir = work.resolve("dag")

  // Both DAGs overwrite their outputs in place (the same file names every
  // day), so items need no clean-up between them.
  private def reportDag(s: SparkSession, d: Day): DataFrame =
    if (!tracer.enabled)
      PipelineMain.runReportDag(s, http, stub.base, "client", "secret", d.dir, dagDir,
        d.day.plusDays(1), attempts = 3, retryDelayMs = RetryDelayMs)
    else composedReportDag(s, d)

  /** The report DAG composed from the same public calls, in the same order
    * as `PipelineMain.runReportDag`, with a span around each stage.
    */
  private def composedReportDag(s: SparkSession, d: Day): DataFrame = {
    def stage[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try tracer.span(name, dayId(d), "sources")(body)
      finally stages.add(s"${name}_s", (System.nanoTime() - t0) / 1e9)
    }
    val ingest = new RestIngest(http, stub.base)
    val file = stage("rest") {
      val ticket = Retry.withRetry(3, RetryDelayMs)(
        ingest.requestReport(ingest.authenticate("client", "secret"), d.day.toString))
      Retry.withRetry(3, RetryDelayMs)(
        ingest.getTicketFile(ingest.authenticate("client", "secret"), ticket))
    }
    stage("sensor") {
      require(LandingSensor.await(d.dir.resolve(file), timeoutMs = 5000, pokeIntervalMs = 250),
        s"landed file $file did not appear")
    }
    val transferred = dagDir.resolve("transferred")
    stage("transfer") {
      val integrity = Transfer.transferDir(s, d.dir.toString, transferred.toString)
      val broken = integrity.where(not(col("bytes_match") <=> true) ||
        not(col("checksum_match") <=> true)).count()
      require(broken == 0, s"$broken file(s) failed transfer integrity")
    }
    val out = stage("ingest") {
      PipelineIngest.ingestLanding(s, transferred.toString, dagDir.resolve("report_out").toString)
    }
    stages.add("bytes_in_mb", d.bytes / 1e6)
    stages.add("bytes_written_mb", Harness.dirBytes(dagDir) / 1e6)
    stages.add("valid_rows", d.nValid.toDouble)
    stages.add("rows", d.nRows.toDouble)
    out
  }

  private def dayId(d: Day): String = s"report_dag_${d.day}"

  private def checkDay(d: Day)(df: DataFrame): Option[String] = {
    val rows = df.collect()
    if (rows.length != 1) Some(s"${rows.length} rows, expected 1")
    else {
      val r = rows(0)
      val cents = math.round(r.getAs[Number]("sum_amount").doubleValue * 100)
      if (r.getAs[Any]("day").toString != d.day.toString || r.getAs[Number]("n").longValue != d.nValid ||
        cents != d.sumCents)
        Some(s"got (${r.getAs[Any]("day")}, ${r.getAs[Any]("n")}, $cents cents), " +
          s"expected (${d.day}, ${d.nValid}, ${d.sumCents} cents)")
      else None
    }
  }

  /** The backfill audit against the same totals computed straight from
    * the events table, outside the program.
    */
  private def checkBackfill(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.functions._
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = df.sparkSession.read.parquet(s"$data/events.parquet")
      .select(to_date(col("ts")).as("day"), round(col("value") * 100, 0).cast("long").as("c"))
      .where(col("day") >= lit(java.sql.Date.valueOf(BackfillFrom)) &&
        col("day") < lit(java.sql.Date.valueOf(BackfillFrom.plusDays(BackfillDays))))
      .groupBy("day").agg(count(lit(1)), sum(col("c")))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq.sorted
    if (got == want) None else Some(s"audit ${got.mkString(",")} != ${want.mkString(",")}")
  }

  private def checkStatements(df: DataFrame): Option[String] = {
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val landing = days.head.dir
    if (rows.map(_._1).toSeq != Accounts) Some(s"accounts ${rows.map(_._1).mkString(",")}")
    else rows.collectFirst {
      case (a, f, b) if !Files.exists(landing.resolve(f)) || Files.size(landing.resolve(f)) != b =>
        s"$a: $f has $b bytes"
    }
  }

  /** Counts every stub call and injected failure of `body` (both DAGs). */
  def countCalls[A](body: => A): A = {
    val (c0, f0) = (stub.calls.get(), stub.failures.get())
    try body
    finally {
      stages.add("rest_calls", (stub.calls.get() - c0).toDouble)
      stages.add("retries", (stub.failures.get() - f0).toDouble)
    }
  }

  def items: Seq[Item] = {
    val dagItems = days.map { d =>
      Item(dayId(d), "sources", s => reportDag(s, d), checkDay(d), reference = true)
    }
    val statements = Item("statements_dag", "sources", s =>
      PipelineMain.runStatementsDag(s, http, stub.base, "client", "secret", Accounts,
        days.head.dir, days.head.day.plusDays(1), attempts = 3, retryDelayMs = RetryDelayMs),
      checkStatements, reference = true)
    val backfillOut = work.resolve("backfill")
    val backfill = Item("backfill_days", "sources", { s =>
      val t0 = System.nanoTime()
      try PipelineMain.backfillDays(s, data, backfillOut.toString, BackfillFrom, BackfillDays)
      finally if (tracer.enabled) stages.add("backfill_s", (System.nanoTime() - t0) / 1e9)
    }, checkBackfill, reference = true)
    dagItems ++ Seq(statements, backfill) ++ keys.map(k => keyItem(k, graft.SparkEntry.queries(k)(_, data)))
  }
}
