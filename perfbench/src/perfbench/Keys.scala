package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{Analytics, LlmData, Quality, Relational, Scalars}

/** The rule that selects each workload's keys from the key set, and the
  * frozen lists it produced. The rule is fixed against kset `92649cf8`;
  * a change to the key set changes the kset and is caught by the
  * self-test before any list drifts.
  */
object Keys {
  val Kset = "92649cf8"

  /** First 4 bytes (hex) of the MD5 of the comma-joined sorted key names. */
  def kset(keys: Iterable[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(keys.toSeq.sorted.mkString(",").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  private def isGraph(k: String) = k.startsWith("q_graph_")

  /** Read-only single-plan analysis queries. */
  def analystPool: Seq[String] =
    (Relational.queries.keys ++ Scalars.queries.keys ++ Quality.queries.keys ++
      Analytics.queries.keys.filterNot(isGraph)).toSeq.sorted

  /** Keys that run many jobs, micro-batches or staged indices per result. */
  def iterativePool: Seq[String] =
    (graft.streaming.Streams.queries.keys ++ Analytics.queries.keys.filter(isGraph) ++
      LlmData.queries.keys.filter(k =>
        Seq("q_simsearch_", "q_embed_", "q_stream_").exists(k.startsWith))).toSeq.sorted

  /** A key that fails at this scale (long overflow), the experiment key
    * the roadmap names, and one key each of `Scalars` (through the native
    * `graft_fee` kernel) and `Quality`, which the stride sample misses.
    */
  val AnalystMandatory = Seq("q_window_sharpe", "q_agg_ab_cuped", "q_udf_scalar", "q_dq_rules")

  /** The multi-way stream join (the first queued performance item), a
    * superstep loop, and native-kernel embedding keys.
    */
  val IterativeMandatory = Seq("q_stream_join_multiway", "q_graph_bfs", "q_embed_pq", "q_embed_pca_power")

  // As wide as the time budget of one benchmark run requires (README.md,
  // "Sizing"): the whole benchmark must run 70 times in under an hour.
  val AnalystStride = 44
  val IterativeStride = 110
  val LandingStride = 22

  /** Every `stride`-th key of the name-sorted pool (from the first), plus
    * the mandatory keys, name-sorted.
    */
  def select(pool: Seq[String], stride: Int, mandatory: Seq[String]): Seq[String] =
    (pool.sorted.zipWithIndex.collect { case (k, i) if i % stride == 0 => k } ++ mandatory)
      .distinct.sorted

  def landingPool: Seq[String] =
    (graft.sources.PipelineIngest.queries.keys ++ graft.sources.Transfer.queries.keys).toSeq.sorted

  def rule(workload: String): Seq[String] = workload match {
    case "analyst" => select(analystPool, AnalystStride, AnalystMandatory)
    case "iterative" => select(iterativePool, IterativeStride, IterativeMandatory)
    case "landing" => select(landingPool, LandingStride, Nil)
  }

  def frozen(dir: String, workload: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, s"$workload.txt")).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** Prints the kset and each workload's rule-selected list. */
  def main(opts: Map[String, String]): Unit = {
    println(s"kset ${kset(graft.SparkEntry.queries.keys)}")
    println(s"pool analyst ${analystPool.size}")
    println(s"pool iterative ${iterativePool.size}")
    println(s"pool landing ${landingPool.size}")
    Seq("analyst", "iterative", "landing").foreach(w => rule(w).foreach(k => println(s"key $w $k")))
  }
}
