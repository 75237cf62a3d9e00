package graft

import org.apache.spark.sql.SparkSession

/** Reports what each key leaves cached and what it runs, for the lineage-cut
  * table in docs/SCALING.md:
  *
  *   sbt "Test/runMain graft.LoopProbe <fixture dir> [key …]"
  *
  * Each key first runs once in the given session (staging its derived
  * tables), then once in a fresh session with a `noop` write: the probe
  * prints the RDDs with blocks that were not there before that run, their
  * MB, and the run's jobs and stages (`TestSpark.ran`). The main turns the
  * context cleaner off, so only the code's own releases free anything. With
  * no key named it probes the keys whose loops `graft.plans.Loop` runs or
  * releases, plus `q_graph_bfs`.
  */
object LoopProbe {
  val Keys: Seq[String] = Seq("q_graph_connected_components", "q_graph_cc_incremental",
    "q_er_resolve", "q_graph_coreness", "q_graph_sssp", "q_graph_landmark_dist",
    "q_graph_scc", "q_graph_ktruss", "q_graph_pagerank_full", "q_graph_ppr",
    "q_graph_mst", "q_graph_louvain_full", "q_graph_bfs")

  /** One warm run of `q` on `s`, then the measured run in a fresh session:
    * what it ran, and the bytes per RDD id it left with blocks. */
  def run(s: SparkSession, q: String, d: String): (TestSpark.Ran, Map[Int, Long]) = {
    def noop(on: SparkSession): Unit =
      SparkEntry.queries(q)(on, d).write.format("noop").mode("overwrite").save()
    noop(s)
    val fresh = s.newSession()
    val before = org.apache.spark.RddBlocks(s.sparkContext).keySet
    val ran = TestSpark.ran(fresh)(noop(fresh))
    (ran, org.apache.spark.RddBlocks(s.sparkContext).filter(b => !before(b._1)))
  }

  def main(args: Array[String]): Unit = {
    System.setProperty("spark.cleaner.referenceTracking", "false")
    val s = GraftSession.build("graft-loop-probe", GraftSession.cores)
    val d = args.headOption.getOrElse(TestSpark.sf)
    for (q <- if (args.length > 1) args.toSeq.tail else Keys) {
      val (ran, left) = run(s, q, d)
      println(f"[probe] $q%-30s rdds_left=${left.size}%3d " +
        f"mb_left=${left.values.sum / 1048576.0}%6.1f jobs=${ran.jobs}%4d stages=${ran.stages}%4d")
    }
    s.stop()
  }
}
