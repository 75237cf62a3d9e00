package graft

import org.apache.spark.RddBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Loop

/** The fixpoint primitive of the graph loops and its release: what it frees
  * is read off the block manager, what it runs off `TestSpark.ran`. */
class LoopSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  private def rddId(cut: DataFrame): Int =
    cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  /** RDD ids holding blocks now that did not before `base` was taken. */
  private def added(base: Set[Int]): Set[Int] = RddBlocks(s.sparkContext).keySet -- base

  test("Loop.release frees a local checkpoint's blocks and rejects a projection of one") {
    val base = RddBlocks(s.sparkContext).keySet
    val cut = s.range(0, 1000).toDF("x").localCheckpoint(true)
    assert(added(base) === Set(rddId(cut)))
    // the reason release exists: Dataset.unpersist frees nothing here
    cut.unpersist(true)
    assert(added(base) === Set(rddId(cut)))
    val err = intercept[IllegalArgumentException](
      Loop.release(cut.withColumnRenamed("x", "y")))
    assert(err.getMessage.contains("local checkpoint"))
    assert(added(base) === Set(rddId(cut)))
    Loop.release(cut)
    assert(added(base).isEmpty)
  }

  /** Halves every value and drops duplicates: from 0 until 1024 the row
    * count halves each round, reaching {0} in round 10; round 11 proves
    * the fixpoint. */
  private def halve(df: DataFrame): DataFrame =
    df.select((col("x") / 2).cast("long").as("x")).distinct()

  test("Loop.fixpoint keeps only its last state cached, even with every state still referenced") {
    val base = RddBlocks(s.sparkContext).keySet
    // strong references to every state, so the context cleaner cannot be
    // what frees them
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val start = s.range(0, 1024).toDF("x").localCheckpoint(true)
    states += start
    val (last, n) = Loop.fixpoint("halving", 20, start, 1024L) { (cur, _) =>
      halve(cur)
    } { (_, n, next) =>
      states += next
      val m = next.count()
      (m, m == n)
    }
    assert(n === 1L && last.collect().map(_.getLong(0)).toSeq === Seq(0L))
    assert(states.length === 12, "the start and the states of 11 rounds")
    assert(added(base) === Set(rddId(last)))
    Loop.release(last)
    assert(added(base).isEmpty)
  }

  test("Loop.fixpoint fails naming the loop when it needs more than its bound") {
    val start = s.range(0, 1024).toDF("x").localCheckpoint(true)
    val err = intercept[IllegalArgumentException](
      Loop.fixpoint("halving", 3, start, 1024L)((cur, _) => halve(cur)) { (_, n, next) =>
        val m = next.count()
        (m, m == n)
      })
    assert(err.getMessage.contains("halving did not converge in 3 rounds"))
  }

  test("Loop.fixpoint runs no job on a caller-given start signature") {
    val start = s.range(0, 64).toDF("x").localCheckpoint(true)
    val cutOnly = TestSpark.ran(s)(halve(start).localCheckpoint(true))
    val oneRound = TestSpark.ran(s) {
      Loop.fixpoint("one round", 1, start, 64L)((cur, _) => halve(cur))((_, n, _) => (n, true))
    }
    assert(oneRound.jobs === cutOnly.jobs,
      "a round whose test runs nothing costs exactly its state's cut")
  }

  test("the graph loops return the same rows on the shuffle path as at the default broadcast bound") {
    val keys = Seq("q_graph_connected_components", "q_graph_cc_incremental", "q_er_resolve",
      "q_graph_coreness", "q_graph_sssp", "q_graph_landmark_dist", "q_graph_scc",
      "q_graph_ktruss", "q_graph_pagerank_full", "q_graph_ppr", "q_graph_mst",
      "q_graph_louvain_full")
    def rows(q: String) = SparkEntry.queries(q)(s, d).collect().toSeq
    for (q <- keys) {
      val default = rows(q)
      val shuffled = GraftSession.withConfs(s, "spark.graft.graph.broadcastMaxRows" -> "0")(rows(q))
      assert(default.nonEmpty, s"$q returned no rows at $d")
      assert(shuffled === default, s"$q differs on the shuffle path")
    }
  }
}
