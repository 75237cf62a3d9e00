package graft

/** Dumps formatted physical plans of flagship queries (used to generate
  * docs/PLANS.md; also handy interactively).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.build("graft-plans", GraftSession.cores)
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val batch = if (args.length > 1) args.drop(1).toSeq
    else Seq("q_scan_pruned", "q_join_broadcast", "q_join_multiway",
        "q_agg_hash", "q_topk", "q_udf_scalar", "q_dedup_near",
        "q_join_bucketed", "q_join_skew_salted", "q_simsearch_ivf",
        "q_pivot_wide", "q_pack_sequences",
        "q_join_bloom_pruned", "q_embed_kmeans_step", "q_scan_manifest_skip",
        // NOT q_graph_triangles: it executes eagerly (tiny collected result)
        // — its plan shape is asserted piecewise in AnalyticsSpec instead
        "q_join_dpp", "q_corpus_contamination",
        "q_interval_active_peak", "q_agg_weighted_median", "q_window_drawdown")
    for (q <- batch) {
      println(s"\n===== $q =====")
      println(SparkEntry.queries(q)(s, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(4000))
    }
    // streaming: run the staged-batch harness, then dump the physical plan
    // of the last executed micro-batch (state stores, watermark placement)
    val streamBatch = if (args.length > 1) Seq.empty[String]
    else Seq("q_stream_tumbling", "q_stream_watermark_late",
        "q_stream_stateful", "q_stream_join_interval")
    for (q <- streamBatch) {
      SparkEntry.queries(q)(s, d).collect()
      println(s"\n===== $q (last micro-batch) =====")
      println(streaming.Streams.lastMicroBatchPlan.take(4000))
    }
    s.stop()
  }
}
