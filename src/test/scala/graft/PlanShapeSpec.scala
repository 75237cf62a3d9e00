package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Scalars}

/** Plan-shape assertions (SURVEY.md §4/§5 item 5): the efficiency claims —
  * pushdown, pruning, broadcast, bounded top-k, whole-stage codegen — are
  * verified against the actual physical plans, not assumed. These are the
  * properties that decide whether the same query survives a 100 TB input.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_scan_pruned pushes the shipdate filter into the Parquet scan") {
    val p = plan(Relational.scanPruned(s, d))
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"expected pushed filter on l_shipdate in:\n$p")
  }

  test("q_scan_pruned reads only the projected+filter columns") {
    val p = plan(Relational.scanPruned(s, d))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads more columns than needed: $readSchema")
  }

  test("q_join_broadcast plans a BroadcastHashJoin (fact side never shuffles)") {
    assert(plan(Relational.joinBroadcast(s, d)).contains("BroadcastHashJoin"))
  }

  test("q_join_shuffle honors the merge hint with a SortMergeJoin") {
    assert(plan(Relational.joinShuffle(s, d)).contains("SortMergeJoin"))
  }

  test("q_topk plans TakeOrderedAndProject (bounded per-partition heaps, no global sort)") {
    assert(plan(Relational.topk(s, d)).contains("TakeOrderedAndProject"))
  }

  test("q_udf_scalar's native expression stays inside WholeStageCodegen") {
    val df = Scalars.udfScalar(s, d)
    df.collect() // finalize THIS df's adaptive plan so codegen stages materialize
    val p = df.queryExecution.executedPlan.toString
    val feeLine = p.linesIterator.find(_.contains("graft_fee")).getOrElse("")
    // '*(n)' prefixes mark operators compiled into a WholeStageCodegen stage
    assert(feeLine.trim.matches("""^[+\-:\s]*\*\(\d+\).*"""),
      s"graft_fee projection not codegen'd: $feeLine\n$p")
  }

  test("q_agg_hash uses hash aggregation with a partial (map-side) phase") {
    val p = plan(Relational.aggHash(s, d))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), s"no partial aggregation phase in:\n$p")
  }

  test("q_join_bucketed joins without shuffling either side (bucket co-location)") {
    // disable broadcast so the join must pick SMJ — the point is that the
    // bucketed layout satisfies its distribution requirement with NO exchange
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.joinBucketed(s, d)
      val p = plan(df)
      val joinIdx = p.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SortMergeJoin in:\n$p")
      // no Exchange may appear below the join (between it and the scans)
      assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles a side:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"not a bucketed scan:\n$p")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_sample_stratified shares one lang exchange across windows and aggregate, prunes text") {
    val df = Relational.sampleStratified(s, d)
    val p = plan(df)
    // both row_number/count windows AND the groupBy(lang) aggregate must
    // ride the SAME hashpartitioning(lang) exchange — a second hash
    // shuffle would re-move the corpus for an already-satisfied
    // distribution (the final orderBy's rangepartitioning is separate)
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1, s"expected exactly 1 hash exchange, got $hashExchanges:\n$p")
    // quota selection never touches `text`: the scan must read only the
    // id/lang/n_chars columns or a 100 TB corpus pays full-document I/O
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"scan reads text: $readSchema")
    assert(readSchema.contains("lang") && readSchema.contains("n_chars"), readSchema)
  }

  test("q_text_fingerprint winnows in a single shuffle-free scan pipeline") {
    val p = plan(graft.operators.LlmData.textFingerprint(s, d))
    // hash/slide/min/distinct are all per-row lambdas: no explode, no
    // aggregation, so the ONLY exchange is the output sort's range
    // partition — any hashpartitioning here means an accidental shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"fingerprint pipeline shuffles:\n$p")
    assert(p.linesIterator.count(_.startsWith("(")) > 0 ||
      p.contains("Scan parquet"), s"unexpected plan shape:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"expected a single documents scan:\n$p")
  }

  test("q_join_bloom_pruned probes the filter below the join, pruning before the exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE wraps stages in leaf QueryStageExec nodes that a tree walk can't
    // cross; disable it so the executed plan is the full static tree
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Relational.joinBloomPruned(s, d)
      val p = plan(df)
      assert(p.contains("graft_bloom_contains"), s"no bloom probe in plan:\n$p")
      // the probe must prune rows BEFORE they are shuffled: walk the executed
      // plan and require the bloom predicate inside the SUBTREE UNDER a
      // shuffle exchange (line-order in the print can't tell above/below)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(exchanges.nonEmpty, s"no shuffle exchange in:\n$p")
      assert(exchanges.exists(_.children.exists(
          _.toString.contains("graft_bloom_contains"))),
        s"bloom probe not below any shuffle exchange (rows shuffle unpruned):\n$p")
    } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_topk_per_key plans two-phase bounded heaps: no Window, no pre-shuffle Sort") {
    // the raw operator, without the oracle dump's trailing orderBy
    val df = graft.plans.TopKPerKey(
      Tables(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
    val p = df.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toIndexedSeq
    val fin = lines.indexWhere(_.contains("TopKPerKey(final)"))
    val part = lines.indexWhere(_.contains("TopKPerKey(partial)"))
    assert(fin >= 0 && part > fin, s"expected final above partial in:\n$p")
    assert(lines.slice(fin, part).exists(_.contains("Exchange hashpartitioning")),
      s"no key exchange between heap phases:\n$p")
    assert(!p.contains("Window"), s"heap operator must not plan a Window:\n$p")
    assert(!p.contains("Sort"), s"heap operator must not sort anything:\n$p")
  }

  test("q_anomaly_zscore broadcasts the stats table back over the scan") {
    val p = plan(graft.operators.Quality.anomalyZscore(s, d))
    assert(p.contains("BroadcastHashJoin"),
      s"stats re-attach should broadcast, not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized join expected:\n$p")
  }

  test("q_cdc_apply folds via partial aggregation, never a Window") {
    val p = plan(graft.operators.Quality.cdcApply(s, d))
    // struct buffers plan as SortAggregate; the property that matters is
    // the partial (map-side) phase bounding the exchange to one row per
    // key per partition — and the absence of any window operator
    assert(p.contains("partial_max"),
      s"changelog fold should partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"), s"fold must not plan a Window:\n$p")
  }

  test("q_agg_active_users explodes windows instead of any quadratic join") {
    val p = plan(graft.operators.Analytics.aggActiveUsers(s, d))
    assert(p.contains("Generate explode"), s"expected the window explode:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rolling distinct must not plan a quadratic join:\n$p")
  }

  test("q_embed_kmeans_step assignment is join-free and explode-free (one agg exchange)") {
    val df = graft.operators.LlmData.embedKmeansStep(s, d)
    val p = plan(df)
    // centroids are literals: no join, no explode-by-k — the naive
    // cross-join formulation would shuffle 8x the corpus
    assert(!p.contains("Join"), s"assignment should not join:\n$p")
    assert(!p.contains("Generate"), s"assignment should not explode:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected exactly the one 8-group agg exchange, saw $hashEx:\n$p")
  }

  test("q_interval_allen: one broadcast cross, classification never leaves the scan stage") {
    val p = plan(graft.operators.Analytics.intervalAllen(s, d))
    // the 100-row window table rides ONE broadcast nested loop (the
    // intended control-plane cross); nothing may sort-merge or shuffle
    // pairs
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj === 1, s"expected exactly the one window-table cross:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no pair shuffle:\n$p")
    // the classification must be ONE projection over the cross — a
    // second pair-grain exchange would mean the CASE left the scan stage
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"only the 13-row histogram aggregate may hash-exchange:\n$p")
  }

  test("q_join_rank prunes via bounded heaps, never sorts or joins the full sides") {
    val p = plan(Relational.joinRank(s, d))
    assert(p.contains("TopKPerKey"),
      s"both sides must prune through the bounded-heap operator:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the final cut must be a bounded TakeOrdered, not sort+limit:\n$p")
    assert(!p.contains("Window"),
      s"no window formulation — heaps replace the per-partition sort:\n$p")
  }

  test("q_multimodal_align: equi-join pairing, native dot kernel, no cartesian") {
    val p = plan(graft.operators.LlmData.multimodalAlign(s, d))
    assert(!p.contains("CartesianProduct"),
      s"the pair attach must stay an equi-join:\n$p")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1,
      s"only the 1-row corpus-count attach may nest-loop, saw $bnlj:\n$p")
    assert(p.contains("graft_dot"),
      s"cosine must run the native codegen'd dot kernel:\n$p")
  }

  test("q_timeseries_holt_winters folds inside the account group: no join, no window") {
    val p = plan(graft.operators.Analytics.timeseriesHoltWinters(s, d))
    assert(!p.contains("Join"),
      s"the recursion must fold inside the keyed aggregate, not join:\n$p")
    assert(!p.contains("Window"),
      s"no window — the fold state is the aggregate buffer:\n$p")
  }

  test("q_text_tfidf broadcasts the vocabulary-sized df table") {
    val p = plan(graft.operators.LlmData.textTfidf(s, d))
    assert(p.contains("BroadcastHashJoin"), s"df join should broadcast:\n$p")
  }

  test("q_simsearch_ivf probes via static partition pruning on the cell index") {
    val df = graft.operators.LlmData.simsearchIvf(s, d)
    val p = plan(df)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"expected a cell partition filter on the index scan:\n$p")
  }

  test("lifecycle probes (append/stream-append/delete/compact/append-delete/batch-routed) keep static cell pruning on the index scan") {
    Seq("append" -> graft.operators.LlmData.simsearchAppend(s, d),
        "stream_append" -> graft.operators.LlmData.simsearchStreamAppend(s, d),
        "delete" -> graft.operators.LlmData.simsearchDelete(s, d),
        "compact" -> graft.operators.LlmData.simsearchCompact(s, d),
        "append_delete" -> graft.operators.LlmData.simsearchAppendDelete(s, d),
        "batch_routed" -> graft.operators.LlmData.simsearchBatchRouted(s, d),
        "reclaim" -> graft.operators.LlmData.simsearchReclaim(s, d))
      .foreach { case (name, df) =>
        val p = plan(df)
        assert(p.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains("cell")),
          s"$name probe lost the cell partition filter:\n$p")
      }
  }

  test("q_simsearch_filtered pushes the label predicate into the cell-pruned scan") {
    val df = graft.operators.LlmData.simsearchFiltered(s, d)
    val p = plan(df)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      s"filtered probe lost the cell partition filter:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("label")),
      s"label predicate must push into the index scan, not evaluate post-read:\n$p")
    assert(!p.contains("Join"), s"filtered search must not join an allow-list:\n$p")
  }

  test("q_embed_pq encodes in the scan stage: no join, no aggregate exchange") {
    val p = plan(graft.operators.LlmData.embedPq(s, d))
    // the m·ks literal-centroid kernels are a projection over the scan —
    // the only exchange the plan may contain is the final presentation sort
    assert(!p.contains("Join"), s"PQ encode should not join:\n$p")
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")),
      s"PQ encode should not shuffle on a key:\n$p")
  }

  test("q_simsearch_ivfpq prunes cells AND reads codes, not raw vectors") {
    val df = graft.operators.LlmData.simsearchIvfPq(s, d)
    val p = plan(df)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"expected a cell partition filter on the IVFADC scan:\n$p")
    // column pruning is the other half of the cost model: the ADC scan
    // must NOT materialize the raw embedding column
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("codes") && !readSchema.contains("embedding"),
      s"ADC scan should read codes only:\n$readSchema")
  }

  test("q_simsearch_batch: codes-only corpus scan, broadcast query tables, partial agg") {
    val p = plan(graft.operators.LlmData.simsearchBatch(s, d))
    // the corpus side of the ADC join must read the codes column only —
    // batch size must never pull raw vectors back into the scan
    val idxScan = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("codes")).getOrElse("")
    assert(idxScan.nonEmpty && !idxScan.contains("embedding"),
      s"batch ADC corpus scan should read codes only:\n$p")
    // query-side ADC tables join in broadcast (they are nq·m·ks rows)
    assert(p.contains("BroadcastHashJoin"),
      s"query ADC tables must broadcast, not shuffle the codes:\n$p")
    // the (query, vector) distance sum partial-aggregates map-side
    assert(p.contains("partial_sum"), s"no map-side partial for the ADC sum:\n$p")
  }

  test("GraftExtensions rewrites the HOF dot-product pattern to native graft_dot") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables(s, d, "embeddings").limit(100)
    // the idiomatic user-written HOF formulation, via SQL text
    val hof = emb.select(col("vec_id"), expr(
      "aggregate(zip_with(embedding, embedding, " +
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
      .as("sumsq"))
    assert(hof.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      s"rewrite did not fire:\n${hof.queryExecution.optimizedPlan}")
    // and the rewrite is semantics-preserving vs the unrewritten session
    graft.functions.GraftFunctions.register(s)
    val native = emb.select(col("vec_id"),
      graft.functions.VectorOps.dot(col("embedding"), col("embedding")).as("sumsq"))
    assert(hof.orderBy("vec_id").collect() === native.orderBy("vec_id").collect())
  }

  test("q_pack_sequences has no single-partition window over the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = graft.operators.LlmData.packSequences(s, d)
    // inspect the pre-adaptive plan: AQE's finalized tree hides subtrees
    // inside leaf QueryStageExec nodes, but partition specs are static
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = root.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected window operators in the packing plan:\n$root")
    // the per-document prefix sum MUST be partitioned (by shard); the only
    // unpartitioned window allowed is the shard-base prefix over the tiny
    // post-aggregate relation (input rows = #shards, not #docs)
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"no partitioned window found — corpus prefix sum is single-partition:\n$root")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case h: BaseAggregateExec => h }.isDefined,
        s"unpartitioned window not over a pre-aggregated tiny input:\n$w")
    }
  }

  test("q_dedup_simhash band exchanges carry ID-only rows (no payload through the 10x explode)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // at the test SF the band table broadcasts; disable broadcast to get
    // the shuffle plan a corpus-scale input would use, and AQE so the
    // static tree carries the ShuffleExchangeExec nodes (AQE's pre-
    // preparation inputPlan predates EnsureRequirements — no exchanges yet)
    val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.LlmData.dedupSimhash(s, d)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val bandExchanges = root.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") => e
      }
      assert(bandExchanges.nonEmpty, s"expected band-keyed exchanges in:\n$root")
      // the de-skew explodes 10 band rows per doc — each must be the
      // ~32-byte (doc_id, sh64, band_idx, band_val) tuple, never payload
      bandExchanges.foreach { e =>
        assert(e.child.output.length <= 4 &&
          !e.child.output.exists(a => Set("text", "tok", "toks").contains(a.name)),
          s"band exchange carries payload columns: ${e.child.output.mkString(", ")}")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      s.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("q_layout_zorder's write shape is one range exchange + local sort") {
    import org.apache.spark.sql.functions._
    // the frame layoutZorder writes, reconstructed pre-write
    val frame = Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day"))
      .withColumn("zval", Relational.zvalue(col("o_custkey"), col("day")))
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions("zval")
    val p = frame.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning(zval"),
      s"expected a zval range exchange in:\n$p")
    assert("Exchange ".r.findAllIn(p).length == 1,
      s"layout write should cost exactly one exchange:\n$p")
    // the interleave itself must be codegen'd integer ops, not an UDF
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("q_text_containment's shingle-keyed exchanges carry index rows, not document text") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.LlmData.textContainment(s, d)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val shExchanges = root.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("sh") &&
              !e.outputPartitioning.toString.contains("shs") => e
      }
      assert(shExchanges.nonEmpty, s"expected shingle-keyed exchanges in:\n$root")
      shExchanges.foreach { e =>
        assert(e.child.output.length <= 5 &&
          !e.child.output.exists(a => Set("text", "shs").contains(a.name)),
          s"shingle exchange carries payload: ${e.child.output.mkString(", ")}")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      s.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    // the 100 TB posture for selective dim ⋈ huge fact when the dim exceeds
    // broadcast size: Spark's InjectRuntimeFilter builds a bloom filter of
    // the selective side's join keys and applies it to the fact scan, so
    // most fact rows die before the shuffle. Assert the optimizer actually
    // injects it on this engine's join shapes under the documented confs.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val sel = Tables(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
      val j = Tables(s, d, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg"),
        s"no bloom filter built on the selective side:\n$p")
      assert(p.contains("might_contain"),
        s"no bloom probe applied to the fact side:\n$p")
    } finally prev.foreach { case (k, v) =>
      v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }
    }
  }

  test("q_pivot_wide plans a single aggregation pass (no pivot-value discovery job)") {
    // declared pivot values → the plan is exactly one partial+final hash
    // aggregation over the scan; an undeclared pivot would first run a
    // separate distinct query before this plan even exists
    val p = plan(Relational.pivotWide(s, d))
    assert(p.contains("HashAggregate") && p.contains("partial_"))
  }

  test("q_join_dpp prunes fact partitions at runtime from the dim join keys") {
    val df = sources.PipelineIngest.joinDpp(s, d)
    val p = plan(df)
    // the fact scan must carry a dynamicpruning partition filter — the
    // property that turns a full-lake read into the dim-selected subset
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    // and the filter lands on the PARTITION column, not a post-scan filter
    val scanLine = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("dynamicpruning"))
    assert(scanLine.isDefined, s"dynamicpruning not in PartitionFilters:\n$p")
  }

  test("q_agg_mode_exact plans WindowGroupLimit before the group shuffle") {
    // the row_number()=1 filter must become a pre-shuffle partial group
    // limit: each map task forwards one candidate row per group, not the
    // whole value histogram
    val p = plan(operators.Analytics.aggModeExact(s, d))
    assert(p.contains("WindowGroupLimit"),
      s"mode's rank filter did not plan as a group limit:\n$p")
    assert(p.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix(": ")
      .contains("WindowGroupLimit")) >= 2 || p.contains("Partial"),
      s"no partial (pre-shuffle) group limit phase:\n$p")
  }

  test("q_scd2_snapshot and q_interval_active_peak avoid nested-loop plans") {
    // both replace a quadratic formulation (spine x versions range join;
    // interval self-join) with linear-shuffle shapes — a regression to
    // BroadcastNestedLoopJoin/CartesianProduct is the failure mode
    Seq(operators.Analytics.scd2Snapshot(s, d),
      operators.Analytics.intervalActivePeak(s, d)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"quadratic plan:\n$p")
    }
  }

  test("AQE converts a statically-planned SortMergeJoin to broadcast at runtime") {
    // the 100 TB posture SCALING.md prescribes: a filtered side whose
    // STATIC size estimate exceeds the broadcast threshold but whose
    // RUNTIME shuffle stats are tiny must be re-planned as a broadcast
    // join — Catalyst's AQE does this between stages; losing it means a
    // needless full-fact shuffle whenever a filter is selective
    import org.apache.spark.sql.functions._
    val o = Tables(s, d, "orders")
    val small = o.where(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey").as("k"))
    val li = Tables(s, d, "lineitem")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // static planning must NOT broadcast (threshold off) …
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // … but AQE's runtime re-plan may (its own threshold left at default)
      val df = li.join(small, li("l_orderkey") === small("k"))
        .agg(count(lit(1)).as("n"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") || p.contains("BroadcastHashJoin"),
        s"AQE did not re-plan the tiny filtered side:\n$p")
      assert(p.contains("isFinalPlan=true"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_dq_benford reads orders exactly once") {
    val p = plan(operators.Quality.dqBenford(s, d))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders.parquet"))
    assert(scans === 1, s"benford must derive its total from the 9-row " +
      s"histogram, not a second scan (found $scans):\n$p")
  }

  test("q_dq_referential reads lineitem exactly once (fused FK probes)") {
    val p = plan(operators.Quality.dqReferential(s, d))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem.parquet"))
    assert(scans === 1, s"the three lineitem FK checks must share one " +
      s"fact scan (found $scans):\n$p")
  }

  test("q_text_chunk is shuffle-free: no hash exchange, no aggregate, no window") {
    // the only exchange allowed is the presentation sort's range partition;
    // the chunking itself must pipeline inside the scan stage
    val p = plan(operators.LlmData.textChunk(s, d))
    assert(!p.contains("Exchange hashpartitioning"), s"chunking shuffled:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      s"chunking must be a pure narrow explode/project:\n$p")
    assert(p.contains("Generate explode"), s"expected an explode:\n$p")
  }

  test("q_shuffle_shard exchanges once on the shard id (plus the presentation sort)") {
    val p = plan(operators.LlmData.shuffleShard(s, d))
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size === 1, s"expected exactly one hash exchange:\n$p")
    assert(hashEx.head.contains("shard"),
      s"the one exchange must partition by shard (repartition+sortWithinPartitions " +
        s"shape): ${hashEx.head}")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing may funnel through one partition:\n$p")
  }

  test("q_search_bm25 bounds the ranking (TakeOrdered) and broadcasts the df table") {
    val p = plan(operators.LlmData.searchBm25(s, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized df/avgdl tables must broadcast:\n$p")
  }

  test("q_dedup_semantic: centroid assignment is join-free, pair join is equi on cluster") {
    val p = plan(operators.LlmData.dedupSemantic(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan leaked into SemDeDup:\n$p")
    // the centroid model is folded into scan-stage projections (graft_dot
    // against literal seed vectors), not a join against a centroid table
    assert(p.contains("graft_dot"), s"expected the native dot kernel:\n$p")
  }

  test("q_dq_drift reads events exactly once (conditional aggregation)") {
    val p = plan(operators.Quality.dqDrift(s, d))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events.parquet"))
    assert(scans === 1, s"drift must fold ref/cur sides in one pass " +
      s"(found $scans scans):\n$p")
  }

  test("q_join_fuzzy_name: length-band blocking plans an equi join, not all-pairs") {
    val p = plan(operators.Analytics.joinFuzzyName(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to the quadratic plan the blocking replaces:\n$p")
    // candidate lengths are generated scan-side (explode of the band)
    assert(p.contains("Generate"), s"expected the length-band explode:\n$p")
  }

  test("q_basket_lift: pairs come from posexplode, never a fact self-join") {
    // the pair table is MAINTAINED state (staged per fixture generation),
    // so the no-self-join guarantee lives in the maintenance job's plan —
    // assert it on the build seam, and the serving guarantees on the query
    import org.apache.spark.sql.functions.{col, collect_set}
    val baskets = Tables(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
    val pb = plan(operators.Analytics.basketPairBuild(baskets))
    assert(!pb.contains("CartesianProduct"), s"quadratic pair build plan:\n$pb")
    assert(pb.contains("Generate"), s"expected in-row basket posexplode:\n$pb")
    val p = plan(operators.Analytics.basketLift(s, d))
    assert(!p.contains("CartesianProduct"), s"quadratic serving plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be a bounded heap, not a global sort:\n$p")
  }

  test("q_seq_match evaluates all patterns in one aggregation pass") {
    val p = plan(operators.Analytics.seqMatch(s, d))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events.parquet"))
    assert(scans === 1, s"pattern count must not multiply scan count " +
      s"(found $scans scans):\n$p")
  }

  test("q_event_attribution: both models from one window pass, no self-join") {
    val p = plan(operators.Analytics.eventAttribution(s, d))
    assert(!p.contains("Join"), s"attribution must carry touches in a " +
      s"window, not join events to events:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events.parquet"))
    assert(scans === 1, s"two models must not re-scan (found $scans):\n$p")
    assert(p.contains("Generate"), s"expected stack() unfold:\n$p")
  }

  test("q_agg_hhi: nation broadcasts; both agg levels have partial phases") {
    val p = plan(operators.Analytics.aggHhi(s, d))
    assert(p.contains("BroadcastHashJoin"), s"nation dim must broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("q_graph_common_neighbors: top-20 is a bounded heap; degrees broadcast") {
    val p = plan(operators.Analytics.graphCommonNeighbors(s, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"degree re-attach must broadcast, not shuffle the pair table:\n$p")
  }

  test("supplier neighbor lists carry the hub-degree cap in-plan") {
    // the deg² wedge mitigation must be part of the plan, not prose: lists
    // above the corpus-derived cap are cut to a deterministic hash-ordered
    // sample (md5 sort inside slice — md5, not xxhash64, so the DuckDB
    // oracle replays the identical selection), and the pre-cap degree
    // survives as the deg_full audit column. Inert on fixtures (max deg <
    // the 128 floor: the capped branch never fires), but the expression is
    // present at any data size.
    // the lists are MAINTAINED state (staged per fixture generation), so
    // the cap expression lives in the maintenance job's plan — assert it
    // on the build seam; the staged read-back must carry the audit column
    val (built, release) = operators.Analytics.supplierNbrsBuild(s, d)
    val analyzed = try built.queryExecution.analyzed.toString
      finally release()
    assert(analyzed.contains("md5") && analyzed.contains("slice"),
      s"hub cap expression missing from the neighbor-list build plan:\n$analyzed")
    val nbrs = operators.Analytics.supplierNbrs(s, d)
    assert(nbrs.columns.contains("deg_full"), "capped-degree audit column missing")
    // fixture inertness: nothing at this SF reaches the cap floor
    import org.apache.spark.sql.functions.{max => smax, col, size}
    val maxDeg = nbrs.agg(smax(size(col("sps")))).head.getInt(0)
    assert(maxDeg < 128, s"fixture max degree $maxDeg unexpectedly at/above the cap floor")
    assert(operators.Analytics.hubDegreeCap(0L, 0L) === 128)
    assert(operators.Analytics.hubDegreeCap(1000L, 40000L) === 640)
  }

  test("q_window_beta and q_agg_concentration windows are partitioned (never global)") {
    Seq(operators.Analytics.windowBeta(s, d),
      operators.Analytics.aggConcentration(s, d)).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty)
      winLines.foreach(l => assert(l.contains("n_name"),
        s"window not partitioned by n_name (single-partition hazard):\n$l"))
    }
  }

  test("connected-components star rounds plan equi hash joins, never quadratic or window operators") {
    import s.implicits._
    // one round over a live edge frame: every join in both star
    // operations is an equi join on the node key — a CartesianProduct or
    // BroadcastNestedLoopJoin here would turn each O(|E|) round into
    // O(|E|·|V|) and sink the log²-round bound's whole point
    val e = (1L until 64L).map(i => (i, i + 1)).toDF("u", "v")
    Seq(
      "large-star" -> graft.operators.Analytics.ccLargeStar(e),
      "small-star" -> graft.operators.Analytics.ccSmallStar(
        graft.operators.Analytics.ccLargeStar(e))).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name must not plan a quadratic join:\n$p")
      assert(!p.contains("Window"),
        s"$name must not plan a window operator:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$name should plan a keyed equi join:\n$p")
    }
  }

  test("q_graph_node2vec_walk: every hop is a keyed equi join, never quadratic") {
    // the frontier expansion and the (prev, x) common-test lookup must both
    // plan as equi joins on the node key with the weight/slot arithmetic as
    // residual predicates — a CartesianProduct/BNLJ would make each hop
    // O(|frontier|·|E|) and sink the k-joins-for-k-steps bound
    val p = plan(graft.operators.Analytics.graphNode2vecWalk(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"biased walk must not plan a quadratic join:\n$p")
  }

  test("q_graph_betweenness: the dependency pass plans keyed equi joins only") {
    // the backward δ-accumulation is deliberately NOT lineage-cut, so the
    // final frame's plan carries both dependency-level joins: they must be
    // keyed equi joins (src/node) — a CartesianProduct/BNLJ would make each
    // level O(|level|·|E|) and sink the one-join-per-level bound
    val p = plan(graft.operators.Analytics.graphBetweenness(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dependency accumulation must not plan a quadratic join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"dependency accumulation should plan keyed equi joins:\n$p")
  }

  test("q_graph_closeness: the harmonic rollup plans keyed equi joins only") {
    // per-level plans are lineage-cut; the final frame still carries the
    // distance union + keyed aggregation — no quadratic operator anywhere
    val p = plan(graft.operators.Analytics.graphCloseness(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"closeness rollup must not plan a quadratic join:\n$p")
  }

  test("graph supersteps above the broadcast cutoff: the pre-partitioned " +
    "edge view shares one exchange, only the node-grain side shuffles") {
    // r19 exchange-reuse (guide §2.4): the loop-invariant edge views are
    // repartition(col(<join key>)) + localCheckpoint'd once, so on the
    // shuffled path each round's relaxation join must NOT re-exchange the
    // edge side — exactly one hashpartitioning(v) exchange may appear
    // (the node-grain distance side), the edge side reads its cached
    // partitioning. Confs model the production loop: AQE off, pinned
    // partition count matching the pre-partitioned view, auto-broadcast
    // off (checkpointed side tables carry no stats).
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val was = keys.map { case (k, _) => k -> s.conf.get(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val p = plan(graft.operators.Analytics.ssspStepShuffledForTest(s, d))
      val vExchanges = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning(v#"))
      assert(vExchanges === 1,
        s"expected exactly 1 v-keyed exchange (the distance side), got $vExchanges:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"the edge side should read the checkpointed partitioning:\n$p")
    } finally was.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("q_graph_neighborhood: the sketch round plans keyed equi joins only") {
    val p = plan(graft.operators.Analytics.anfStepForTest(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"HyperANF round must not plan a quadratic join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"HyperANF round should plan keyed equi joins:\n$p")
  }

  test("q_graph_sssp: the relaxation superstep plans keyed equi joins only") {
    // two un-checkpointed rounds keep the join shapes visible (the
    // production loop lineage-cuts per round)
    val p = plan(graft.operators.Analytics.ssspStepForTest(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"SSSP relaxation must not plan a quadratic join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"SSSP relaxation should plan keyed equi joins:\n$p")
  }

  test("q_search_phrase: the positional probe is a keyed equi join, never quadratic") {
    val p = plan(graft.operators.LlmData.searchPhrase(s, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"phrase adjacency must not plan a quadratic join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"phrase adjacency should plan a keyed equi join:\n$p")
  }

  test("q_join_interval_overlap: the interval×interval join is a keyed hash join on the bucket") {
    val p = plan(graft.operators.Analytics.joinIntervalOverlap(s, d))
    assert(!p.contains("CartesianProduct"),
      s"interval overlap must not plan a cartesian product:\n$p")
    // the interval join itself must be an equi join on the band bucket,
    // carrying the exact overlap predicate as its residual; the only
    // nested-loop allowed is the 1-row bounds/delta constant attach
    val joinLine = p.linesIterator
      .find(l => l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin"))
      .getOrElse("")
    assert(joinLine.contains("[b#") && joinLine.contains("w_en"),
      s"expected the bucket equi join with the overlap residual:\n$p")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row bounds attach may nested-loop:\n$p")
  }

  test("q_agg_ks_test's corpus-sized CDF window partitions by the value-range shard") {
    val p = plan(graft.operators.Analytics.aggKsTest(s, d))
    assert(p.contains("windowspecdefinition(shard"),
      s"CDF prefix sum must run under the shard partitioning:\n$p")
  }

  test("q_corpus_token_budget's rank-prefix window partitions by the quality shard") {
    val p = plan(graft.operators.LlmData.corpusTokenBudget(s, d))
    assert(p.contains("windowspecdefinition(shard"),
      s"budget prefix sum must run under the shard partitioning:\n$p")
  }

  test("q_dedup_lines: election is a keyed aggregate, never a window or nested loop") {
    val p = plan(graft.operators.LlmData.dedupLines(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup planned a quadratic join:\n$p")
    assert(p.contains("HashAggregate") && p.contains("partial_"),
      s"first-occurrence election should partial-aggregate map-side:\n$p")
  }

  test("q_text_wordpiece_encode: the greedy fold is codegen'd, no per-character join") {
    val df = graft.operators.LlmData.textWordpieceEncode(s, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // exactly one join: the vocab-grain dictionary join back to the corpus
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins <= 2, s"wordpiece encode plans $joins joins (dictionary join only):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_agg_bootstrap_ci: the 40-fold fanout partial-aggregates map-side, no quadratic join") {
    val p = plan(graft.operators.Analytics.aggBootstrapCi(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bootstrap planned a quadratic join:\n$p")
    assert(p.contains("partial_"),
      s"the (group, b) aggregate must partial-aggregate before the exchange:\n$p")
  }

  test("q_embed_whiten: dim moments partial-aggregate and broadcast back") {
    val p = plan(graft.operators.LlmData.embedWhiten(s, d))
    assert(p.contains("partial_"),
      s"the dim-grain moment aggregate must map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the |dims|-row stats table must broadcast back, not shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_corpus_curriculum: windows run at bucket grain and within-bucket, never one global sort") {
    val df = graft.operators.LlmData.corpusCurriculum(s, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the per-doc running sum must partition by the difficulty bucket —
    // a window over an unpartitioned doc order would be the global-sort
    // funnel the operator exists to avoid
    assert(p.contains("windowspecdefinition(diff"),
      s"per-doc cumulative window must partition by diff:\n$p")
    // the broadcast of the 1-row budget scalar legitimately plans as a
    // BroadcastNestedLoopJoin; only a genuine cartesian is forbidden
    assert(!p.contains("CartesianProduct"))
  }

  test("q_text_kn_perplexity: model tables join the held-out stream, no quadratic shape") {
    val df = graft.operators.LlmData.textKnPerplexity(s, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"perplexity serving planned a cartesian:\n$p")
    // scoring is keyed joins + one keyed aggregate with map-side partials
    assert(p.contains("partial_"),
      s"the per-doc aggregate must partial-aggregate map-side:\n$p")
  }

  test("q_text_unigram_encode: the Viterbi fold is codegen'd, dictionary join only") {
    val df = graft.operators.LlmData.textUnigramEncode(s, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the DP runs at vocab grain inside a fold; the only joins allowed
    // are the dictionary join back to the corpus (plus the model's tiny
    // total-mass cross)
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins <= 2, s"unigram encode plans $joins joins (dictionary join only):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_corpus_dataset_card: percentile windows partition by source, never globally") {
    val p = plan(graft.operators.LlmData.corpusDatasetCard(s, d))
    assert(p.contains("windowspecdefinition(source"),
      s"rank windows must partition by source:\n$p")
    val global = p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(") && !l.contains("windowspecdefinition(source"))
    assert(!global, s"found a window not partitioned by source:\n$p")
  }

  test("q_dedup_audio_fp: the band join is equi, never all-pairs") {
    val p = plan(graft.operators.LlmData.dedupAudioFp(s))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"audio fingerprint dedup planned a quadratic join:\n$p")
  }

  test("q_simsearch_nsw_insert: edge election windows are keyed, never global") {
    val p = plan(graft.operators.LlmData.nswInsertEdges(s, d))
    // the 4-centroid assignment cross IS a bounded nested loop (the IVF
    // assignment shape) — what must never appear is an unkeyed window or
    // a true cartesian between corpus-grain relations
    assert(!p.contains("CartesianProduct"), s"cartesian in insert edges:\n$p")
    assert(p.contains("windowspecdefinition(vec_id"),
      s"cell-rank window must partition by vec_id:\n$p")
    assert(p.contains("windowspecdefinition(src"),
      s"edge election window must partition by src:\n$p")
  }

  test("q_simsearch_nsw_build: graph construction is cell-bounded, never all-pairs") {
    // the r17 build was a corpus×corpus crossJoin — the one flagged
    // scale-killer. The cell-bounded rewrite must plan as scan +
    // literal-codebook scoring + ONE cell-keyed equi-join + a src-keyed
    // rank window: no cartesian or nested-loop operator anywhere.
    val p = plan(graft.operators.LlmData.nswBuildPlanForTest(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN-graph build degenerated to the quadratic plan it replaces:\n$p")
    // candidates come from the cell equi-join; the election is per-source
    assert(p.contains("windowspecdefinition(src"),
      s"edge election window must partition by src:\n$p")
  }

  test("NSW family walks are join-then-score: no corpus-grain cosine cross product") {
    // the r13 shape crossJoin(broadcast(query))'d the whole corpus into a
    // scored frame (BroadcastNestedLoopJoin) before walking; the rewrite
    // scores only frontier-joined rows. The un-truncated walk hook keeps
    // every hop's subplan visible (production lazy checkpoints hide them
    // behind RDD scans): NO nested-loop or cartesian operator anywhere,
    // and the frontier→embeddings score joins are broadcast hash joins.
    val p = plan(graft.operators.LlmData.nswBatchWalkPlanForTest(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"NSW walk scores at corpus grain (cross product in plan):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"frontier score join should broadcast the frontier side:\n$p")
    // the production probes' outer plans (entry, final cut) are equally
    // cross-product-free
    for ((name, df) <- Seq(
        "q_simsearch_nsw" -> graft.operators.LlmData.simsearchNsw(s, d),
        "q_simsearch_hnsw" -> graft.operators.LlmData.simsearchHnsw(s, d),
        "q_simsearch_nsw_batch" -> graft.operators.LlmData.simsearchNswBatch(s, d))) {
      val po = plan(df)
      assert(!po.contains("CartesianProduct") && !po.contains("BroadcastNestedLoopJoin"),
        s"$name scores at corpus grain (cross product in plan):\n$po")
    }
  }

  /** What `q` runs for its whole result in a fresh session (how the
    * benchmark runs each key) at sf0.01, after one warm run in the shared
    * session has staged its derived tables. */
  private def ranFresh(q: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame): TestSpark.Ran = {
    val sf01 = java.nio.file.Paths.get(d).resolveSibling("sf0.01").toString
    q(s, sf01).collect()
    val fresh = s.newSession()
    TestSpark.ran(fresh)(q(fresh, sf01).collect())
  }

  test("q_embed_centroid_eval scores in one pass: no window, no nested-loop cross, no micro-kernel filter copy, ≤ 7 jobs") {
    val r = ranFresh(graft.operators.LlmData.embedCentroidEval)
    val all = r.plans.mkString("\n")
    assert(!all.contains("Window") && !all.contains("BroadcastNestedLoopJoin"),
      s"centroid scoring fans out to (vector × label) rows:\n$all")
    // posexplode over the kernel call itself: a projected-column input
    // lets InferFiltersFromGenerate add size/isnotnull filters that
    // pushdown rewrites into extra graft_micro calls per row
    assert(!all.linesIterator.exists(l => l.contains("Filter") && l.contains("graft_micro")),
      s"graft_micro re-evaluated in an inferred filter:\n$all")
    info(s"${r.jobs} jobs, ${r.stages} stages")
    assert(r.jobs <= 7, s"${r.jobs} jobs (budget 7)")
  }

  test("q_graph_bfs holds its small frontiers on the driver: ≤ 16 stages") {
    val r = ranFresh(graft.operators.Analytics.graphBfs)
    info(s"${r.jobs} jobs, ${r.stages} stages")
    assert(r.stages <= 16, s"${r.stages} stages in ${r.jobs} jobs (budget 16)")
  }
}
