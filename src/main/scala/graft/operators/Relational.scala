package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core relational operator surface (SURVEY.md §2B: scans, filters,
  * projections, joins, aggregations, windows, sort/limit, set ops, dedup).
  *
  * Design rules applied throughout:
  *  - declare plans with the DataFrame API and let Catalyst choose physical
  *    strategies (pushdown/pruning verified in PlanShapeSpec);
  *  - broadcast dimension tables explicitly where the star schema makes the
  *    small side obvious; hint `merge` where a shuffle join is the point;
  *  - every query output is totally ordered with a unique tiebreaker
  *    (SURVEY.md §5, §7 "oracle determinism");
  *  - floating-point results are made engine- and order-independent via
  *    [[Det]]: addends are scaled to integers before summing (an integer
  *    double sum is exact in any order), and rounding is expressed as
  *    `round(x*10^k, 0)/10^k` which Spark and DuckDB evaluate identically
  *    (native `round(x, k)` differs between the engines on exact decimal
  *    boundaries: Spark rounds the shortest decimal representation, DuckDB
  *    rounds the binary value). At k = 0 the two readings agree on every
  *    double, and `GraftExtensions` runs each such `round(·, 0)` as the
  *    primitive `graft_round0` ([[graft.functions.Round0Expr]]) in place
  *    of Catalyst's BigDecimal round trip.
  */
object Det {
  /** Cross-engine-stable rounding: round(x*f, 0)/f. Safe whenever both
    * engines hold the identical double x (halves are exactly representable,
    * and both engines round exact halves away from zero). The inner round
    * plans as `graft_round0`, bit-equal to Spark's `round(·, 0)`.
    */
  def r(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    round(c * f, 0) / f
  }

  /** Exact, order-independent monetary sum: scale each addend to an integer
    * (exact for |x*f| < 2^53), sum exactly in any partial-aggregation order,
    * then scale back. Bit-identical across Spark and DuckDB regardless of
    * shuffle/merge order.
    */
  def sumExact(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    sum(round(c * f, 0)) / f
  }

  /** Order-independent mean built on [[sumExact]]; both engines evaluate
    * sum/f/count identically.
    */
  def avgExact(c: Column, scale: Int): Column =
    sumExact(c, scale) / count(lit(1))

  /** SQL (DuckDB) counterparts of the expressions above. */
  def sqlR(e: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    s"round(($e) * $f, 0) / $f"
  }
  def sqlSumExact(e: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    s"sum(round(($e) * $f, 0)) / $f"
  }
  def sqlAvgExact(e: String, scale: Int): String =
    s"${sqlSumExact(e, scale)} / count(*)"
}

object Relational {
  import Det._

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  // ---------------------------------------------------------------- scans

  /** q_scan_parquet — full-table scan, all columns projected. */
  def scanParquet(s: SparkSession, d: String): DataFrame =
    t(s, d, "part").orderBy("p_partkey")

  /** q_scan_pruned — column pruning + predicate pushdown reach the Parquet
    * scan (reference lands daily files then reads selectively, README.md:9).
    */
  def scanPruned(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice")
      .orderBy("l_orderkey", "l_extendedprice")

  /** q_scan_observed — IN-FLIGHT QUERY METRICS via Spark's `Observation`
    * API (`df.observe`): data-quality counters (row count, exact cent sum,
    * null count, max date) ride the SAME scan that serves the query — no
    * second pass over the data, which at 100 TB is the difference between
    * "audited" and "audited at double cost". The observed values are
    * collected by the AQE-safe observation listener after one action and
    * released as a 1-row audit frame; the oracle recomputes them with a
    * plain aggregate, proving the piggy-backed counters equal the ground
    * truth.
    *
    * Scale: observe() adds a CollectMetrics node — an accumulator fold,
    * no shuffle, no extra scan; the driver holds 4 scalars.
    */
  def scanObserved(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val base = t(s, d, "orders").observe(obs,
      count(lit(1)).as("n_rows"),
      sum(round(col("o_totalprice") * 100, 0).cast("long")).as("sum_cents"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
        .as("n_null_priority"),
      max(to_date(col("o_orderdate"))).as("max_day"))
    // the action the metrics ride on: a real consumer of the scan
    base.where(col("o_orderkey") % 1000 === 0).count()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("sum_cents").asInstanceOf[Long],
      m("n_null_priority").asInstanceOf[Long],
      m("max_day").toString))
      .toDF("n_rows", "sum_cents", "n_null_priority", "max_day")
  }

  /** q_sink_partitioned — daily-partitioned write + partition-pruned re-read
    * (the reference's yesterday-cadence landing, script-dag-dock-report:59).
    * Writes under java.io.tmpdir; mode overwrite mirrors `replace=True`
    * (script-dag-dock-report:172).
    */
  def sinkPartitioned(s: SparkSession, d: String): DataFrame = {
    val out = s"${sys.props("java.io.tmpdir")}/graft_out/q_sink_partitioned"
    t(s, d, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // re-read with a partition filter: only `day=2024-01-02` files are listed
    // (partition values are type-inferred as dates; cast back for the output)
    s.read.parquet(out)
      .where(col("day") === "2024-01-02")
      .withColumn("day", col("day").cast("string"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value"))
      .orderBy("day", "event_type")
  }

  // ------------------------------------------------------- filter / project

  /** q_filter_predicate — compound predicate (TPC-H Q6 shape). */
  def filterPredicate(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .orderBy("l_orderkey", "l_linenumber")

  /** q_project_expr — computed columns; per-row arithmetic evaluates in the
    * same order on both engines, so [[Det.r]] is exact.
    */
  def projectExpr(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        r(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("revenue"),
        r(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 2)
          .as("revenue_tax"))
      .orderBy("l_orderkey", "l_linenumber")

  // ----------------------------------------------------------------- joins

  /** q_join_broadcast — fact ⋈ small dim with an explicit broadcast hint:
    * no shuffle of the 600k-row (and at cluster scale, multi-TB) fact side.
    */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sumExact(col("l_extendedprice"), 2).as("sum_price"))
      .orderBy("p_brand")

  /** q_join_shuffle — large-large equi-join; `merge` hint pins sort-merge so
    * the query exercises the shuffle path even at small SF (at 100 TB both
    * sides are far beyond any broadcast threshold). Per-order quantity sums
    * are integer-valued doubles, so they are exact without scaling.
    */
  def joinShuffle(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").hint("merge")
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
      .orderBy("o_orderkey")

  /** q_join_multiway — TPC-H Q5-shaped star join. The dim chain
    * region→nation→customer broadcasts; only lineitem⋈orders shuffles.
    */
  def joinMultiway(s: SparkSession, d: String): DataFrame = {
    val dim = broadcast(
      t(s, d, "region").where(col("r_name") === "ASIA")
        .join(t(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, d, "customer"), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name"))
    t(s, d, "lineitem")
      .join(t(s, d, "orders").where(year(col("o_orderdate")) === 1997),
        col("l_orderkey") === col("o_orderkey"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** q_join_semi_anti — EXISTS / NOT EXISTS as left-semi / left-anti (no
    * payload columns from the right side ever cross the shuffle).
    */
  def joinSemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").select("c_custkey")
    val o = t(s, d, "orders").select("o_custkey")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    semi.unionAll(anti).orderBy("c_custkey", "tag")
  }

  /** q_join_outer — left outer join preserving order-less customers;
    * count(col) ignores nulls so they report 0 orders.
    */
  def joinOuter(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"),
        sumExact(coalesce(col("o_totalprice"), lit(0.0)), 2).as("total_spend"))
      .orderBy("c_custkey")

  /** q_join_asof_range — as-of join: for every purchase event, the latest
    * click by the same user at-or-before the purchase. Implemented the
    * scale-friendly way: one shuffle on user_id and a running-max window over
    * the unioned event stream — NOT an O(n²) range self-join. This is the
    * financial "state as of t" semantics the reference's statement window
    * implies (script-dag-dock-statements.py:60-61).
    */
  def joinAsofRange(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("last_click_ts"))
      .orderBy("event_id")
  }

  /** q_join_asof_forward — FORWARD AS-OF JOIN (pandas
    * merge_asof(direction='forward')): each purchase matches its user's
    * NEXT click — the "time-to-next-action" primitive behind response
    * latency and next-touch attribution, where the backward join answers
    * "what state was current". Same one-window shape as
    * [[joinAsofRange]], mirrored: a min over the FOLLOWING frame
    * (strictly after this row in the (ts, event_id) order, so a click
    * sharing the purchase's timestamp but sorted earlier never matches —
    * deterministic tie policy, replayed identically by the oracle).
    *
    * Scale: one shuffle on user_id, one ordered window pass, O(1) frame
    * state — no event×event range join at any volume.
    */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_click_us",
        min(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("p_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("p_us").as("purchase_us"),
        col("next_click_us"),
        expr("(next_click_us - p_us) div 1000000").as("wait_s"))
      .orderBy("event_id")
  }

  /** q_join_asof_tolerance — AS-OF JOIN WITH MAX-STALENESS TOLERANCE
    * (pandas merge_asof(tolerance=...) / kdb aj semantics): each purchase
    * attributes to its user's most recent click ONLY if that click is at
    * most 2 hours old; staler state is treated as no-match (the attribution
    * window every marketing/risk pipeline enforces — state older than the
    * tolerance is not "current" in any meaningful sense). Same single
    * running-max window shape as [[joinAsofRange]] — one shuffle on the
    * key, O(1) window state, no range self-join — with the tolerance
    * applied as a post-window null-out, all in exact integer micros.
    */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val tolUs = 2L * 3600L * 1000000L
    val e = t(s, d, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("p_us", unix_micros(col("ts")))
      .withColumn("matched", col("last_click_us").isNotNull &&
        col("p_us") - col("last_click_us") <= tolUs)
      .select(col("event_id"), col("user_id"), col("p_us").as("purchase_us"),
        when(col("matched"), col("last_click_us")).as("click_us"),
        when(col("matched"),
          expr("(p_us - last_click_us) div 1000000")).as("staleness_s"),
        col("matched"))
      .orderBy("event_id")
  }

  /** q_join_nullsafe — NULL-SAFE EQUALITY JOIN (`<=>` / ANSI IS NOT
    * DISTINCT FROM): joins where NULL keys match each other — the
    * semantics reconciliation and SCD pipelines need when "key unknown" is
    * itself a join class (a plain equi-join silently drops every NULL row
    * on both sides). Nulls are derived deterministically (custkey ≡ 0
    * mod 11 → NULL on both sides) so the oracle sees the same data; the
    * output groups by match class to keep it small.
    *
    * Scale: `<=>` hides a landmine — every NULL key lands in ONE hash
    * bucket, and the null×null block is a CARTESIAN PRODUCT by semantics
    * (9% nulls a side here ⇒ ~18.6M pairs through a single unsplittable
    * key at sf0.1; AQE skew-split cannot divide one key). Since the
    * query aggregates the block, the production rewrite applies: the
    * non-null side runs as a plain equi-join (NULL keys drop out of `=`
    * naturally), and the null block's aggregates are computed
    * ALGEBRAICALLY — per-segment null-customer counts × the null-order
    * (count, sum) — without materializing a single pair. Identical
    * result (the oracle still runs the naive IS NOT DISTINCT FROM join),
    * ~5× faster here, and no single-key straggler at any scale. When the
    * null block must be EMITTED row-wise rather than aggregated, the
    * answer is salting the null key — this rewrite is for the
    * aggregate-over-join shape.
    */
  def joinNullsafe(s: SparkSession, d: String): DataFrame = {
    val nullify = (c: Column) => when(c % 11 === 0, lit(null)).otherwise(c)
    val cust = t(s, d, "customer")
      .select(nullify(col("c_custkey")).as("ck"), col("c_mktsegment"))
    val ords = t(s, d, "orders")
      .select(nullify(col("o_custkey")).as("ok"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val nonNull = cust.where(col("ck").isNotNull)
      .join(ords.where(col("ok").isNotNull), col("ck") === col("ok"))
      .groupBy(lit(false).as("null_key"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cents")).as("sum_cents"))
    val custNull = cust.where(col("ck").isNull)
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("nc"))
    // the null-order side reduces to TWO scalars (count, sum) — an O(1)
    // control statistic fetched like a routing decision and compiled into
    // the null block's projection as literals, so the null block's plan
    // has no join node at all (a join against a 1-row aggregate would
    // constant-fold into the nested-loop class the spec forbids)
    val Array(ordNull) = ords.where(col("ok").isNull)
      .agg(count(lit(1)).as("no"),
        coalesce(sum(col("cents")), lit(0L)).as("sc")).collect()
    val (no, sc) = (ordNull.getLong(0), ordNull.getLong(1))
    val nullBlock = custNull
      .select(lit(true).as("null_key"), col("c_mktsegment"),
        (col("nc") * lit(no)).as("n_pairs"),
        (col("nc") * lit(sc)).as("sum_cents"))
      .where(lit(no) > 0)
    nonNull.unionAll(nullBlock)
      .orderBy("null_key", "c_mktsegment")
  }

  /** q_join_null_aware_anti — NOT IN over a NULLABLE subquery, the SQL
    * trap and the plan that saves it: `k NOT IN (S)` is three-valued —
    * one NULL in S makes EVERY row's membership UNKNOWN, so the result is
    * EMPTY, and most engines historically planned the general case as a
    * nested loop. Spark plans the single-column case as a null-aware
    * BroadcastHashJoin LeftAnti (the NAAJ flag PlanShapeSpec asserts) —
    * hash-join cost with exact ANSI semantics. The op emits both counts:
    * NOT IN against the raw nullable subquery (0 — the trap, oracle-pinned
    * against DuckDB's identical semantics) and against the null-filtered
    * subquery (the count people usually mean).
    */
  def joinNullAwareAnti(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("graft_naaj_customer")
    t(s, d, "orders").createOrReplaceTempView("graft_naaj_orders")
    s.sql(
      """WITH sub AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |                         ELSE o_custkey END AS k FROM graft_naaj_orders
        |            WHERE o_orderpriority = '1-URGENT')
        |SELECT
        |  (SELECT count(*) FROM graft_naaj_customer
        |   WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_with_nulls,
        |  (SELECT count(*) FROM graft_naaj_customer
        |   WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
        |    AS n_null_filtered,
        |  (SELECT count(*) FROM graft_naaj_customer) AS n_customers""".stripMargin)
  }

  // ---------------------------------------------------------- aggregations

  /** q_agg_hash — TPC-H Q1-shaped rollup: the daily balance report the
    * reference exists to produce (reference README.md:11), as a hash
    * aggregate with map-side partial aggregation.
    */
  def aggHash(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sumExact(col("l_extendedprice"), 2).as("sum_base_price"),
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"),
        avgExact(col("l_extendedprice"), 2).as("avg_price"),
        avgExact(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q_agg_distinct — exact distinct counts (oracle-checked). The HLL
    * approximate path is first-class in [[aggApproxDistinct]] (and also
    * exercised in RelationalSpec).
    */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q_agg_approx_distinct — the approximate-distinct surface
    * (`approx_count_distinct`, HLL++ rsd=2%): sketch values differ across
    * engines, so the hash-checked output carries the exact count plus an
    * error-bound BOOLEAN — HLL is deterministic for fixed data, and the
    * DuckDB oracle asserts the bound holds (`true` per group). At scale the
    * sketch is the point: it aggregates with constant memory per group and
    * map-side partials, where countDistinct must shuffle every distinct key.
    */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.1)
          .as("approx_within_10pct"))
      .orderBy("event_type")

  /** q_agg_sketch_merge — REAGGREGATABLE distinct-count sketches (Apache
    * DataSketches HLL, built into Spark 4): daily per-type sketches are the
    * precomputed artifact, merged per type WITHOUT rescanning the feed —
    * at 100 TB this is the difference between a daily incremental sketch
    * job plus a cheap union and a full-history re-scan for every rollup
    * window. `approx_count_distinct` (q_agg_approx_distinct) cannot do
    * this: its HLL++ buffer is not exposed as a storable/mergeable column.
    * lgK=14 gives ~0.8 % relative error; the oracle pins the exact counts
    * and asserts the merged estimate lands within a generous 5 % + 16
    * absolute bound (deterministic: the sketch hash is seed-fixed).
    */
  /** q_agg_cms_merge — REAGGREGATABLE FREQUENCY SKETCHES, the count-min
    * complement of [[aggSketchMerge]]'s HLL distinct-count rollup: per-day
    * CMS sketches over event user activity are persisted-shaped (one
    * binary column per day), merged WITHOUT rescanning raw data, and
    * probed for per-user frequencies. CMS guarantees est ≥ true and
    * est ≤ true + ε·N with probability ≥ δ — both bounds are emitted as
    * oracle-checked booleans against the exact counts (the estimate
    * itself is sketch-defined, like the HLL op's). Fixed seed → the
    * sketch, and therefore the booleans, are deterministic.
    *
    * Scale: day-grain sketches are KB each at ANY row count; CMS merge is
    * associative, so the fold runs ENGINE-SIDE — `Dataset.reduce` does a
    * per-partition partial merge and the driver only combines one sketch
    * per partition (≤ shuffle-partition count, never |days|), so any
    * date-range frequency question costs O(range) sketch reads instead of
    * an O(raw) rescan, and a years×keys sketch matrix folds without ever
    * landing on the driver. This is the pattern `approx_count_distinct`/
    * plain counts cannot express: their buffers are not storable columns.
    */
  def aggCmsMerge(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val eps = 0.001
    val ev = t(s, d, "events").select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("day")
      .agg(expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").as("cms"))
    val mergedBytes = daily.select("cms")
      .as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY)
      .reduce { (a, b) =>
        val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
        sa.mergeInPlace(
          CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b)))
        val bos = new java.io.ByteArrayOutputStream()
        sa.writeTo(bos)
        bos.toByteArray
      }
    val merged =
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(mergedBytes))
    val exact = ev.where(col("user_id") < 5)
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val n = merged.totalCount()
    import s.implicits._
    exact.toSeq.map { case (uid, nExact) =>
      val est = merged.estimateCount(java.lang.Long.valueOf(uid))
      (uid, nExact, est >= nExact, est <= nExact + (eps * n).toLong)
    }.toDF("user_id", "n_exact", "lower_bound_ok", "upper_bound_ok")
  }

  /** q_agg_hll_overlap — AUDIENCE OVERLAP from sketches: for every pair of
    * event types, the intersection of their user sets estimated by
    * inclusion-exclusion over HLL sketches (|A∩B| ≈ est(A) + est(B) −
    * est(A∪B)) — the cross-segment overlap question ("how many purchasers
    * also clicked?") answered WITHOUT a raw-data pass per pair. At 100 TB
    * the per-type sketches are tiny persisted columns; every pairwise
    * overlap is sketch arithmetic on the driver-side-sized sketch table,
    * while the exact formulation needs a (type,user)×(type,user) self-join
    * per pair. Exact counts (one distinct pass + one user-keyed pair join)
    * ride along as the oracle surface; the sketch estimates are asserted
    * within the compounded HLL error envelope (three estimates stack, so
    * the bound is on n_a + n_b, not n_int).
    */
  def aggHllOverlap(s: SparkSession, d: String): DataFrame = {
    val du = t(s, d, "events").select(col("event_type"), col("user_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = du.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        count(lit(1)).as("n_exact"))
    val pairsEst = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("n_exact").as("n_a"))
      .crossJoin(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("n_exact").as("n_b")))
      .where(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        expr("hll_sketch_estimate(sk_a)").as("est_a"),
        expr("hll_sketch_estimate(sk_b)").as("est_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("est_u"))
    val exactInt = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_int"))
    val out = pairsEst.join(exactInt, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        (col("n_a") + col("n_b") - col("n_int")).as("n_union"), col("n_int"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("n_int")) <=
          (col("n_a") + col("n_b")) * 0.05 + 32).as("overlap_est_ok"),
        (abs(col("est_u") - (col("n_a") + col("n_b") - col("n_int"))) <=
          (col("n_a") + col("n_b") - col("n_int")) * 0.05 + 16).as("union_est_ok"))
      .orderBy("type_a", "type_b")
    out
  }

  /** q_agg_approx_quantile — the CONSTANT-MEMORY QUANTILE PATH
    * (`approx_percentile`, Greenwald-Khanna style rank error ≤ 1/accuracy)
    * validated against its own contract: the approximate p50/p90 must land
    * between the EXACT percentiles at p ± 2·(1/accuracy) rank slack. This
    * is the unbounded-group scale path q_agg_percentile's scaladoc
    * promises — here it is exercised and bound-checked per group, the same
    * estimate-plus-exact-envelope pattern as the HLL/CMS rollups. The
    * oracle recomputes the exact envelope and expects the bound booleans
    * to hold (literal true), so a rank-contract violation fails the gate.
    */
  def aggApproxQuantile(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        r(expr("percentile(o_totalprice, 0.5)"), 4).as("p50_exact"),
        r(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_exact"),
        (expr("approx_percentile(o_totalprice, 0.5, 100)")
          .between(expr("percentile(o_totalprice, 0.48)"),
            expr("percentile(o_totalprice, 0.52)"))).as("p50_approx_ok"),
        (expr("approx_percentile(o_totalprice, 0.9, 100)")
          .between(expr("percentile(o_totalprice, 0.88)"),
            expr("percentile(o_totalprice, 0.92)"))).as("p90_approx_ok"))
      .orderBy("o_orderstatus")

  def aggSketchMerge(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    // level 1: the per-day sketch table (what a production job would persist)
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    hllMergeReadout(s, d, daily)
  }

  /** Union-merge + exact-envelope readout over ANY (event_type, sk)
    * partial frame — shared by the lake rollup above and the
    * streaming-maintained sketch
    * ([[graft.streaming.Streams.streamHllSketch]]), the same one-tail
    * discipline as the quantile and theta pairs. HLL union is
    * register-wise max — order-insensitive EXACTLY — so the streaming
    * transport's micro-batch merge order cannot perturb the estimate. */
  private[graft] def hllMergeReadout(s: SparkSession, d: String,
      daily: DataFrame): DataFrame = {
    // level 2: union daily sketches per type — no raw-data access
    val merged = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_est"))
    val exact = t(s, d, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")) <= col("n_exact") * 0.05 + 16)
          .as("merged_est_ok"))
      .orderBy("event_type")
  }

  /** q_agg_theta_sketch_diff — REAGGREGATABLE SET ALGEBRA over PERSISTED
    * theta sketches (Apache DataSketches Theta, built into Spark 4.1):
    * the missing third of the sketch-rollup family — [[aggSketchMerge]]
    * proves UNION (HLL), [[aggHllOverlap]] approximates INTERSECTION by
    * inclusion-exclusion, but set DIFFERENCE ("distinct users active in
    * window A and NOT in window B" — the churn question) needs theta's
    * first-class A-NOT-B operator; HLL cannot express it at all. The
    * daily job persists one theta sketch per (event_type, day) as a
    * day-partitioned parquet sketch table; the rollup
    * ([[thetaDiffMergeFrame]]) unions each half-window's dailies per
    * type (`theta_union_agg`) and applies `theta_difference` /
    * `theta_intersection` / `theta_union` WITHOUT rescanning raw rows —
    * RelationalSpec asserts the merge frame's inputFiles exclude the
    * raw events table (the quantile-sketch discipline). Exact counts
    * ride along as the oracle surface; the sketch estimates are asserted
    * within the theta error envelope as booleans (the [[aggHllOverlap]]
    * pattern — at fixture cardinality the sketches are in exact mode, so
    * the bound has wide slack; the fixed DataSketches seed makes the
    * booleans deterministic).
    *
    * Scale: day-grain sketches are KB at any row count; every
    * retention/churn window question costs O(window × types) sketch rows
    * merged per group instead of a raw-history self-join — and the
    * difference estimate is one sketch op, where the exact formulation
    * is a distinct-pass anti-join per (A, B) window pair.
    */
  def aggThetaSketchDiff(s: SparkSession, d: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = s"${sys.props("java.io.tmpdir")}/graft_out/q_agg_theta_sketch_diff"
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    // the daily sketch job: one theta sketch per (type, day), persisted
    // day-partitioned — rebuilt here as fixture setup; production appends
    // each day's partition once and never touches it again
    t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$root/daily")
    thetaAlgebra(s, d, thetaDiffMergeFrame(s, root))
  }

  /** The theta set-algebra READOUT over ANY per-window estimate frame
    * `(event_type, est_diff, est_int, est_union)` — shared by the lake
    * rollup above and the streaming-maintained sketch
    * ([[graft.streaming.Streams.streamThetaSketch]]), so
    * "streaming-maintained ≡ batch-built partials" is checked by the
    * SAME oracle SQL on both keys. The exact arm (one distinct pass per
    * window over raw events) is the oracle surface; estimates only ever
    * surface through the envelope booleans.
    */
  private[graft] def thetaAlgebra(s: SparkSession, d: String,
      est: DataFrame): DataFrame = {
    val du = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val ua = du.where(col("day") < lit(thetaWindowAEnd).cast("date"))
      .select(col("event_type"), col("user_id")).distinct()
    val ub = du.where(col("day") >= lit(thetaWindowBStart).cast("date"))
      .select(col("event_type"), col("user_id")).distinct()
    val nA = ua.groupBy("event_type").agg(count(lit(1)).as("n_a_exact"))
    val nB = ub.groupBy("event_type").agg(count(lit(1)).as("n_b_exact"))
    val nInt = ua.join(ub, Seq("event_type", "user_id"), "left_semi")
      .groupBy("event_type").agg(count(lit(1)).as("n_int_exact"))
    nA.join(nB, "event_type")
      .join(nInt, Seq("event_type"), "left")
      .select(col("event_type"), col("n_a_exact"), col("n_b_exact"),
        coalesce(col("n_int_exact"), lit(0L)).as("n_int_exact"))
      .withColumn("n_diff_exact", col("n_a_exact") - col("n_int_exact"))
      .join(est, "event_type")
      .select(col("event_type"), col("n_a_exact"), col("n_b_exact"),
        col("n_int_exact"), col("n_diff_exact"),
        (abs(col("est_diff") - col("n_diff_exact")) <=
          col("n_a_exact") * 0.05 + 16).as("diff_est_ok"),
        (abs(col("est_int") - col("n_int_exact")) <=
          (col("n_a_exact") + col("n_b_exact")) * 0.05 + 16).as("int_est_ok"),
        (abs(col("est_union") -
          (col("n_a_exact") + col("n_b_exact") - col("n_int_exact"))) <=
          (col("n_a_exact") + col("n_b_exact")) * 0.05 + 16).as("union_est_ok"))
      .orderBy("event_type")
  }

  /** The theta rollup's two DISJOINT windows — contract constants framing
    * the retention question ("week-1 cohort still active in the final
    * week?"): A = the feed's first week, B = its last nine days. Disjoint
    * (not adjacent-halves) windows keep the difference operator
    * non-vacuous on every tier — with overlapping 15-day halves the
    * fixture's small user universe appears in both and A∖B is empty. */
  private val thetaWindowAEnd = "2024-01-08"
  private val thetaWindowBStart = "2024-01-22"

  /** The merge-only set-algebra frame over the persisted theta sketch
    * table: each half-window's dailies union per type, then difference /
    * intersection / union estimates — reading ONLY the day-partitioned
    * partials (RelationalSpec asserts no raw-table file enters the
    * plan). */
  private[graft] def thetaDiffMergeFrame(s: SparkSession, root: String): DataFrame =
    thetaEstimates(s.read.parquet(s"$root/daily"))

  /** Window-union + set-operator estimates over ANY (day, event_type, sk)
    * partial frame. The B branch's join key is RENAMED (b_type) so the
    * two branches over the same source never share output attributes — a
    * memory-sink view source (the streaming caller) fails Catalyst's
    * self-join dedup with "conflicting references" otherwise (the
    * quantileRollup r17 lesson). */
  private[graft] def thetaEstimates(daily: DataFrame): DataFrame = {
    val a = daily.where(col("day") < lit(thetaWindowAEnd).cast("date"))
      .groupBy("event_type").agg(expr("theta_union_agg(sk, 12)").as("sk_a"))
    val b = daily.where(col("day") >= lit(thetaWindowBStart).cast("date"))
      .groupBy("event_type").agg(expr("theta_union_agg(sk, 12)").as("sk_b"))
      .select(col("event_type").as("b_type"), col("sk_b"))
    a.join(b, col("event_type") === col("b_type"))
      .select(col("event_type"),
        expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))").as("est_diff"),
        expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))").as("est_int"),
        expr("theta_sketch_estimate(theta_union(sk_a, sk_b))").as("est_union"))
  }

  /** q_agg_percentile — exact interpolated percentiles per group (both
    * engines implement the standard (n-1)·p linear interpolation; results
    * round through [[Det.r]] to absorb last-ulp libm differences). Exact
    * percentile sorts each group's values — fine for bounded groups like
    * these; an unbounded-cardinality group at 100 TB should switch to
    * `approx_percentile`, which aggregates with constant memory.
    */
  def aggPercentile(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        r(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        r(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        r(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** q_pivot_wide — pivot to a wide frame: yearly revenue per order status
    * column. The pivot values are DECLARED, not discovered — at scale an
    * undeclared pivot first runs a distinct scan over the full input to
    * find the columns; declaring them keeps the plan a single pass.
    */
  def pivotWide(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"), col("o_totalprice"))
      .groupBy("yr")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sumExact(col("o_totalprice"), 2))
      .select(col("yr"), col("F").as("rev_f"), col("O").as("rev_o"), col("P").as("rev_p"))
      .orderBy("yr")

  /** q_unpivot_long — the inverse reshape of [[pivotWide]]: wide revenue
    * columns melted back to (yr, status, revenue) rows via `Dataset.unpivot`
    * (null cells dropped, matching SQL UNPIVOT's default). Pure per-row
    * expansion — no shuffle beyond the pivot it consumes.
    */
  def unpivotLong(s: SparkSession, d: String): DataFrame =
    pivotWide(s, d)
      .unpivot(Array(col("yr")),
        Array(col("rev_f").as("F"), col("rev_o").as("O"), col("rev_p").as("P")),
        "o_orderstatus", "revenue")
      .where(col("revenue").isNotNull)
      .orderBy("yr", "o_orderstatus")

  /** Session-scoped bucketed-table setup: orders and customer written as
    * parquet tables bucketed by the join key (8 buckets). Bucketing is the
    * co-located-join strategy SCALING.md prescribes: both sides cluster
    * rows by `hash(key) % buckets` at WRITE time, so the join reads
    * bucket-aligned splits and needs no exchange at all — at 100 TB this
    * converts every repeated join on the key into a scan-local operation.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
    val (ot, ct) = (s"graft_orders_bkt_$tag", s"graft_customer_bkt_$tag")
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) {
      // EXTERNAL tables under a JVM-PRIVATE path (cleaned at exit): the
      // in-memory catalog dies with the session, so every JVM rebuilds
      // anyway — a private location means concurrent Verify/Bench/test JVMs
      // can never overwrite a bucketed dir another one is mid-read on,
      // and tmpdir does not accumulate table copies across runs
      val base = graft.Fixtures.tempDirCleanedAtExit("graft_bkt_")
      def write(src: DataFrame, name: String, key: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        src.write.mode("overwrite").format("parquet")
          .option("path", s"$base/$name")
          .bucketBy(8, key).sortBy(key).saveAsTable(name)
      }
      write(t(s, d, "orders"), ot, "o_custkey")
      write(t(s, d, "customer"), ct, "c_custkey")
    }
    (ot, ct)
  }

  /** q_join_bucketed — exchange-free equi-join over pre-bucketed tables
    * (PlanShapeSpec asserts the bucketed plan has NO shuffle on either join
    * side, broadcast disabled). Result is oracle-identical to the plain
    * join; the difference is purely physical.
    */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, ct) = bucketedTables(s, d)
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** q_join_skew_salted — the explicit skew-mitigation pattern: the big
    * (probe) side salts its key with a deterministic hash into `S` lanes,
    * the small (build) side replicates each row across all `S` salts, and
    * the join key becomes (key, salt) — a single hot key now spreads over
    * `S` shuffle partitions instead of one straggler task. Results are
    * provably identical to the unsalted join (each probe row meets exactly
    * one replica of its match). AQE's skewJoin handles moderate skew
    * automatically; explicit salting is the tool for the pathological keys
    * AQE's split granularity can't fix, so the engine ships it as a named
    * operator.
    */
  def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val salts = 8
    // project BEFORE salting: only the join key + aggregation inputs ride
    // the (key, salt) shuffle — the other 7 lineitem columns never leave
    // the scan (at 100 TB the shuffle is the cost; width is the lever)
    val probe = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)))
    val build = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
    probe.join(build,
        probe("l_orderkey") === build("o_orderkey") && probe("salt") === build("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q_join_bloom_pruned — SEMI-JOIN REDUCTION via an explicit Bloom
    * filter: a selective dimension-side predicate (urgent finalized orders,
    * ~6.6% of lineitem) is turned into a ~KB membership sketch that prunes
    * the 100 TB probe side AT THE SCAN, before any exchange. The filter is
    * built distributed (`stat.bloomFilter` runs a partial-aggregate per
    * partition and merges ~KB summaries on the driver — control-plane
    * state, the IVF-codebook precedent), then rides to executors as a plan
    * literal probed by the codegen'd [[graft.functions.BloomContainsExpr]].
    *
    * Why explicit when AQE has `runtime.bloomFilter`: the built-in rewrite
    * only fires past cost thresholds and can't see through every plan
    * shape; the named operator guarantees the reduction. Since Bloom
    * filters have no false negatives the final exact join keeps results
    * identical to the plain join — false positives only cost shuffle bytes
    * (fpp 1%) — so the DuckDB oracle is the plain join. PlanShapeSpec
    * asserts the probe predicate sits below the join's exchange.
    */
  def joinBloomPruned(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val build = t(s, d, "orders")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bf = build.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val pruned = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .where(call_function("graft_bloom_contains", col("l_orderkey"), lit(bos.toByteArray)))
    pruned.join(build.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("o_year")
  }

  /** q_window_ntile — the rank-fraction window family: decile bucketing,
    * percent_rank, cume_dist. All three are exact rationals of (rank, n)
    * with a deterministic tie-break order, so no rounding is needed.
    */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ntile(10).over(w).as("decile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  /** q_agg_stats — second-moment statistics per group: sample stddev /
    * variance, correlation, covariance. Both engines use numerically stable
    * one-pass moment updates whose low bits can differ with merge order, so
    * outputs round through [[Det.r]].
    */
  def aggStats(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        r(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        r(var_samp(col("l_quantity")), 4).as("var_qty"),
        r(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        r(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qty_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q_subquery — the subquery surface: an uncorrelated scalar subquery
    * (half the global max — exact arithmetic, no float-threshold ambiguity)
    * and a correlated EXISTS (plans as a semi join). Expressed through the
    * SQL front-end, which is where users write subqueries.
    */
  def subquery(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("graft_sq_orders")
    t(s, d, "lineitem").createOrReplaceTempView("graft_sq_lineitem")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_sq_orders o
        |WHERE o_totalprice > (SELECT 0.5 * max(o_totalprice) FROM graft_sq_orders)
        |AND EXISTS (SELECT 1 FROM graft_sq_lineitem l
        |            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q_sql_recursive — RECURSIVE CTE through the SQL front end (Spark 4's
    * `WITH RECURSIVE`, UNION ALL form): a date spine generated by the
    * recursion is left-joined against per-day activity so silent gap days
    * surface as explicit zero rows — the calendar-dimension idiom every
    * reporting stack needs (a bare GROUP BY day cannot SHOW a day with no
    * data; the reference's daily-cadence pipeline is precisely where a
    * missed landing must appear as a zero, not as absence). DuckDB runs
    * the same recursion, so the whole shape is hash-checked.
    *
    * Scale: the recursion materializes the SPINE (days — control-plane
    * cardinality), never data; each step is one tiny micro-plan and the
    * spine broadcast-joins the aggregated daily table.
    */
  /** q_sql_lateral — CORRELATED LATERAL SUBQUERY in the SQL front-end: each
    * customer's top-2 orders by price, written as `FROM customer, LATERAL
    * (... WHERE o_custkey = c.c_custkey ORDER BY ... LIMIT 2)` — the
    * per-row-subquery surface ANSI/DuckDB/Postgres users expect. Catalyst
    * decorrelates it into a ranked join (the same WindowGroupLimit shape as
    * `q_window_rank`/`q_topk_per_key`) rather than executing the subquery
    * per driving row — which is exactly why the construct survives a
    * 100 TB driving table. Deterministic: (price DESC, orderkey) total
    * order inside the lateral, (custkey, price DESC, orderkey) outside.
    */
  def sqlLateral(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("graft_lat_customer")
    t(s, d, "orders").createOrReplaceTempView("graft_lat_orders")
    s.sql(
      """SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
        |FROM graft_lat_customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_lat_orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey""".stripMargin)
  }

  def sqlRecursive(s: SparkSession, d: String): DataFrame = {
    t(s, d, "events").createOrReplaceTempView("graft_rec_events")
    s.sql(
      """WITH RECURSIVE spine(day) AS (
        |  SELECT DATE '2024-01-01'
        |  UNION ALL SELECT date_add(day, 1) FROM spine WHERE day < DATE '2024-01-30'
        |),
        |daily AS (SELECT to_date(ts) AS day, count(*) AS n,
        |                 count(DISTINCT user_id) AS nu
        |          FROM graft_rec_events GROUP BY 1)
        |SELECT date_format(s.day, 'yyyy-MM-dd') AS day,
        |       coalesce(d.n, 0) AS n_events, coalesce(d.nu, 0) AS n_users
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY day""".stripMargin)
  }

  /** q_agg_collect — array aggregation: per-order line numbers as a sorted
    * list and distinct return flags as a sorted set, serialized to strings
    * so the oracle comparator can hash them (same pattern as
    * q_scalar_array's signatures).
    */
  def aggCollect(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_orderkey") <= 400)
      .groupBy("l_orderkey")
      .agg(
        concat_ws(",", sort_array(collect_list(col("l_linenumber").cast("string"))))
          .as("linenos"),
        concat_ws(",", sort_array(collect_set(col("l_returnflag")))).as("flags"),
        count(lit(1)).as("n"))
      .orderBy("l_orderkey")

  /** q_sample_stratified — EXACT-QUOTA stratified sampling: each language
    * stratum contributes exactly ⌊pct·n_lang/100⌋ documents, chosen by a
    * deterministic pseudo-random order (md5 over a salted doc_id, doc_id
    * tiebreak — the `q_corpus_mix_temperature` discipline). This is the
    * survey-sampling dual of `q_sample_hash`'s Bernoulli membership: a
    * Bernoulli draw only hits the rate in expectation, while a curation
    * quota ("exactly 25% of each language") needs the rank formulation.
    * The quota test is pure integer arithmetic (rk·100 ≤ n·pct — no
    * floating rate anywhere), so membership is bit-stable across engines
    * and the DuckDB oracle replays the whole selection.
    *
    * Scale: `row_number` partitioned by lang is key-bound parallel; a
    * billion-doc stratum makes that partition the straggler (the
    * `q_corpus_domain_cap` caveat) — at extreme skew, pre-thin each
    * stratum with a `q_sample_hash`-style Bernoulli filter at a slightly
    * higher rate, then rank only the surviving sliver to take the exact
    * quota. The spec pins determinism and the exact per-stratum counts.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val ratesPct = Seq("en" -> 50, "de" -> 25, "es" -> 25, "fr" -> 25, "zh" -> 10)
    val pct = ratesPct.foldLeft(lit(0)) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    val ord = Window.partitionBy("lang")
      .orderBy(md5(concat(lit("graftstrat:"), col("doc_id").cast("string"))),
        col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), pct.as("pct"))
      .where(col("pct") > 0)
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy("lang")))
      .where(col("rk") * 100 <= col("n_lang") * col("pct"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars_sampled"))
      .orderBy("lang")
  }

  /** q_agg_rollup_cube — grouping sets via ROLLUP, expressed through the SQL
    * front-end (the DataFrame `rollup` API trips Spark's ambiguous-self-join
    * detection when the base is a join — SQL resolution does not). The
    * grouping bitmask (`grouping_id`/`GROUPING(a,b)`) is identical across
    * engines: first grouping column is the most-significant bit.
    */
  def aggRollupCube(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      .createOrReplaceTempView("graft_rollup_base")
    s.sql(
      s"""SELECT n_name, yr, ${sqlSumExact("o_totalprice", 2)} AS revenue,
         |count(*) AS n_orders, CAST(grouping_id() AS INT) AS gid
         |FROM graft_rollup_base GROUP BY ROLLUP (n_name, yr)
         |ORDER BY n_name ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin)
  }

  /** q_agg_cube — full CUBE over (o_orderpriority, yr): all four grouping
    * sets, distinguishing it from the hierarchical ROLLUP in
    * [[aggRollupCube]]. Same SQL-front-end route and grouping_id parity.
    */
  def aggCube(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders")
      .select(col("o_orderpriority"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice"))
      .createOrReplaceTempView("graft_cube_base")
    s.sql(
      s"""SELECT o_orderpriority, yr, ${sqlSumExact("o_totalprice", 2)} AS revenue,
         |count(*) AS n_orders, CAST(grouping_id() AS INT) AS gid
         |FROM graft_cube_base GROUP BY CUBE (o_orderpriority, yr)
         |ORDER BY o_orderpriority ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin)
  }

  /** q_scalar_dense_ids — DICTIONARY ENCODING: assign contiguous dense ids
    * 0..n−1 to the distinct user-id space, ordered by natural key — the
    * primitive that makes sparse 64-bit ids bitmap-friendly
    * ([[aggBitmapDistinct]]'s dense-id precondition) and shrinks join keys
    * corpus-wide. A naive `row_number() OVER (ORDER BY id)` funnels every
    * distinct id through ONE task; here ids shard by contiguous key range
    * (`id div 256` — range-contiguous, so per-shard order concatenates to
    * global order), a tiny per-shard count table yields exclusive base
    * offsets, and a per-shard local row_number finishes — the
    * [[LlmData.packSequences]] two-level layout applied to ranking.
    * Bit-identical to the naive global window at any shard size.
    */
  def scalarDenseIds(s: SparkSession, d: String): DataFrame = {
    val ids = t(s, d, "events").select(col("user_id")).distinct()
      .withColumn("shard", expr("user_id div 256"))
    val bases = ids.groupBy(col("shard")).agg(count(lit(1)).as("k"))
      .withColumn("base", coalesce(
        sum(col("k")).over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "base")
    ids
      .withColumn("lr", row_number().over(
        Window.partitionBy("shard").orderBy("user_id")).cast("long"))
      .join(broadcast(bases), "shard")
      .select(col("user_id"), (col("base") + col("lr") - 1).as("dense_id"))
      .orderBy("user_id")
  }

  /** q_join_asof_nearest — NEAREST-in-time as-of join, both directions:
    * each purchase matches the click minimizing |Δt| — backward OR forward
    * — with ties preferring the backward (causal) match. Completes the
    * as-of family: [[joinAsofRange]] is backward-only,
    * [[joinAsofTolerance]] backward-bounded. Two carries over the SAME
    * user-keyed ordered frame (running max of past click times, reverse
    * running min of future ones) — never an event×event product.
    *
    * Scale: one shuffle on user_id serves both window passes; carried
    * state is two longs per row. The signed gap is integer microseconds.
    */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
    val clickUs = when(col("event_type") === "click", unix_micros(col("ts")))
    val wB = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("back_us", max(clickUs).over(wB))
      .withColumn("fwd_us", min(clickUs).over(wF))
      .where(col("event_type") === "purchase")
      .withColumn("p_us", unix_micros(col("ts")))
      .withColumn("d_back", col("p_us") - col("back_us"))
      .withColumn("d_fwd", col("fwd_us") - col("p_us"))
      .withColumn("nearest_us",
        when(col("back_us").isNull, col("fwd_us"))
          .when(col("fwd_us").isNull, col("back_us"))
          .when(col("d_back") <= col("d_fwd"), col("back_us"))
          .otherwise(col("fwd_us")))
      .select(col("event_id"), col("user_id"), col("p_us").as("purchase_us"),
        col("nearest_us").as("click_us"),
        (col("nearest_us") - col("p_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** q_agg_bitmap_distinct — EXACT distinct counting via BITMAP MERGE, the
    * scale path `count(DISTINCT)` doesn't have: ids bucket into fixed
    * 32k-bit ranges (`bitmap_bucket_number`/`bitmap_bit_position`), each
    * (type, bucket) group folds to ONE bitmap via `bitmap_construct_agg`
    * (partial-aggregatable — bitmaps OR together associatively), and the
    * final count is a sum of per-bucket popcounts. Rows shuffled =
    * #distinct buckets, not #distinct ids: a 10⁹-user distinct count
    * moves ~30k bitmap rows per group instead of 10⁹ id rows, and unlike
    * [[aggApproxDistinct]]'s HLL it is EXACT — the DuckDB oracle's
    * `count(DISTINCT)` must match it to the row.
    */
  def aggBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    t(s, d, "events")
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
      .orderBy("event_type")
  }

  /** q_sql_grouping_sets — an ARBITRARY grouping-set list,
    * `((flag,status),(status),())` — non-hierarchical (it skips `(flag)`),
    * so neither ROLLUP nor CUBE can express it; this is the general form
    * the other two desugar into. Same single-scan expand-and-aggregate
    * plan and `grouping_id` bit parity as [[aggRollupCube]]; one partial
    * agg per grouping set, map-side combined, so the scan count stays 1
    * regardless of how many sets are listed.
    */
  def sqlGroupingSets(s: SparkSession, d: String): DataFrame = {
    t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .createOrReplaceTempView("graft_gs_base")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |CAST(${sqlSumExact("l_quantity", 2)} AS DOUBLE) AS sum_qty,
         |CAST(grouping_id() AS INT) AS gid
         |FROM graft_gs_base
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |                        (l_linestatus), ())
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  // -------------------------------------------------------------- sort/topk

  /** q_sort_limit — global order + limit. */
  def sortLimit(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)

  /** q_topk — top-k without a global sort: Spark plans TakeOrderedAndProject,
    * which keeps a bounded heap per partition (asserted in PlanShapeSpec).
    */
  def topk(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(50)

  /** q_topk_per_key — top-3 orders per customer through the engine's
    * custom whole-operator extension [[graft.plans.TopKPerKey]] (logical
    * node → strategy → bounded-heap SparkPlan): per-key heaps of size k
    * replace the window formulation's full per-partition sort, with a
    * map-side partial phase so the shuffle carries ≤ k rows per key per
    * partition. Same results as `row_number() <= 3` (the oracle checks
    * that); PlanShapeSpec asserts the two-phase heap plan with no Window
    * and no pre-shuffle Sort. The trailing orderBy exists only for the
    * deterministic oracle dump.
    */
  def topkPerKey(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey(
        t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
      .orderBy(asc("o_custkey"), desc("o_totalprice"), asc("o_orderkey"))

  /** q_join_rank — RANK JOIN (top-k join, Ilyas–Aref–Elmagarmid): the
    * global top-10 same-nation (customer, supplier) pairs by combined
    * account balance WITHOUT materializing the join. The pair score is
    * MONOTONE in both inputs, so a global top-10 pair must combine a
    * top-10 customer with a top-10 supplier OF ITS NATION — under the
    * strict (cents desc, key asc) total order the domination argument is
    * exact even through balance ties (ten lexicographically-greater
    * same-nation partners each yield a pair sorting strictly above). Each
    * side prunes to per-nation bounded heaps via the engine's custom
    * [[graft.plans.TopKPerKey]] operator, the join runs on
    * 10·|nations|-row prefixes, and the final cut is a TakeOrdered. The
    * oracle is the FULL join ORDER BY LIMIT — identical rows, the plan
    * difference is the point.
    *
    * Scale: the naive join is |C|·|S|/|nations| rows then a global sort;
    * the rank join touches 10·|nations| rows per side after two bounded-
    * heap passes that never sort whole partitions — the classic monotone-
    * score pruning that makes top-k joins feasible over fact×fact.
    */
  def joinRank(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val cust = t(s, d, "customer")
      .select(col("c_nationkey").cast("long").as("nk"), col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("c_cents"))
    val supp = t(s, d, "supplier")
      .select(col("s_nationkey").cast("long").as("nk"), col("s_suppkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("s_cents"))
    val topC = graft.plans.TopKPerKey(cust, Seq("nk"),
      Seq(("c_cents", true), ("c_custkey", false)), k)
    val topS = graft.plans.TopKPerKey(supp, Seq("nk"),
      Seq(("s_cents", true), ("s_suppkey", false)), k)
    topC.join(topS, "nk")
      .select(col("nk"), col("c_custkey"), col("s_suppkey"),
        col("c_cents"), col("s_cents"),
        (col("c_cents") + col("s_cents")).as("pair_cents"))
      .orderBy(desc("pair_cents"), asc("c_custkey"), asc("s_suppkey"))
      .limit(k)
  }

  // ---------------------------------------------------------------- set ops

  /** q_set_ops — union / intersect / except over yearly active-customer key
    * sets, tagged and stacked into one deterministic result.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    def activeIn(yr: Int) = t(s, d, "orders")
      .where(year(col("o_orderdate")) === yr)
      .select(col("o_custkey").as("ck"))
    val a = activeIn(1997)
    val b = activeIn(1998)
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionAll(a.intersect(b).withColumn("op", lit("intersect")))
      .unionAll(a.except(b).withColumn("op", lit("except")))
      .orderBy("op", "ck")
  }

  /** q_dedup_exact — exact deduplication: project to the dedup key space and
    * dropDuplicates (hash groupBy underneath; map-side combine keeps the
    * shuffle small at scale).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select("l_partkey", "l_returnflag")
      .dropDuplicates("l_partkey", "l_returnflag")
      .orderBy("l_partkey", "l_returnflag")

  // ---------------------------------------------------------------- windows

  /** q_window_rank — top-N per group; row_number over a unique-total order,
    * rank/dense_rank over the value alone (tie semantics shown).
    */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val byPrice = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val byValue = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(byPrice))
      .withColumn("rk", rank().over(byValue))
      .withColumn("drk", dense_rank().over(byValue))
      .where(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** q_window_first_last — the positional window kernel
    * (first/last/nth_value): each order annotated with its customer's
    * first order price, latest order price, and second-order price — the
    * "customer lifecycle" frame every churn/LTV rollup needs. The frame is
    * pinned to UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING explicitly:
    * last_value under the ANSI default frame (ending CURRENT ROW) silently
    * returns the current row, the classic window bug — and the ordering
    * carries the o_orderkey tiebreak so both engines see one total order.
    * One window spec → Catalyst plans a single sort+window pass per
    * partition; at scale this shuffles each customer's orders once,
    * identical cost to any other single-window query.
    */
  def windowFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "orders")
      .withColumn("first_price", first(col("o_totalprice")).over(w))
      .withColumn("last_price", last(col("o_totalprice")).over(w))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(w))
      .select("o_custkey", "o_orderkey", "o_totalprice",
        "first_price", "last_price", "second_price")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q_window_running — per-account running balance + lag: the statement
    * semantics of the reference's digital-accounts DAG
    * (script-dag-dock-statements.py:54). Addends are scaled to integers so
    * the running sum is exact on both engines.
    */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("running_bal",
        sum(round(col("o_totalprice") * 100, 0)).over(frame) / 100)
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q_window_range_frame — 7-day moving average per user over event time.
    * The range frame is anchored on integer epoch seconds on BOTH engines so
    * frame membership is identical (timestamps carry microseconds); the mean
    * is sumExact-based so it is order-independent.
    */
  def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val secs = col("ts").cast("long")
    val w = Window.partitionBy("user_id").orderBy(secs.asc)
      .rangeBetween(-7L * 86400, 0)
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("mavg_7d",
        sum(round(col("value") * 100, 0)).over(w) / 100 / count(lit(1)).over(w))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- layout

  /** One interleave step of the classic Morton bit-spread: doubles the gap
    * between the occupied bits. Five steps spread a 32-bit value across the
    * even bits of a long — pure integer shift/mask arithmetic, evaluated
    * bit-identically by Spark and DuckDB (the oracle runs the same five
    * steps as chained CTEs).
    */
  private val spreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  private def spreadBits(c: Column): Column =
    spreadSteps.foldLeft(c.cast("long")) { case (x, (sh, mask)) =>
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    }

  /** Morton (Z-order) interleave of two non-negative int columns. */
  def zvalue(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** q_layout_zorder — multi-dimensional DATA LAYOUT: orders are laid out on
    * a Z-order (Morton) curve over (o_custkey, order day), range-partitioned
    * and sorted by the interleaved key, written, and then probed with a 2-D
    * box predicate.
    *
    * Why this is a first-class operator at 100 TB: min/max file skipping
    * only prunes on the leading sort column, so a layout sorted by custkey
    * alone reads the FULL table for a date-range probe and vice versa. The
    * Z-curve makes file-level (x, y) min/max ranges simultaneously tight in
    * both dimensions, so a box probe prunes files in either or both —
    * LayoutSpec asserts the written files' zval ranges are disjoint and
    * that the box probe's row-group stats eliminate most files. The write
    * itself is one range exchange (sampled range partitioner) + local sort:
    * exactly the shuffle shape of a global ORDER BY, amortized over every
    * probe that follows.
    *
    * The oracle replays the identical shift/mask interleave in DuckDB CTEs
    * over the source table — layout must never change query results.
    */
  def layoutZorder(s: SparkSession, d: String): DataFrame = {
    val out = s"${sys.props("java.io.tmpdir")}/graft_out/q_layout_zorder"
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day"))
      .withColumn("zval", zvalue(col("o_custkey"), col("day")))
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .where(col("o_custkey") < 40 &&
        col("day") >= lit(9862) && col("day") < lit(10227)) // 1997-01-01..1998-01-01
      .select("o_orderkey", "o_custkey", "day", "zval")
      .orderBy("zval", "o_orderkey")
  }

  /** Hilbert resolution: 2¹⁷ cells per dimension — covers o_custkey and the
    * epoch-day domain at every fixture tier with headroom; hval < 3·4¹⁷
    * fits a long with 28 bits to spare. */
  private[graft] val hilbertBits = 17

  /** Appends `hval`, the HILBERT-CURVE index of integer columns (x, y) at
    * [[hilbertBits]] resolution: the classic per-level quadrant fold —
    * at each level s = 2^k the quadrant bits (rx, ry) contribute
    * s²·((3·rx) XOR ry) and the frame rotates/reflects (flip-then-swap
    * when ry = 0) so the next level continues the curve. Pure integer
    * shift/mask/CASE arithmetic evaluated bit-identically by Spark and
    * DuckDB (the oracle chains the same 17 steps as CTEs); two's-
    * complement `&` keeps the transiently negative reflected frames
    * identical in both engines. LayoutSpec pins bijectivity + unit-step
    * continuity of the same fold exhaustively at a small order.
    *
    * This COLUMN-FOLD form is the PARITY REFERENCE ([[graft.functions
    * .HilbertExpr]] is the shipping kernel): Catalyst's projection
    * collapse inlines the 17 mutually-referencing levels into one
    * multiplicatively-grown expression tree — measured 3.9 s isolated at
    * sf0.1, nearly all analysis/codegen — so the operator runs the native
    * loop expression instead; LayoutSpec asserts the two agree row-for-row.
    */
  private[graft] def hilbertVal(df: DataFrame, x: Column, y: Column): DataFrame = {
    var cur = df.withColumn("hx", x.cast("long"))
      .withColumn("hy", y.cast("long"))
      .withColumn("hval", lit(0L))
    ((hilbertBits - 1) to 0 by -1).foreach { lvl =>
      val sv = 1L << lvl
      cur = cur
        .withColumn("rx",
          when(col("hx").bitwiseAND(lit(sv)) =!= 0L, lit(1L)).otherwise(lit(0L)))
        .withColumn("ry",
          when(col("hy").bitwiseAND(lit(sv)) =!= 0L, lit(1L)).otherwise(lit(0L)))
        .withColumn("hval", col("hval") + lit(sv * sv) * expr("(3 * rx) ^ ry"))
        .withColumn("nx",
          when(col("ry") === 1L, col("hx"))
            .otherwise(when(col("rx") === 1L, lit(sv - 1) - col("hy"))
              .otherwise(col("hy"))))
        .withColumn("ny",
          when(col("ry") === 1L, col("hy"))
            .otherwise(when(col("rx") === 1L, lit(sv - 1) - col("hx"))
              .otherwise(col("hx"))))
        .withColumn("hx", col("nx"))
        .withColumn("hy", col("ny"))
    }
    cur.drop("hx", "hy", "rx", "ry", "nx", "ny")
  }

  /** The 17-step DuckDB CTE chain mirroring [[hilbertVal]]: `h17` seeds
    * (carry…, hx, hy, hval = 0) from `srcCte`; each `h{k}` consumes level
    * k's quadrant bits and rotates the frame; `h0` holds the final hval.
    * `carry` columns ride through unchanged. */
  private def hilbertSqlCtes(srcCte: String, carry: Seq[String]): String = {
    val carryCols = carry.mkString(", ")
    val seed = s"h$hilbertBits AS (SELECT $carryCols, hx, hy, " +
      s"CAST(0 AS BIGINT) AS hval FROM $srcCte)"
    val steps = ((hilbertBits - 1) to 0 by -1).map { lvl =>
      val sv = 1L << lvl
      s"h$lvl AS (SELECT $carryCols, " +
        s"CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN ${sv - 1} - hy ELSE hy END AS hx, " +
        s"CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN ${sv - 1} - hx ELSE hx END AS hy, " +
        s"hval + ${sv * sv} * xor(3 * rx, ry) AS hval " +
        s"FROM (SELECT *, CASE WHEN (hx & $sv) <> 0 THEN 1 ELSE 0 END AS rx, " +
        s"CASE WHEN (hy & $sv) <> 0 THEN 1 ELSE 0 END AS ry FROM h${lvl + 1}))"
    }
    (seed +: steps).mkString(", ")
  }

  /** q_layout_hilbert — HILBERT-CURVE DATA LAYOUT, [[layoutZorder]]'s
    * locality upgrade (the ordering behind Databricks liquid clustering's
    * clustering keys): orders are laid out along the Hilbert curve over
    * (o_custkey, order day), range-partitioned and sorted by the curve
    * index, written, then probed with the same 2-D box predicate as the
    * Z-order layout.
    *
    * Why a second curve is a first-class operator: the Z-curve's bit
    * interleave takes LONG DIAGONAL JUMPS at quadrant seams (…0111→1000
    * flips every bit), so a file of consecutive zvals can span a wide
    * (x, y) bounding box exactly where the seam lands; the Hilbert curve
    * moves ONE GRID STEP at a time (unit-step continuity, LayoutSpec-
    * pinned), so consecutive curve positions are always spatially
    * adjacent and per-file min/max boxes stay tight — the measured reason
    * lake formats moved their multi-dim clustering from Z-order to
    * Hilbert. Same write shape as the Z layout (one sampled range
    * exchange + local sort, amortized over every probe); the probe's
    * file-skipping economics are the [[layoutZorder]] doctrine with a
    * tighter box per file. The oracle replays the identical 17-level
    * integer fold in chained CTEs — layout must never change results.
    */
  def layoutHilbert(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val out = s"${sys.props("java.io.tmpdir")}/graft_out/q_layout_hilbert"
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day"))
      .withColumn("hval",
        expr(s"graft_hilbert(o_custkey, day, $hilbertBits)"))
      .repartitionByRange(16, col("hval"))
      .sortWithinPartitions("hval")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .where(col("o_custkey") < 40 &&
        col("day") >= lit(9862) && col("day") < lit(10227)) // 1997-01-01..1998-01-01
      .select("o_orderkey", "o_custkey", "day", "hval")
      .orderBy("hval", "o_orderkey")
  }

  /** q_scan_manifest_skip — MANIFEST-BASED FILE SKIPPING, the explicit-index
    * complement of [[layoutZorder]]'s implicit row-group stats: the table is
    * landed range-partitioned on the skip column (so each file owns a tight
    * date range), and a persisted MANIFEST (file → min/max o_orderdate +
    * rows) is computed in the same pass a lake format would. A probe first
    * consults the manifest — control-plane: one row per FILE, collected on
    * the driver like Iceberg's planning scan over manifests — and hands the
    * surviving file list to the reader, so non-overlapping files are never
    * listed, opened, or footer-read. At 100 TB with ~10^6 files this moves
    * pruning from "open every footer" (row-group stats) to "read a KB-scale
    * index", which is the entire reason table formats keep manifests. The
    * residual in-file predicate still applies (file grain is coarser than
    * row grain), so results are identical to the full scan + filter — which
    * is exactly the DuckDB oracle. LayoutSpec asserts the probe reads a
    * strict subset of the files.
    */
  def scanManifestSkip(s: SparkSession, d: String): DataFrame =
    scanManifestSkipImpl(s, d)._1

  /** Bloom-index bit addresses (3 hashes × 4 md5 hex digits → a
    * 65,536-bit filter per file) — the `q_dedup_bloom` geometry at FILE
    * grain, the instr-table form both engines and the driver replay
    * identically. */
  private def bloomIdxPos(j: Int): String = {
    def digit(i: Int) =
      s"(instr('0123456789abcdef', substr(h, ${4 * j + i}, 1)) - 1)"
    s"(${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)})"
  }

  /** q_scan_bloom_skip — PER-FILE BLOOM INDEX for point lookups (the
    * Delta `bloomFilterIndex` / Iceberg bloom feature): the table lands
    * range-partitioned by DATE (serving the date-pruning workload), so
    * per-file min/max on the CUSTOMER key prunes nothing — every file's
    * key range spans the domain. The landing pass (a STAGED artifact,
    * [[bloomIdxRoot]] — commit-time work, built once per fixture
    * generation, never charged to a lookup) persists a per-file
    * bloom of the key column instead; a point lookup reads the KB-scale
    * index, keeps only files whose bloom contains all 3 probe bits, and
    * scans just those. No false negatives ⇒ the result EQUALS the full
    * scan (the `q_join_bloom_pruned` doctrine: the oracle is the plain
    * query); LayoutSpec asserts a strict file subset was read.
    *
    * Scale: the index is bits-per-distinct-key per file (~KB/file),
    * planned driver-side like every manifest read (the
    * `q_scan_manifest_skip` 10⁶-file argument applies unchanged — shard
    * the index file beside the manifest); the set-bit RELATION stands in
    * for the bitmap bytes so the construction stays oracle-replayable.
    */
  def scanBloomSkip(s: SparkSession, d: String): DataFrame =
    scanBloomSkipImpl(s, d)._1

  /** The bloom-indexed table as a STAGED ARTIFACT (`table/` +
    * `bloomidx/` under one fingerprint-tagged dir, built once per
    * fixture generation — the `nswAdjPath` pattern): the landing pass is
    * commit-time work in a lake format, so the probe must not pay it per
    * invocation. Index rows store file BASENAMES, not absolute paths —
    * the staging dir is atomically renamed on publish, so an absolute
    * `input_file_name()` would dangle; the probe resolves basenames
    * against the published `table/`. */
  private[graft] def bloomIdxRoot(s: SparkSession, d: String): String =
    graft.Fixtures.ensureDerived("graft_bloomidx", d, "orders") {
      staging =>
        t(s, d, "orders")
          .repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.parquet(s"$staging/table")
        val posArr = array((0 to 2).map(j => expr(bloomIdxPos(j))): _*)
        s.read.parquet(s"$staging/table")
          .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"),
            expr("md5(CAST(o_custkey AS STRING))").as("h"))
          .select(col("file"), explode(posArr).as("bit")).distinct()
          .coalesce(1).write.parquet(s"$staging/bloomidx")
    }.toString

  /** Implementation returning (result, filesRead, filesTotal) so LayoutSpec
    * can assert real file-level pruning happened. */
  private[graft] def scanBloomSkipImpl(
      s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val root = bloomIdxRoot(s, d)
    // the probed key: minimum customer, from an id-only scan
    val probeKey = t(s, d, "orders")
      .agg(min("o_custkey")).collect()(0).getLong(0)
    // driver-side probe bit addresses — same md5-positional scheme
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(probeKey.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val probeBits = (0 to 2)
      .map(j => Integer.parseInt(hex.substring(4 * j, 4 * j + 4), 16))
    val need = probeBits.distinct.length
    val idx = s.read.parquet(s"$root/bloomidx")
    val total = idx.select("file").distinct().count().toInt
    val hits = idx.where(col("bit").isin(probeBits.distinct: _*))
      .groupBy("file").agg(countDistinct(col("bit")).as("nb"))
      .where(col("nb") === need)
      .select("file").collect().map(r => s"$root/table/${r.getString(0)}")
    val source =
      if (hits.isEmpty) s.read.parquet(s"$root/table").where(lit(false))
      else s.read.parquet(hits.toIndexedSeq: _*)
    val res = source.where(col("o_custkey") === probeKey)
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("revenue_cents"))
      .select(lit(probeKey).as("o_custkey"), col("n_orders"),
        col("revenue_cents"))
    (res, hits.length, total)
  }

  /** Implementation returning (result, filesRead, filesTotal) so LayoutSpec
    * can assert real file-level pruning happened.
    */
  private[graft] def scanManifestSkipImpl(
      s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_out/q_scan_manifest_skip"
    t(s, d, "orders")
      .repartitionByRange(16, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(s"$root/table")
    // the manifest a lake format would persist at commit time: per-file
    // min/max of the skip column (+ row count for planning)
    s.read.parquet(s"$root/table")
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"),
        count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$root/manifest")
    val manifest = s.read.parquet(s"$root/manifest")
    val (probeLo, probeHi) = ("1997-01-01", "1998-01-01")
    // ONE planning collect (file grain — the bounded control plane every
    // lake format's driver-side planner reads; see docs/SCALING.md for
    // the 10^6-file argument and the two-level escalation path): each
    // manifest row carries its overlap verdict, so survivors and the
    // total come from the same pass instead of a second count() job
    // coalesce: a file with null lo/hi bounds (possible when a writer
    // stats-skips a column) must degrade to non-matching, not NPE in
    // the getBoolean below
    val flagged = manifest.select(col("file"),
      coalesce(col("hi") >= lit(probeLo).cast("timestamp") &&
        col("lo") < lit(probeHi).cast("timestamp"), lit(false)).as("live"))
      .collect()
    val survivors = flagged.filter(_.getBoolean(1)).map(_.getString(0))
    val total = flagged.length
    // a no-overlap probe prunes EVERY file; varargs-empty read would throw
    // "Unable to infer schema", so fall back to the full table under an
    // always-false filter — same (empty) result, schema preserved
    val source =
      if (survivors.isEmpty) s.read.parquet(s"$root/table").where(lit(false))
      else s.read.parquet(survivors: _*)
    val probed = source
      .where(col("o_orderdate") >= lit(probeLo).cast("timestamp") &&
        col("o_orderdate") < lit(probeHi).cast("timestamp"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice"), 2).as("revenue"))
      .orderBy("month")
    (probed, survivors.length, total)
  }

  // ------------------------------------------------------ mergeable hist

  /** q_agg_histogram_merge — REAGGREGATABLE QUANTILES via fixed-bin
    * histogram sketches: per-day (event_type, bin) counts are the persisted
    * artifact; coarser rollups merge histograms by pure count addition —
    * never rescanning raw data — and read any quantile off the merged
    * cumulative histogram. The distribution-valued complement of
    * [[aggSketchMerge]]'s HLL rollup: `percentile` cannot reaggregate (it
    * buffers raw values), `approx_percentile` cannot persist its buffer as
    * a column. Binning is floor(value / 10) — deterministic IEEE division
    * + floor, so unlike KLL/t-digest the sketch is exactly reproducible on
    * both engines and the whole rollup is hash-checked, with bin-width
    * resolution as the only (declared, fixed) approximation.
    */
  def aggHistogramMerge(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10.0d).cast("long").as("bin"))
    // level 1: the per-day histogram table a production job would persist
    val daily = ev.groupBy("event_type", "day", "bin")
      .agg(count(lit(1)).as("cnt"))
    // level 2: merge per type — count addition only, no raw-data access
    val merged = daily.groupBy("event_type", "bin")
      .agg(sum(col("cnt")).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(tot))
    // quantile q = lower bound of the first bin whose cumulative count
    // reaches q·n — the integer cross-multiplied compare (cum·100 ≥ n·q100)
    // avoids any float threshold, so both engines pick the same bin
    cum.groupBy("event_type")
      .agg(
        min(when(col("cum") * 100L >= col("n") * 50L, col("bin") * 10)).as("p50_lo"),
        min(when(col("cum") * 100L >= col("n") * 90L, col("bin") * 10)).as("p90_lo"),
        min(when(col("cum") * 100L >= col("n") * 99L, col("bin") * 10)).as("p99_lo"),
        max(col("n")).as("n"))
      .orderBy("event_type")
  }

  /** q_agg_quantile_sketch_merge — PERSISTED reaggregatable quantile
    * partials (r16 verdict's top ask): the per-day fixed-bin histograms
    * land as a day-PARTITIONED parquet sketch table — the artifact a
    * production pipeline appends once per day — and any date-range
    * percentile rollup merges the persisted partials by count addition,
    * NEVER rescanning raw rows ([[quantileSketchMergeFrame]]'s inputFiles
    * are spec-asserted to exclude the raw table, the mv_refresh
    * discipline). [[aggHistogramMerge]] proves the merge algebra in-plan;
    * this key adds the lifecycle that makes it the 100 TB pattern: the
    * raw feed is scanned once per day at day grain, every later quantile
    * question costs O(days × types × bins) sketch rows, and the
    * day-partition layout prunes the merge scan to exactly the queried
    * window's directories. Fixed-bin integer histograms (floor(value/5))
    * keep the whole rollup exactly replayable in DuckDB — p50/p90/p99
    * lower bounds come off the merged cumulative histogram with the
    * integer cross-multiplied threshold (no float compare), bin-width
    * resolution the only (declared, fixed) approximation.
    */
  def aggQuantileSketchMerge(s: SparkSession, d: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = s"${sys.props("java.io.tmpdir")}/graft_out/q_agg_quantile_sketch_merge"
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    // the daily sketch job: one fixed-bin histogram per (type, day),
    // persisted day-partitioned — rebuilt here as fixture setup; in
    // production each day's partition is written once and never touched
    t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 5.0d).cast("long").as("bin"))
      .groupBy("event_type", "day", "bin")
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$root/daily")
    quantileSketchMergeFrame(s, root)
  }

  /** The merge-only rollup frame over the persisted sketch table: a
    * two-week window's p50/p90/p99 per event type, reading ONLY the
    * day-partitioned partials (partition pruning keeps the scan to the
    * queried window; RelationalSpec asserts no raw-table file enters
    * the plan). Quantiles read off the merged cumulative histogram with
    * the integer cross-multiplied threshold — both engines pick the
    * same bin.
    */
  private[graft] def quantileSketchMergeFrame(s: SparkSession, root: String): DataFrame =
    quantileRollup(s.read.parquet(s"$root/daily"))

  /** Merge + quantile read over ANY (day, event_type, bin, cnt) partial
    * frame — shared by the lake rollup above and the streaming-maintained
    * sketch ([[graft.streaming.Streams.streamQuantileSketch]]), so
    * "streaming-maintained ≡ batch-built partials" is checked by the SAME
    * oracle SQL on both keys.
    */
  private[graft] def quantileRollup(daily0: DataFrame): DataFrame = {
    val daily = daily0
      .where(col("day") >= lit("2024-01-08").cast("date") &&
        col("day") < lit("2024-01-22").cast("date"))
    val merged = daily.groupBy("event_type", "bin")
      .agg(sum(col("cnt")).as("cnt"))
    // sketch-coverage audit: how many day-partials contributed per type.
    // The join key is RENAMED (nd_type) so the rollup's two branches over
    // the same source never share output attributes — a memory-sink view
    // source (the streaming caller) fails Catalyst's self-join dedup with
    // "conflicting references" otherwise (r17).
    val nd = daily.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"))
      .select(col("event_type").as("nd_type"), col("n_days"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(tot))
    cum.groupBy("event_type")
      .agg(
        min(when(col("cum") * 100L >= col("n") * 50L, col("bin") * 5)).as("p50_lo"),
        min(when(col("cum") * 100L >= col("n") * 90L, col("bin") * 5)).as("p90_lo"),
        min(when(col("cum") * 100L >= col("n") * 99L, col("bin") * 5)).as("p99_lo"),
        max(col("n")).as("n"))
      .join(broadcast(nd), col("event_type") === col("nd_type"))
      .select(col("event_type"), col("n"), col("n_days"),
        col("p50_lo"), col("p90_lo"), col("p99_lo"))
      .orderBy("event_type")
  }

  /** q_agg_incremental — EXACT INCREMENTAL ROLLUP MAINTENANCE, the additive
    * complement of [[aggSketchMerge]] (approx-distinct) and
    * [[aggHistogramMerge]] (quantiles): a persisted per-(type, day)
    * partial-aggregate table (count, integer-cent sum, min, max — all
    * mergeable) absorbs a new day's delta by pure partial-merge, and the
    * final per-type totals equal a full recompute over raw data — which is
    * exactly the DuckDB oracle, so "incremental ≡ full" is hash-checked.
    *
    * At 100 TB this is THE daily-rollup pattern: yesterday's raw events
    * are never rescanned — the merge reads |types|·|days| partial rows plus
    * one day of raw delta. Integer-cent sums make the merge exact in any
    * combine order; avg is derived post-merge (sum/n), never averaged
    * across partials.
    */
  def aggIncremental(s: SparkSession, d: String): DataFrame = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_out/q_agg_incremental"
    val cutoff = "2024-01-25"
    val ev = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    def partials(df: DataFrame): DataFrame = df
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0)).as("sum_cents"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    // the persisted rollup state as of the cutoff
    partials(ev.where(col("day") < lit(cutoff).cast("date")))
      .write.mode("overwrite").parquet(s"$root/daily")
    // merge: stored partials + fresh-delta partials, no raw-history rescan
    s.read.parquet(s"$root/daily")
      .unionByName(partials(ev.where(col("day") >= lit(cutoff).cast("date"))))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        (sum(col("sum_cents")) / 100).as("sum_value"),
        min(col("mn")).as("min_value"), max(col("mx")).as("max_value"))
      .withColumn("avg_value", r(col("sum_value") / col("n"), 4))
      .orderBy("event_type")
  }

  /** q_funnel_steps — ORDERED-EVENT FUNNEL (the windowFunnel analytic):
    * how many users progress view → click → purchase, each step the FIRST
    * qualifying event at-or-after the previous step's time and within 7
    * days of it. Produces one row per step with reach and conversion-
    * from-previous, the product-analytics staple.
    *
    * Scale shape: each step is a per-user min-aggregate (map-side
    * partials) followed by a user-keyed join of user-cardinality tables —
    * never an event×event product; the event table is scanned once per
    * step with the type filter pushed to the scan. Conversions are exact
    * integer ratios rounded via [[Det]].
    */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("user_id"), col("event_type"), col("ts"))
    val winSec = 7L * 86400
    val step1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val step2 = ev.where(col("event_type") === "click")
      .join(step1, "user_id")
      .where(col("ts") >= col("t1") &&
        col("ts") <= col("t1") + expr(s"INTERVAL $winSec SECONDS"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val step3 = ev.where(col("event_type") === "purchase")
      .join(step2, "user_id")
      .where(col("ts") >= col("t2") &&
        col("ts") <= col("t2") + expr(s"INTERVAL $winSec SECONDS"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    val counts = step1.agg(count(lit(1)).as("n")).withColumn("step", lit(1))
      .unionByName(step2.agg(count(lit(1)).as("n")).withColumn("step", lit(2)))
      .unionByName(step3.agg(count(lit(1)).as("n")).withColumn("step", lit(3)))
    val w = Window.orderBy("step") // 3 rows — driver-trivial window
    counts
      .withColumn("conv_from_prev",
        r(col("n") * lit(1.0) / coalesce(lag(col("n"), 1).over(w), col("n")), 4))
      .select("step", "n", "conv_from_prev")
      .orderBy("step")
  }

  /** q_analyze_stats — ANALYZE TABLE re-expressed: per-column row count,
    * null count, exact NDV, and min/max over lineitem in ONE scan — the
    * statistics that feed cost-based optimization (join reorder, broadcast
    * decisions) and data-quality monitors. Numeric and text columns carry
    * their extrema in typed columns (doubles stay doubles — no
    * double→string formatting, which the engines do differently; the date
    * column is pinned through an explicit `yyyy-MM-dd` format).
    *
    * Scale: the multi-distinct aggregate plans as one scan + Expand (rows
    * × #distinct-aggs before partial aggregation) — exact NDV is the
    * oracle-checkable choice here; at 100 TB swap `countDistinct` for
    * `approx_count_distinct`/HLL sketches (`q_agg_sketch_merge` is the
    * persisted form) and the plan loses the Expand entirely.
    */
  def analyzeStats(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def statsStruct(c: String, mn: Column, mx: Column,
        mnT: Column, mxT: Column) = struct(
      lit(c).as("col_name"), col(s"ndv_$c").as("ndv"), col(s"nn_$c").as("n_nulls"),
      mn.as("min_num"), mx.as("max_num"), mnT.as("min_txt"), mxT.as("max_txt"))
    val aggs =
      numCols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))) ++
      Seq("l_returnflag").flatMap(c => Seq(
        countDistinct(col(c)).as(s"ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))) ++
      Seq(
        countDistinct(col("l_shipdate")).as("ndv_l_shipdate"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nn_l_shipdate"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("mn_l_shipdate"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("mx_l_shipdate"))
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), explode(array(
        numCols.map(c =>
          statsStruct(c, col(s"mn_$c"), col(s"mx_$c"), nullS, nullS)) ++
        Seq(
          statsStruct("l_returnflag", nullD, nullD,
            col("mn_l_returnflag"), col("mx_l_returnflag")),
          statsStruct("l_shipdate", nullD, nullD,
            col("mn_l_shipdate"), col("mx_l_shipdate"))): _*)).as("st"))
      .select(col("st.col_name"), col("n_rows"), col("st.ndv"), col("st.n_nulls"),
        col("st.min_num"), col("st.max_num"), col("st.min_txt"), col("st.max_txt"))
      .orderBy("col_name")
  }

  // -------------------------------------------------------- heavy hitters

  /** q_agg_heavy_hitters — EXACT top-k frequent items (the top-20 most
    * active users) computed the way that survives 100 TB: a per-partition
    * Misra–Gries(m) pass emits at most m candidate ids per partition, the
    * merged candidate set is broadcast back for an exact recount, and the
    * MG frequency guarantee turns the sketch into a PROOF of exactness —
    * any id absent from every partition summary has global count
    * ≤ N/(m+1), so when the k-th recounted candidate strictly exceeds
    * N/(m+1), no non-candidate can reach (or tie into) the top k. The
    * operator CHECKS that bound on the recount (a k-row collect —
    * control-plane, not data) and falls back to the full groupBy only if
    * the distribution is too flat to certify, so the output is exact top-k
    * either way and the DuckDB oracle is a plain GROUP BY / ORDER BY /
    * LIMIT. m = 2048 certifies all fixture SFs; the point at scale: the
    * shuffle carries ≤ m·partitions candidate rows instead of every
    * distinct key (a full distinct-key shuffle of user ids at 100 TB is
    * the single biggest exchange this query would otherwise have).
    */
  def aggHeavyHitters(s: SparkSession, d: String): DataFrame =
    heavyHittersImpl(s, d)._1

  /** Implementation returning (result, certified) so RelationalSpec can
    * assert the fixture distribution is certified by the sketch path (the
    * fallback exists for flat distributions, but must not be what the
    * fixtures exercise).
    */
  private[graft] def heavyHittersImpl(s: SparkSession, d: String): (DataFrame, Boolean) = {
    import s.implicits._
    val k = 20
    val m = 2048
    val ev = t(s, d, "events").select(col("user_id"))
    val cands = ev.as[Long].mapPartitions { it =>
      val counts = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { u =>
        if (counts.contains(u)) counts(u) += 1L
        else if (counts.size < m) counts(u) = 1L
        else {
          // decrement-all step: every live counter pays one; zeros drop out
          val kept = scala.collection.mutable.LongMap.empty[Long]
          counts.foreach { case (key, c) => if (c > 1L) kept(key) = c - 1L }
          counts.clear()
          kept.foreach { case (key, c) => counts(key) = c }
        }
      }
      counts.keysIterator
    }.toDF("user_id").distinct()
    val total = ev.count()
    val recount = ev.join(broadcast(cands), "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val top = recount.orderBy(col("n").desc, col("user_id")).limit(k).collect()
    val kthN = if (top.length == k) top.last.getAs[Long]("n") else 0L
    val certified =
      kthN * (m + 1L) > total || (top.length < k && (m + 1L) > total)
    val exact =
      if (certified) recount
      else ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    (exact.orderBy(col("n").desc, col("user_id")).limit(k), certified)
  }

  // ------------------------------------------------------------- contract

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scalar_dense_ids" -> scalarDenseIds _,
    "q_join_asof_nearest" -> joinAsofNearest _,
    "q_agg_bitmap_distinct" -> aggBitmapDistinct _,
    "q_sql_grouping_sets" -> sqlGroupingSets _,
    "q_scan_parquet" -> scanParquet _,
    "q_scan_pruned" -> scanPruned _,
    "q_scan_observed" -> scanObserved _,
    "q_sink_partitioned" -> sinkPartitioned _,
    "q_filter_predicate" -> filterPredicate _,
    "q_project_expr" -> projectExpr _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_join_shuffle" -> joinShuffle _,
    "q_join_multiway" -> joinMultiway _,
    "q_join_semi_anti" -> joinSemiAnti _,
    "q_join_outer" -> joinOuter _,
    "q_join_asof_range" -> joinAsofRange _,
    "q_join_asof_tolerance" -> joinAsofTolerance _,
    "q_join_asof_forward" -> joinAsofForward _,
    "q_join_nullsafe" -> joinNullsafe _,
    "q_join_null_aware_anti" -> joinNullAwareAnti _,
    "q_agg_cms_merge" -> aggCmsMerge _,
    "q_agg_hash" -> aggHash _,
    "q_agg_distinct" -> aggDistinct _,
    "q_agg_approx_distinct" -> aggApproxDistinct _,
    "q_agg_sketch_merge" -> aggSketchMerge _,
    "q_agg_hll_overlap" -> aggHllOverlap _,
    "q_agg_theta_sketch_diff" -> aggThetaSketchDiff _,
    "q_agg_approx_quantile" -> aggApproxQuantile _,
    "q_agg_histogram_merge" -> aggHistogramMerge _,
    "q_agg_quantile_sketch_merge" -> aggQuantileSketchMerge _,
    "q_agg_incremental" -> aggIncremental _,
    "q_funnel_steps" -> funnelSteps _,
    "q_analyze_stats" -> analyzeStats _,
    "q_sql_recursive" -> sqlRecursive _,
    "q_sql_lateral" -> sqlLateral _,
    "q_agg_heavy_hitters" -> aggHeavyHitters _,
    "q_layout_zorder" -> layoutZorder _,
    "q_layout_hilbert" -> layoutHilbert _,
    "q_scan_manifest_skip" -> scanManifestSkip _,
    "q_scan_bloom_skip" -> scanBloomSkip _,
    "q_agg_percentile" -> aggPercentile _,
    "q_pivot_wide" -> pivotWide _,
    "q_unpivot_long" -> unpivotLong _,
    "q_join_bucketed" -> joinBucketed _,
    "q_join_skew_salted" -> joinSkewSalted _,
    "q_join_bloom_pruned" -> joinBloomPruned _,
    "q_window_ntile" -> windowNtile _,
    "q_sample_stratified" -> sampleStratified _,
    "q_agg_stats" -> aggStats _,
    "q_subquery" -> subquery _,
    "q_agg_collect" -> aggCollect _,
    "q_agg_rollup_cube" -> aggRollupCube _,
    "q_agg_cube" -> aggCube _,
    "q_sort_limit" -> sortLimit _,
    "q_topk" -> topk _,
    "q_topk_per_key" -> topkPerKey _,
    "q_join_rank" -> joinRank _,
    "q_set_ops" -> setOps _,
    "q_dedup_exact" -> dedupExact _,
    "q_window_rank" -> windowRank _,
    "q_window_first_last" -> windowFirstLast _,
    "q_window_running" -> windowRunning _,
    "q_window_range_frame" -> windowRangeFrame _)

  val oracle: Map[String, String] = Map(
    "q_sample_stratified" ->
      // replays the exact-quota selection: same salted-md5 order, same
      // doc_id tiebreak, same integer quota test rk*100 <= n*pct
      ("WITH r AS (SELECT lang, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY " +
        "md5('graftstrat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk, " +
        "count(*) OVER (PARTITION BY lang) AS n_lang, " +
        "CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 WHEN 'es' THEN 25 " +
        "WHEN 'fr' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END AS pct " +
        "FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled, " +
        "CAST(sum(n_chars) AS BIGINT) AS chars_sampled " +
        "FROM r WHERE pct > 0 AND rk * 100 <= n_lang * pct " +
        "GROUP BY lang ORDER BY lang"),
    "q_scalar_dense_ids" ->
      ("SELECT user_id, CAST(row_number() OVER (ORDER BY user_id) - 1 " +
        "AS BIGINT) AS dense_id " +
        "FROM (SELECT DISTINCT user_id FROM events) ORDER BY user_id"),
    "q_join_asof_nearest" ->
      ("WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) " +
        "AS us FROM events), " +
        "m AS (SELECT event_id, user_id, event_type, us, " +
        "max(CASE WHEN event_type = 'click' THEN us END) " +
        "OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us, " +
        "min(CASE WHEN event_type = 'click' THEN us END) " +
        "OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us " +
        "FROM ev) " +
        "SELECT event_id, user_id, us AS purchase_us, " +
        "CASE WHEN back_us IS NULL THEN fwd_us " +
        "WHEN fwd_us IS NULL THEN back_us " +
        "WHEN us - back_us <= fwd_us - us THEN back_us " +
        "ELSE fwd_us END AS click_us, " +
        "(CASE WHEN back_us IS NULL THEN fwd_us " +
        "WHEN fwd_us IS NULL THEN back_us " +
        "WHEN us - back_us <= fwd_us - us THEN back_us " +
        "ELSE fwd_us END) - us AS gap_us " +
        "FROM m WHERE event_type = 'purchase' ORDER BY event_id"),
    "q_agg_bitmap_distinct" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) " +
        "AS n_distinct FROM events GROUP BY event_type ORDER BY event_type"),
    "q_sql_grouping_sets" ->
      (s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        s"CAST(${sqlSumExact("l_quantity", 2)} AS DOUBLE) AS sum_qty, " +
        "CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), " +
        "(l_linestatus), ()) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "q_scan_parquet" ->
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part ORDER BY p_partkey",
    "q_scan_pruned" ->
      ("SELECT l_orderkey, l_extendedprice FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '2000-01-01' ORDER BY l_orderkey, l_extendedprice"),
    "q_scan_observed" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents, " +
        "CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_null_priority, " +
        "strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS max_day " +
        "FROM orders"),
    "q_sink_partitioned" ->
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n, " +
        s"${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-02' " +
        "GROUP BY day, event_type ORDER BY day, event_type"),
    "q_filter_predicate" ->
      ("SELECT * FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_project_expr" ->
      ("SELECT l_orderkey, l_linenumber, " +
        s"${sqlR("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue, " +
        s"${sqlR("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 2)} AS revenue_tax " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q_join_broadcast" ->
      (s"SELECT p_brand, count(*) AS n, ${sqlSumExact("l_extendedprice", 2)} AS sum_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand"),
    "q_join_shuffle" ->
      ("SELECT o_orderkey, o_totalprice, count(*) AS n_items, sum(l_quantity) AS sum_qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderkey, o_totalprice ORDER BY o_orderkey"),
    "q_join_multiway" ->
      (s"SELECT n_name, ${sqlSumExact("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue, " +
        "count(*) AS n_items " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE r_name = 'ASIA' AND year(o_orderdate) = 1997 " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_join_semi_anti" ->
      ("SELECT c_custkey, 'has_orders' AS tag FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "UNION ALL " +
        "SELECT c_custkey, 'no_orders' AS tag FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey, tag"),
    "q_join_outer" ->
      ("SELECT c_custkey, c_name, count(o_orderkey) AS n_orders, " +
        s"${sqlSumExact("coalesce(o_totalprice, 0.0)", 2)} AS total_spend " +
        "FROM customer LEFT JOIN orders ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY c_custkey"),
    "q_join_asof_range" ->
      ("SELECT event_id, user_id, purchase_ts, last_click_ts FROM (" +
        "SELECT event_id, user_id, event_type, ts AS purchase_ts, " +
        "max(CASE WHEN event_type = 'click' THEN ts END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts FROM events) " +
        "WHERE event_type = 'purchase' ORDER BY event_id"),
    "q_agg_hash" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        s"${sqlSumExact("l_extendedprice", 2)} AS sum_base_price, " +
        s"${sqlSumExact("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price, " +
        "sum(l_quantity) / count(*) AS avg_qty, " +
        s"${sqlAvgExact("l_extendedprice", 2)} AS avg_price, " +
        s"${sqlAvgExact("l_discount", 2)} AS avg_disc, count(*) AS n " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_agg_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_agg_approx_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_exact, " +
        "true AS approx_within_10pct " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // exact counts pinned in SQL; the deterministic (seed-fixed) sketch
    // estimate is asserted within its error bound as a boolean
    "q_layout_zorder" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day, " +
        "o_custkey AS x, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y FROM orders), " +
        spreadSteps.zipWithIndex.map { case ((sh, mask), i) =>
          val prev = if (i == 0) "base" else s"s$i"
          s"s${i + 1} AS (SELECT o_orderkey, o_custkey, day, " +
            s"(x | (x << $sh)) & $mask AS x, (y | (y << $sh)) & $mask AS y FROM $prev)"
        }.mkString(", ") + ", " +
        s"z AS (SELECT o_orderkey, o_custkey, day, x | (y << 1) AS zval FROM s${spreadSteps.size}) " +
        "SELECT o_orderkey, o_custkey, day, zval FROM z " +
        "WHERE o_custkey < 40 AND day >= 9862 AND day < 10227 " +
        "ORDER BY zval, o_orderkey"),
    // the 17-level Hilbert fold replayed as chained CTEs over the source
    // table — layout must never change query results
    "q_layout_hilbert" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day, " +
        "CAST(o_custkey AS BIGINT) AS hx, " +
        "CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) " +
        "AS BIGINT) AS hy FROM orders), " +
        hilbertSqlCtes("base", Seq("o_orderkey", "o_custkey", "day")) + " " +
        "SELECT o_orderkey, o_custkey, CAST(day AS BIGINT) AS day, hval FROM h0 " +
        "WHERE o_custkey < 40 AND day >= 9862 AND day < 10227 " +
        "ORDER BY hval, o_orderkey"),
    "q_agg_heavy_hitters" ->
      ("SELECT user_id, count(*) AS n FROM events " +
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20"),
    "q_agg_histogram_merge" ->
      ("WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(floor(value / 10.0) AS BIGINT) AS bin FROM events), " +
        "daily AS (SELECT event_type, day, bin, count(*) AS cnt FROM ev GROUP BY 1, 2, 3), " +
        "merged AS (SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS cnt " +
        "FROM daily GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, bin, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM merged) " +
        "SELECT event_type, " +
        "min(CASE WHEN cum * 100 >= n * 50 THEN bin * 10 END) AS p50_lo, " +
        "min(CASE WHEN cum * 100 >= n * 90 THEN bin * 10 END) AS p90_lo, " +
        "min(CASE WHEN cum * 100 >= n * 99 THEN bin * 10 END) AS p99_lo, " +
        "max(n) AS n FROM cum GROUP BY event_type ORDER BY event_type"),
    "q_agg_quantile_sketch_merge" ->
      ("WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(floor(value / 5.0) AS BIGINT) AS bin FROM events " +
        "WHERE CAST(ts AS DATE) >= DATE '2024-01-08' " +
        "AND CAST(ts AS DATE) < DATE '2024-01-22'), " +
        "daily AS (SELECT event_type, day, bin, count(*) AS cnt FROM ev GROUP BY 1, 2, 3), " +
        "merged AS (SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS cnt " +
        "FROM daily GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, bin, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM merged), " +
        "nd AS (SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days " +
        "FROM ev GROUP BY 1) " +
        "SELECT cum.event_type, max(n) AS n, max(n_days) AS n_days, " +
        "min(CASE WHEN cum * 100 >= n * 50 THEN bin * 5 END) AS p50_lo, " +
        "min(CASE WHEN cum * 100 >= n * 90 THEN bin * 5 END) AS p90_lo, " +
        "min(CASE WHEN cum * 100 >= n * 99 THEN bin * 5 END) AS p99_lo " +
        "FROM cum JOIN nd ON cum.event_type = nd.event_type " +
        "GROUP BY cum.event_type ORDER BY cum.event_type"),
    "q_agg_sketch_merge" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_exact, " +
        "true AS merged_est_ok " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_agg_hll_overlap" ->
      ("WITH du AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact " +
        "FROM du GROUP BY 1), " +
        "i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n_int " +
        "FROM du a JOIN du b ON a.user_id = b.user_id " +
        "AND a.event_type < b.event_type GROUP BY 1, 2) " +
        "SELECT type_a, type_b, na.n_exact AS n_a, nb.n_exact AS n_b, " +
        "na.n_exact + nb.n_exact - n_int AS n_union, n_int, " +
        "true AS overlap_est_ok, true AS union_est_ok " +
        "FROM i JOIN n na ON i.type_a = na.event_type " +
        "JOIN n nb ON i.type_b = nb.event_type " +
        "ORDER BY type_a, type_b"),
    "q_agg_theta_sketch_diff" ->
      ("WITH du AS (SELECT DISTINCT event_type, user_id, " +
        "CAST(ts AS DATE) AS day FROM events), " +
        "ua AS (SELECT DISTINCT event_type, user_id FROM du " +
        "WHERE day < DATE '2024-01-08'), " +
        "ub AS (SELECT DISTINCT event_type, user_id FROM du " +
        "WHERE day >= DATE '2024-01-22'), " +
        "na AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_a_exact " +
        "FROM ua GROUP BY 1), " +
        "nb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_b_exact " +
        "FROM ub GROUP BY 1), " +
        "ni AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_int_exact " +
        "FROM ua a JOIN ub b USING (event_type, user_id) GROUP BY 1) " +
        "SELECT na.event_type, n_a_exact, n_b_exact, " +
        "coalesce(n_int_exact, 0) AS n_int_exact, " +
        "n_a_exact - coalesce(n_int_exact, 0) AS n_diff_exact, " +
        "true AS diff_est_ok, true AS int_est_ok, true AS union_est_ok " +
        "FROM na JOIN nb USING (event_type) " +
        "LEFT JOIN ni ON ni.event_type = na.event_type " +
        "ORDER BY na.event_type"),
    "q_agg_approx_quantile" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        s"${sqlR("quantile_cont(o_totalprice, 0.5)", 4)} AS p50_exact, " +
        s"${sqlR("quantile_cont(o_totalprice, 0.9)", 4)} AS p90_exact, " +
        "true AS p50_approx_ok, true AS p90_approx_ok " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_agg_percentile" ->
      ("SELECT o_orderstatus, " +
        s"${sqlR("quantile_cont(o_totalprice, 0.5)", 4)} AS p50, " +
        s"${sqlR("quantile_cont(o_totalprice, 0.9)", 4)} AS p90, " +
        s"${sqlR("quantile_cont(o_totalprice, 0.99)", 4)} AS p99, " +
        "count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_window_ntile" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
        "CAST(ntile(10) OVER w AS INT) AS decile, " +
        "percent_rank() OVER w AS pct_rank, " +
        "cume_dist() OVER w AS cume " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) " +
        "ORDER BY o_orderkey"),
    "q_agg_stats" ->
      ("SELECT l_returnflag, " +
        s"${sqlR("stddev_samp(l_extendedprice)", 2)} AS sd_price, " +
        s"${sqlR("var_samp(l_quantity)", 4)} AS var_qty, " +
        s"${sqlR("corr(l_quantity, l_extendedprice)", 6)} AS corr_qty_price, " +
        s"${sqlR("covar_samp(l_quantity, l_extendedprice)", 2)} AS cov_qty_price, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_subquery" ->
      ("SELECT o_orderkey, o_totalprice FROM orders o " +
        "WHERE o_totalprice > (SELECT 0.5 * max(o_totalprice) FROM orders) " +
        "AND EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49) " +
        "ORDER BY o_orderkey"),
    "q_agg_collect" ->
      ("SELECT l_orderkey, " +
        "array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',') AS linenos, " +
        "array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags, " +
        "count(*) AS n FROM lineitem WHERE l_orderkey <= 400 " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    "q_unpivot_long" ->
      ("WITH wide AS (SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus, " +
        "sum(round(o_totalprice * 100, 0)) / 100 AS revenue " +
        "FROM orders GROUP BY yr, o_orderstatus) " +
        "SELECT yr, o_orderstatus, revenue FROM wide ORDER BY yr, o_orderstatus"),
    "q_join_bucketed" ->
      (s"SELECT c_mktsegment, count(*) AS n_orders, ${sqlSumExact("o_totalprice", 2)} AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_join_skew_salted" ->
      (s"SELECT o_orderpriority, count(*) AS n_items, " +
        s"${sqlSumExact("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_sql_recursive" ->
      ("WITH RECURSIVE spine(day) AS (SELECT DATE '2024-01-01' " +
        "UNION ALL SELECT day + 1 FROM spine WHERE day < DATE '2024-01-30'), " +
        "daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n, " +
        "count(DISTINCT user_id) AS nu FROM events GROUP BY 1) " +
        "SELECT strftime(s.day, '%Y-%m-%d') AS day, coalesce(d.n, 0) AS n_events, " +
        "coalesce(d.nu, 0) AS n_users FROM spine s LEFT JOIN daily d ON s.day = d.day " +
        "ORDER BY day"),
    "q_join_null_aware_anti" ->
      ("WITH sub AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL " +
        "ELSE o_custkey END AS k FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT " +
        "(SELECT count(*) FROM customer " +
        "WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_with_nulls, " +
        "(SELECT count(*) FROM customer " +
        "WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)) " +
        "AS n_null_filtered, " +
        "(SELECT count(*) FROM customer) AS n_customers"),
    "q_agg_cms_merge" ->
      ("SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact, " +
        "true AS lower_bound_ok, true AS upper_bound_ok " +
        "FROM events WHERE user_id < 5 GROUP BY user_id ORDER BY user_id"),
    "q_join_nullsafe" ->
      ("WITH cust AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL " +
        "ELSE c_custkey END AS ck, c_mktsegment FROM customer), " +
        "ords AS (SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL " +
        "ELSE o_custkey END AS ok, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
        "SELECT cust.ck IS NULL AS null_key, c_mktsegment, " +
        "CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM cust JOIN ords ON cust.ck IS NOT DISTINCT FROM ords.ok " +
        "GROUP BY null_key, c_mktsegment ORDER BY null_key, c_mktsegment"),
    "q_join_asof_tolerance" ->
      ("SELECT event_id, user_id, purchase_us, " +
        "CASE WHEN matched THEN last_click_us END AS click_us, " +
        "CASE WHEN matched THEN (purchase_us - last_click_us) // 1000000 END AS staleness_s, " +
        "matched FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS purchase_us, " +
        "max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us, " +
        "last_click_us IS NOT NULL AND " +
        "epoch_us(ts) - last_click_us <= 7200000000 AS matched " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id"),
    "q_join_asof_forward" ->
      ("SELECT event_id, user_id, purchase_us, next_click_us, " +
        "(next_click_us - purchase_us) // 1000000 AS wait_s FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS purchase_us, " +
        "min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_us " +
        "FROM events) t WHERE event_type = 'purchase' ORDER BY event_id"),
    "q_sql_lateral" ->
      ("SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice " +
        "FROM customer c, LATERAL (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_custkey = c.c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l " +
        "ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey"),
    "q_analyze_stats" ->
      ("SELECT 'l_quantity' AS col_name, count(*) AS n_rows, count(DISTINCT l_quantity) AS ndv, CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, min(l_quantity) AS min_num, max(l_quantity) AS max_num, CAST(NULL AS VARCHAR) AS min_txt, CAST(NULL AS VARCHAR) AS max_txt FROM lineitem UNION ALL SELECT 'l_extendedprice' AS col_name, count(*) AS n_rows, count(DISTINCT l_extendedprice) AS ndv, CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, min(l_extendedprice) AS min_num, max(l_extendedprice) AS max_num, CAST(NULL AS VARCHAR) AS min_txt, CAST(NULL AS VARCHAR) AS max_txt FROM lineitem UNION ALL SELECT 'l_discount' AS col_name, count(*) AS n_rows, count(DISTINCT l_discount) AS ndv, CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, min(l_discount) AS min_num, max(l_discount) AS max_num, CAST(NULL AS VARCHAR) AS min_txt, CAST(NULL AS VARCHAR) AS max_txt FROM lineitem UNION ALL SELECT 'l_tax' AS col_name, count(*) AS n_rows, count(DISTINCT l_tax) AS ndv, CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, min(l_tax) AS min_num, max(l_tax) AS max_num, CAST(NULL AS VARCHAR) AS min_txt, CAST(NULL AS VARCHAR) AS max_txt FROM lineitem UNION ALL SELECT 'l_returnflag' AS col_name, count(*) AS n_rows, count(DISTINCT l_returnflag) AS ndv, CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, min(l_returnflag) AS min_txt, max(l_returnflag) AS max_txt FROM lineitem UNION ALL SELECT 'l_shipdate' AS col_name, count(*) AS n_rows, count(DISTINCT l_shipdate) AS ndv, CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, strftime(min(l_shipdate), '%Y-%m-%d') AS min_txt, strftime(max(l_shipdate), '%Y-%m-%d') AS max_txt FROM lineitem ORDER BY col_name"),
    "q_funnel_steps" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND e.ts >= s1.t1 " +
        "AND e.ts <= s1.t1 + INTERVAL 604800 SECONDS GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e " +
        "JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 " +
        "AND e.ts <= s2.t2 + INTERVAL 604800 SECONDS GROUP BY e.user_id), " +
        "c AS (SELECT 1 AS step, count(*) AS n FROM s1 " +
        "UNION ALL SELECT 2, count(*) FROM s2 " +
        "UNION ALL SELECT 3, count(*) FROM s3) " +
        "SELECT step, n, round((n * 1.0 / coalesce(lag(n) OVER (ORDER BY step), n)) " +
        "* 10000, 0) / 10000 AS conv_from_prev FROM c ORDER BY step"),
    // incremental merge must equal the full recompute over raw history
    "q_agg_incremental" ->
      ("SELECT event_type, count(*) AS n, " +
        "sum(round(value * 100, 0)) / 100 AS sum_value, " +
        "min(value) AS min_value, max(value) AS max_value, " +
        "round((sum(round(value * 100, 0)) / 100 / count(*)) * 10000, 0) / 10000 AS avg_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // file skipping must be invisible to results: the oracle is the plain
    // full-scan filter over the source table
    // the bloom index has no false negatives, so the oracle is the plain
    // point-lookup aggregate — a mis-pruned file would hash-mismatch here
    "q_scan_bloom_skip" ->
      ("WITH pk AS (SELECT min(o_custkey) AS k FROM orders) " +
        "SELECT pk.k AS o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) " +
        "AS revenue_cents FROM orders, pk WHERE o_custkey = pk.k GROUP BY pk.k"),
    "q_scan_manifest_skip" ->
      ("SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n, " +
        s"${sqlSumExact("o_totalprice", 2)} AS revenue " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY month ORDER BY month"),
    // the Bloom prune has no false negatives, so the oracle is the PLAIN
    // join — any filter-induced result change would hash-mismatch here
    "q_join_bloom_pruned" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_items, " +
        s"${sqlSumExact("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F' " +
        "GROUP BY o_year ORDER BY o_year"),
    "q_pivot_wide" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS yr, " +
        "sum(round(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END * 100, 0)) / 100 AS rev_f, " +
        "sum(round(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END * 100, 0)) / 100 AS rev_o, " +
        "sum(round(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END * 100, 0)) / 100 AS rev_p " +
        "FROM orders GROUP BY yr ORDER BY yr"),
    "q_agg_rollup_cube" ->
      (s"SELECT n_name, yr, ${sqlSumExact("o_totalprice", 2)} AS revenue, count(*) AS n_orders, " +
        "CAST(grouping(n_name, yr) AS INT) AS gid " +
        "FROM (SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey) " +
        "GROUP BY ROLLUP (n_name, yr) " +
        "ORDER BY n_name NULLS FIRST, yr NULLS FIRST"),
    "q_agg_cube" ->
      (s"SELECT o_orderpriority, yr, ${sqlSumExact("o_totalprice", 2)} AS revenue, " +
        "count(*) AS n_orders, CAST(grouping(o_orderpriority, yr) AS INT) AS gid " +
        "FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice " +
        "FROM orders) GROUP BY CUBE (o_orderpriority, yr) " +
        "ORDER BY o_orderpriority NULLS FIRST, yr NULLS FIRST"),
    "q_sort_limit" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    "q_topk" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50"),
    // the custom heap operator must equal the window formulation exactly
    "q_topk_per_key" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3 " +
        "ORDER BY o_custkey, o_totalprice DESC, o_orderkey"),
    // the rank join must equal the FULL join's top-10 — the oracle pays
    // the materialized join the operator exists to avoid
    "q_join_rank" ->
      ("SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey, s_suppkey, " +
        "CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c_cents, " +
        "CAST(round(s_acctbal * 100, 0) AS BIGINT) AS s_cents, " +
        "CAST(round(c_acctbal * 100, 0) AS BIGINT) + " +
        "CAST(round(s_acctbal * 100, 0) AS BIGINT) AS pair_cents " +
        "FROM customer JOIN supplier ON c_nationkey = s_nationkey " +
        "ORDER BY pair_cents DESC, c_custkey, s_suppkey LIMIT 10"),
    "q_set_ops" ->
      ("WITH a AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1997), " +
        "b AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1998) " +
        "SELECT ck, op FROM (" +
        "SELECT ck, 'union' AS op FROM (SELECT ck FROM a UNION SELECT ck FROM b) " +
        "UNION ALL SELECT ck, 'intersect' AS op FROM (SELECT ck FROM a INTERSECT SELECT ck FROM b) " +
        "UNION ALL SELECT ck, 'except' AS op FROM (SELECT ck FROM a EXCEPT SELECT ck FROM b)) " +
        "ORDER BY op, ck"),
    "q_dedup_exact" ->
      "SELECT DISTINCT l_partkey, l_returnflag FROM lineitem ORDER BY l_partkey, l_returnflag",
    "q_window_first_last" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, " +
        "first_value(o_totalprice) OVER w AS first_price, " +
        "last_value(o_totalprice) OVER w AS last_price, " +
        "nth_value(o_totalprice, 2) OVER w AS second_price " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey, o_orderkey"),
    "q_window_rank" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn, " +
        "rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk, " +
        "dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drk " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q_window_running" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "sum(round(o_totalprice * 100, 0)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100 AS running_bal, " +
        "lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "q_window_range_frame" ->
      ("SELECT event_id, user_id, ts, value, " +
        "sum(round(value * 100, 0)) OVER w / 100 / count(*) OVER w AS mavg_7d " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) " +
        "RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"))
}
