package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Invariants for the graph / time-series / interval family beyond the
  * DuckDB oracle: rank-mass conservation, spine continuity + LOCF law, and
  * the banded join's equivalence to the naive nested-loop formulation.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  test("hub-degree cap branch: deterministic, size-bounded, element-preserving") {
    // the fixtures never reach the cap, so the capped branch is exercised
    // directly: a 300-neighbor hub against cap 128
    import org.apache.spark.sql.functions.{col, size => ssize, when}
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sps",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
    val hub = org.apache.spark.sql.Row((1L to 300L).toSeq)
    val df = s.createDataFrame(Seq(hub).asJava, schema)
    def capped() = df.select(
      when(ssize(col("sps")) <= 128, col("sps"))
        .otherwise(Analytics.capListExpr("sps", 128)).as("sps"))
      .head.getSeq[Long](0)
    val a = capped()
    assert(a.length === 128, "cap must bound the list size")
    assert(a.toSet.size === 128, "cap must not duplicate elements")
    assert(a.forall(v => v >= 1L && v <= 300L), "cap must sample the input")
    assert(capped() === a, "hash-ordered sample must be deterministic")
    // the oracle replays the cap as row_number() OVER (ORDER BY md5(CAST(sp
    // AS VARCHAR)), sp) <= cap — assert the engine expression keeps exactly
    // that subset, so the two formulations cannot drift apart silently
    import s.implicits._
    val oracleStyle = (1L to 300L).toDF("sp")
      .selectExpr("sp", "row_number() OVER (ORDER BY md5(cast(sp AS string)), sp) AS rk")
      .where(col("rk") <= 128).select("sp")
      .collect().map(_.getLong(0)).toSet
    assert(a.toSet === oracleStyle,
      "engine cap and the oracle's row_number-over-md5 replay must select the same elements")
    // an uncapped list passes through untouched
    val small = org.apache.spark.sql.Row((1L to 50L).toSeq)
    val smallOut = s.createDataFrame(Seq(small).asJava, schema).select(
      when(ssize(col("sps")) <= 128, col("sps"))
        .otherwise(Analytics.capListExpr("sps", 128)).as("sps"))
      .head.getSeq[Long](0)
    assert(smallOut === (1L to 50L).toSeq)
  }

  test("hub-degree cap bounds wedge volume on a power-law graph (scale evidence)") {
    // the cap's scale argument, measured instead of argued: one Zipf hub
    // (deg 4096) against 200 normal customers (deg 8). Uncapped, the hub
    // ALONE is C(4096,2) ≈ 8.39M wedges — 1500× the rest of the graph
    // combined; capped at 128 it contributes C(128,2) = 8128 and total
    // wedge volume drops 611×. Wedge count is the deterministic cost
    // driver behind the wall-time claim (wall times are info()'d, not
    // asserted — CI timing is noise, the combinatorics are not).
    import org.apache.spark.sql.functions.{col, posexplode, size => ssize, when}
    import graft.operators.Analytics
    import s.implicits._
    val normal = (0 until 200).map(c =>
      (c.toLong, (0 until 8).map(i => (c * 8 + i).toLong)))
    val hub = Seq((999L, (0 until 4096).map(_.toLong)))
    val lists = (normal ++ hub).toDF("c", "sps")
    def wedges(df: org.apache.spark.sql.DataFrame): Long = df
      .where(ssize(col("sps")) > 1)
      .select(posexplode(col("sps")).as(Seq("i", "x")), col("sps"))
      .select(col("i"), col("x"), posexplode(col("sps")).as(Seq("j", "y")))
      .where(col("i") < col("j"))
      .count()
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val capped = lists.withColumn("sps",
      when(ssize(col("sps")) <= 128, col("sps"))
        .otherwise(Analytics.capListExpr("sps", 128)))
    val (unCnt, unSec) = timed(wedges(lists))
    val (capCnt, capSec) = timed(wedges(capped))
    info(f"uncapped: $unCnt wedges in $unSec%.2fs; capped: $capCnt wedges in $capSec%.2fs")
    assert(unCnt === 200L * 28 + 4096L * 4095 / 2)
    assert(capCnt === 200L * 28 + 128L * 127 / 2,
      "capped volume must be the normal graph plus C(cap,2) for the hub")
    assert(capCnt * 100 < unCnt,
      "the cap must collapse the hub's quadratic wedge share")
  }

  test("q_graph_pagerank_step conserves contribution mass up to floor loss") {
    val out = Analytics.graphPagerankStep(s, d).collect()
    assert(out.nonEmpty)
    // each customer emits outdeg * floor(1e6/outdeg) ≤ 1e6 micro-units;
    // total received mass must equal total emitted mass exactly
    val li = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    val emitted = e.groupBy("c").agg(count(lit(1)).as("deg"))
      .select(sum(expr("deg * (1000000 div deg)")).as("m"))
      .collect().head.getLong(0)
    // invert rank_micro = 150000 + (850*sumW) div 1000 is lossy (div 1000);
    // check conservation on the received side instead by recomputation
    val received = e.join(e.groupBy("c").agg(count(lit(1)).as("deg")), "c")
      .select(sum(expr("1000000 div deg")).as("m")).collect().head.getLong(0)
    assert(received === emitted)
    // ranks are bounded: damping floor and at most 0.15 + 0.85 * nCust
    val nCust = e.select("c").distinct().count()
    assert(out.forall(_.getLong(2) >= 150000L))
    assert(out.forall(_.getLong(2) <= 150000L + 850L * nCust * 1000L))
  }

  test("q_timeseries_gapfill spine is continuous and LOCF fills every gap") {
    val out = Analytics.timeseriesGapfill(s, d)
    // continuity: per acct, row count == days between min and max inclusive
    val spans = out.groupBy("acct").agg(
      count(lit(1)).as("n"),
      min("day_str").as("lo"), max("day_str").as("hi")).collect()
    spans.foreach { r =>
      val days = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(r.getString(2)),
        java.time.LocalDate.parse(r.getString(3))) + 1
      assert(r.getLong(1) === days, s"acct ${r.get(0)} has holes")
    }
    // LOCF law: filled is never null, and unobserved days repeat the value
    // of the nearest preceding observed day
    assert(out.where(col("filled").isNull).count() === 0)
    val firsts = out.where(!col("observed"))
      .select("acct", "day_str", "filled").limit(5).collect()
    firsts.foreach { r =>
      val prevObserved = out.where(col("acct") === r.getLong(0) &&
        col("observed") && col("day_str") < r.getString(1))
        .orderBy(col("day_str").desc).select("filled").limit(1)
        .collect().head.getDouble(0)
      assert(r.getDouble(2) === prevObserved)
    }
  }

  test("q_join_range_bucket equals the naive nested-loop range join") {
    val out = Analytics.joinRangeBucket(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ev = Tables(s, d, "events").select(col("event_id"), col("event_type"),
      col("value"), col("ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"))
    // naive O(N*M) formulation Spark plans as a broadcast nested loop —
    // ground truth at test scale
    val naive = c.join(ev, col("ts") >= col("cts") &&
        col("ts") < col("cts") + expr("interval 600 seconds"))
      .groupBy("click_id")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0)) / 100).as("sv"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet === naive.keySet)
    out.foreach { case (k, (n, sv)) =>
      assert(naive(k) === ((n, sv)), s"click $k: bucketed=$n/$sv naive=${naive(k)}")
    }
    // every click matches at least itself
    assert(out.values.forall(_._1 >= 1))
  }

  test("q_window_gaps_islands streak laws hold") {
    val out = Analytics.windowGapsIslands(s, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nIslands, nDays, maxStreak) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nIslands >= 1 && maxStreak >= 1)
      assert(maxStreak <= nDays, "longest streak can't exceed active days")
      assert(nIslands <= nDays, "can't have more islands than days")
      // pigeonhole: maxStreak >= ceil(nDays / nIslands)
      assert(maxStreak >= (nDays + nIslands - 1) / nIslands)
    }
    // total active days across users == |distinct (user, day)|
    val totalDays = out.map(_.getLong(2)).sum
    val expect = Tables(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().count()
    assert(totalDays === expect)
  }

  test("q_agg_retention_cohort cells partition activity; offset 0 is cohort size") {
    val out = Analytics.aggRetentionCohort(s, d).collect()
    val act = Tables(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // every (user, day) activity lands in exactly one (cohort, offset) cell
    assert(out.map(_.getLong(2)).sum === act.count())
    assert(out.forall(_.getLong(1) >= 0), "offsets are non-negative")
    // per cohort, the offset-0 cell counts every cohort member (first day)
    val day0 = out.filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val cohortSizes = act.groupBy("user_id").agg(min(col("day")).as("c"))
      .groupBy(date_format(col("c"), "yyyy-MM-dd").as("cd")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(day0 === cohortSizes)
    // retention never exceeds cohort size at any offset
    out.foreach(r => assert(r.getLong(2) <= cohortSizes(r.getString(0))))
  }

  test("q_agg_active_users: dau <= active_7d <= trailing-7-day dau sum") {
    val rows = Analytics.aggActiveUsers(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val dauByDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (day, dau, a7) =>
      assert(a7 >= dau, s"$day: window actives below daily actives")
      val d0 = java.time.LocalDate.parse(day)
      val trailing = (0 to 6).map(i => dauByDay.getOrElse(d0.minusDays(i).toString, 0L)).sum
      assert(a7 <= trailing, s"$day: distinct actives exceed trailing dau sum")
    }
  }

  test("q_join_range_bucket plans an equi hash/merge join, not a nested loop") {
    val p = Analytics.joinRangeBucket(s, d).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded join degenerated to a quadratic plan:\n$p")
  }

  test("q_graph_clustering_coeff: per-node triangle credits sum to 3x the global count") {
    val rows = Analytics.graphClusteringCoeff(s, d).collect()
    val global = Analytics.graphTriangles(s, d).collect().head
    assert(rows.map(_.getAs[Long]("n_tri")).sum === 3 * global.getAs[Long]("n_triangles"),
      "every triangle must credit exactly its three corners")
    assert(rows.length.toLong === global.getAs[Long]("n_nodes"), "one row per node")
    assert(rows.map(_.getAs[Long]("deg")).sum === 2 * global.getAs[Long]("n_edges"),
      "degree sum = 2m (handshake)")
    rows.foreach { r =>
      val (deg, tri, lcc) = (r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
        r.getAs[Long]("lcc_micro"))
      // triangles at v live on neighbor pairs; lcc is their closed fraction
      assert(tri <= deg * (deg - 1) / 2, s"tri $tri exceeds C(deg,2) for deg $deg")
      assert(lcc >= 0 && lcc <= 1000000)
      assert(lcc === (if (deg >= 2) 2000000L * tri / (deg * (deg - 1)) else 0L))
    }
    // non-vacuous: the co-purchase fixture closes some wedges but not all
    assert(rows.exists(_.getAs[Long]("lcc_micro") > 0))
    assert(rows.exists(r => r.getAs[Long]("deg") >= 2 && r.getAs[Long]("lcc_micro") < 1000000))
  }

  test("q_timeseries_mann_kendall matches an exact driver replay of pairwise signs") {
    val out = Analytics.timeseriesMannKendall(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    val obs = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("acct", "mon").agg(sum("c").as("cents")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byAcct = obs.groupBy(_._1)
    assert(out.keySet === byAcct.keySet)
    byAcct.foreach { case (acct, rows) =>
      val series = rows.sortBy(_._2).map(_._3)
      val n = series.length.toLong
      var sStat = 0L
      for (i <- series.indices; j <- i + 1 until series.length)
        sStat += java.lang.Long.signum(series(j) - series(i))
      val pairs = n * (n - 1) / 2
      val tau = 1000000L * sStat / pairs
      val trend = if (tau > 100000) "up" else if (tau < -100000) "down" else "flat"
      assert(out(acct) === ((n, sStat, tau, trend)), s"acct $acct diverges")
      assert(math.abs(tau) <= 1000000L)
    }
  }

  test("q_graph_adamic_adar matches a driver replay over the staged capped lists") {
    val out = Analytics.graphAdamicAdar(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 20)
    val scores = out.map(_._4)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "sorted desc")
    // replay from the same staged lists the operator consumes
    val lists = Analytics.supplierNbrs(s, d).collect()
      .map(_.getSeq[Long](1)).filter(_.length > 1)
    val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    lists.foreach { sps =>
      val w = math.round(1000000d / math.log10(sps.length.toDouble))
      for (i <- sps.indices; j <- i + 1 until sps.length) {
        val key = (math.min(sps(i), sps(j)), math.max(sps(i), sps(j)))
        val (c0, a0) = acc.getOrElse(key, (0L, 0L))
        acc(key) = (c0 + 1, a0 + w)
      }
    }
    val top = acc.toSeq.map { case ((a, b), (c, aa)) => (a, b, c, aa) }
      .sortBy { case (a, b, _, aa) => (-aa, a, b) }.take(20)
    assert(out.toSeq === top, "top-20 AA pairs diverge from the replay")
    // the weighting must matter: AA order != common-neighbor-count order
    val byCommon = acc.toSeq.map { case ((a, b), (c, aa)) => (a, b, c, aa) }
      .sortBy { case (a, b, c, _) => (-c, a, b) }.take(20)
    assert(byCommon.map(t => (t._1, t._2)) !== top.map(t => (t._1, t._2)),
      "fixture degenerate: AA equals plain common-neighbor ranking")
  }

  test("q_graph_label_prop matches a driver-side synchronous LPA replay") {
    val out = Analytics.graphLabelProp(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver replay from raw lineitem
    val po = Tables(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = po.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nbrs = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (v, vs) => v -> vs.map(_._2) }
    val l1 = nbrs.map { case (v, us) => v -> us.min }
    val l2 = nbrs.map { case (v, us) =>
      val cnt = us.map(l1).groupBy(identity).map { case (l, o) => (l, o.size) }
      v -> cnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
    }
    assert(out.size === nbrs.size, "one row per node")
    nbrs.keys.foreach { v =>
      assert(out(v) === ((l1(v), l2(v))), s"node $v labels diverge")
    }
    // step 2 must do real work: some node's label changes between steps
    assert(nbrs.keys.exists(v => l1(v) != l2(v)), "fixture too small: LPA is a fixpoint at step 1")
  }

  test("q_graph_triangles equals the brute-force 3-way edge join; orientation caps out-degree") {
    val row = Analytics.graphTriangles(s, d).collect().head
    // brute force: every (a < b < c) with all three undirected edges present
    val po = Tables(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct()
    val e = po.as("x").join(po.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct().cache()
    val brute = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    assert(row.getAs[Long]("n_triangles") === brute,
      s"degree-ordered count ${row.getAs[Long]("n_triangles")} != brute $brute")
    assert(row.getAs[Long]("n_edges") === e.count())
    // the scale bound the operator sells: degree-ordered orientation caps
    // max out-degree at √(2m) (out-neighbors all have degree ≥ the source's,
    // so outdeg² ≤ Σdeg = 2m) — recompute the orientation here and check
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("src"))
    val maxOut = oriented.groupBy("src").agg(count(lit(1)).as("od"))
      .agg(max("od")).collect().head.getLong(0)
    val m = row.getAs[Long]("n_edges")
    assert(maxOut <= math.ceil(math.sqrt(2.0 * m)).toLong,
      s"orientation lost the sqrt(2m) out-degree cap: $maxOut vs m=$m")
    val maxRaw = deg.agg(max("deg")).collect().head.getLong(0)
    assert(maxOut <= maxRaw)
    e.unpersist()
  }

  test("q_interval_active_peak equals the naive covering-count maximum") {
    val out = Analytics.intervalActivePeak(s, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // concurrency only rises at interval starts, so the peak is the max
    // over start points p of |{e : e.us <= p.us < e.us + span}| — a naive
    // quadratic self-join, ground truth at test scale
    val span = 600L * 1000000L
    val ev = Tables(s, d, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val naive = ev.as("p").join(ev.as("e"),
        col("p.event_type") === col("e.event_type") &&
          col("e.us") <= col("p.us") && col("p.us") < col("e.us") + span)
      .groupBy(col("p.event_type"), col("p.us")).agg(count(lit(1)).as("c"))
      .groupBy("event_type").agg(max("c").as("peak"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === naive.keySet)
    out.foreach { case (t, (n, peak)) =>
      assert(peak === naive(t), s"$t: sweep=$peak naive=${naive(t)}")
      assert(peak >= 1 && peak <= n)
    }
    // interval counts partition the event table
    assert(out.values.map(_._1).sum ===
      Tables(s, d, "events").count())
  }

  test("q_agg_mode_exact picks the max-frequency value, lowest-value tiebreak") {
    val out = Analytics.aggModeExact(s, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val counts = Tables(s, d, "lineitem")
      .groupBy("l_returnflag", "l_quantity").count().collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(out.keySet === counts.map(_._1).toSet)
    out.foreach { case (flag, (qty, n)) =>
      val grp = counts.filter(_._1 == flag)
      val maxN = grp.map(_._3).max
      assert(n === maxN, s"$flag: reported frequency $n != max $maxN")
      val winners = grp.filter(_._3 == maxN).map(_._2)
      assert(qty === winners.min, s"$flag: tie-break not lowest value")
    }
  }

  test("q_agg_weighted_median is the exact cumulative-weight crossing point") {
    val out = Analytics.aggWeightedMedian(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val rows = Tables(s, d, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        round(col("l_quantity"), 0).cast("long").as("wt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (flag, med, totW) =>
      val grp = rows.filter(_._1 == flag)
      assert(totW === grp.map(_._3).sum)
      val below = grp.filter(_._2 < med).map(_._3).sum
      val upto = grp.filter(_._2 <= med).map(_._3).sum
      // med is the SMALLEST value whose cumulative weight reaches half
      assert(upto * 2 >= totW, s"$flag: median too low")
      assert(below * 2 < totW, s"$flag: a smaller value already crosses half")
    }
  }

  test("q_window_drawdown matches a driver-side simulation of each account") {
    val out = Analytics.windowDrawdown(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val daily = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("acct", "day").agg(sum("cents").as("cents"))
      .orderBy("acct", "day")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.keySet === daily.map(_._1).toSet)
    out.foreach { case (acct, (nDays, peak, maxDd, fin)) =>
      val series = daily.filter(_._1 == acct).map(_._2)
      var bal = 0L; var pk = Long.MinValue; var dd = 0L
      series.foreach { c =>
        bal += c; pk = math.max(pk, bal); dd = math.max(dd, pk - bal)
      }
      assert(nDays === series.length.toLong)
      assert(peak === pk, s"acct $acct peak")
      assert(maxDd === dd, s"acct $acct drawdown")
      assert(fin === bal, s"acct $acct final balance")
      assert(maxDd >= 0 && peak >= fin)
    }
  }

  test("q_window_rolling_median equals the driver-side trailing-7-day median") {
    val out = Analytics.windowRollingMedian(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val byAcct = out.groupBy(_._1)
    byAcct.foreach { case (_, rows) =>
      val series = rows.sortBy(_._2)
        .map(r => java.time.LocalDate.parse(r._2).toEpochDay -> r._3)
      rows.foreach { case (_, dayStr, _, med7) =>
        val d0 = java.time.LocalDate.parse(dayStr).toEpochDay
        val frame = series.filter(p => p._1 >= d0 - 6 && p._1 <= d0)
          .map(_._2).sorted
        val n = frame.length
        val want =
          if (n % 2 == 1) frame(n / 2).toDouble
          else (frame(n / 2 - 1) + frame(n / 2)) / 2.0
        assert(med7 === want, s"day $dayStr trailing median")
      }
    }
  }

  test("q_timeseries_ohlc bars bound their days; weeks partition the series") {
    val out = Analytics.timeseriesOhlc(s, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, o, h, l, c, v) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
      assert(l <= o && o <= h, "open outside [low, high]")
      assert(l <= c && c <= h, "close outside [low, high]")
      assert(n >= 1 && v >= l * n, "volume below n*low")
      assert(v <= h * n, "volume above n*high")
    }
    // Σ n_days over all bars == |day-grain rows|; Σ volume == total cents
    val daily = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("acct", "day").agg(sum("cents").as("cents"))
    assert(out.map(_.getLong(2)).sum === daily.count())
    assert(out.map(_.getLong(7)).sum ===
      daily.agg(sum("cents")).collect().head.getLong(0))
  }

  test("q_agg_gini matches a driver-side exact recompute per segment") {
    val out = Analytics.aggGini(s, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    val spend = Tables(s, d, "orders")
      .select(col("o_custkey"), round(col("o_totalprice") * 100, 0)
        .cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("x"))
      .join(Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment", "o_custkey", "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (seg, (n, sumC, gini)) =>
      val xs = spend.filter(_._1 == seg).sortBy(t => (t._3, t._2)).map(_._3)
      assert(n === xs.length.toLong)
      assert(sumC === xs.sum)
      val s1 = xs.zipWithIndex.map { case (x, i) =>
        BigInt(i + 1) * BigInt(x) }.sum
      val want = (BigInt(1000000) * (2 * s1 - BigInt(n + 1) * BigInt(sumC))) /
        (BigInt(n) * BigInt(sumC))
      assert(gini === want.toLong, s"$seg: gini drifted")
      assert(gini >= 0 && gini < 1000000L)
    }
  }

  test("q_scd2_snapshot: one version per (day, user); attr is latest-as-of") {
    val out = Analytics.scd2Snapshot(s, d)
    val dupes = out.groupBy("snap_day", "user_id").count()
      .where(col("count") > 1).count()
    assert(dupes === 0, "SCD2 versions must partition time per user")
    // spot-check: the snapshot attr equals the latest event strictly before
    // the snapshot midnight
    val sample = out.limit(5).collect()
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    sample.foreach { r =>
      val (day, uid, attr) = (r.getString(0), r.getLong(1), r.getLong(2))
      val want = ev.where(col("user_id") === uid &&
          col("ts") < lit(day).cast("timestamp"))
        .orderBy(col("ts").desc).limit(1).collect().head.getLong(2)
      assert(attr === want, s"user $uid @ $day")
    }
    // no snapshot rows before a user's first event day
    val firsts = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDate(1).toString).toMap
    out.collect().foreach { r =>
      assert(r.getString(0) > firsts(r.getLong(1)),
        s"snapshot before first version for user ${r.getLong(1)}")
    }
  }

  test("q_skyline_pareto is exactly the undominated set (brute-force check)") {
    val sky = Analytics.skylinePareto(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sky.nonEmpty)
    val parts = Tables(s, d, "part")
      .select(col("p_brand"), col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("pc"), col("p_size"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byBrand = parts.groupBy(_._1)
    parts.foreach { case (b, k, pc, sz) =>
      val dominated = byBrand(b).exists { case (_, k2, pc2, sz2) =>
        k2 != k && pc2 <= pc && sz2 >= sz && (pc2 < pc || sz2 > sz)
      }
      assert(sky.contains((b, k)) === !dominated, s"part $k brand $b")
    }
    // the point of the operator: single sort, no self-join in the plan
    val plan = Analytics.skylinePareto(s, d).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "skyline must not plan a dominance join")
  }

  test("q_window_ewma matches a driver-side decayed recurrence per account") {
    val out = Analytics.windowEwma(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.nonEmpty)
    val daily = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("acct", "day").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    daily.groupBy(_._1).foreach { case (acct, rows) =>
      val series = rows.map(t => t._2 -> t._3).sortBy(_._1)(Ordering.by(_.toEpochDay))
      series.foreach { case (day, cents) =>
        val frame = series.filter { case (d2, _) =>
          val lag = day.toEpochDay - d2.toEpochDay; lag >= 0 && lag <= 29
        }
        val num = frame.map { case (d2, c2) =>
          c2 * (1L << (29 - (day.toEpochDay - d2.toEpochDay))) }.sum
        val den = frame.map { case (d2, _) =>
          1L << (29 - (day.toEpochDay - d2.toEpochDay)) }.sum
        val got = out((acct, day.toString))
        assert(got === ((cents, num, den, num / den)), s"acct $acct day $day")
      }
    }
    // weights: today = 2^29, halves per day of LAG (gap-aware decay)
    assert((1L << 29) === 536870912L)
  }

  test("q_interval_merge equals a driver-side sweep per user") {
    val out = Analytics.intervalMerge(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out.nonEmpty)
    val iv = Tables(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    iv.groupBy(_._1).foreach { case (uid, rows) =>
      val sorted = rows.map(_._2).sorted
      var spans = List.empty[(Long, Long)] // (start, end) accumulated reversed
      sorted.foreach { st =>
        val en = st + 600000000L
        spans match {
          case (s0, e0) :: tail if st <= e0 => spans = (s0, math.max(e0, en)) :: tail
          case _ => spans = (st, en) :: spans
        }
      }
      val covered = spans.map { case (a, b) => b - a }.sum
      val maxSpan = spans.map { case (a, b) => b - a }.max
      assert(out(uid) === ((spans.size.toLong, rows.size.toLong, covered, maxSpan)),
        s"user $uid")
    }
  }

  test("q_window_rsi matches a driver-side recompute and stays in [0, 1e6]") {
    val out = Analytics.windowRsi(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out.nonEmpty)
    assert(out.values.forall { case (_, _, rsi) => rsi >= 0L && rsi <= 1000000L })
    val daily = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("acct", "day").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    daily.groupBy(_._1).foreach { case (acct, rows) =>
      val series = rows.sortBy(_._2).map(_._3)
      val days = rows.sortBy(_._2).map(_._2)
      val deltas = series.zip(series.drop(1)).map { case (a, b) => b - a }
      deltas.indices.foreach { i =>
        if (i >= 13) { // 14 full deltas ending at delta index i → day i+1
          val win = deltas.slice(i - 13, i + 1)
          val g = win.filter(_ > 0).sum
          val l = -win.filter(_ < 0).sum
          val rsi = if (g + l == 0) 500000L else (1000000L * g) / (g + l)
          assert(out((acct, days(i + 1))) === ((g, l, rsi)), s"acct $acct day ${days(i + 1)}")
        }
      }
      // warm-up rows are absent
      days.take(math.min(14, days.size)).foreach { dd =>
        assert(!out.contains((acct, dd)), s"warm-up row leaked: $acct $dd")
      }
    }
  }

  test("q_timeseries_seasonal: dow partitions days; profile sums to the total") {
    val rows = Analytics.timeseriesSeasonal(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(t => t._2 >= 0 && t._2 <= 6))
    // 1995-01-02 was a Monday; pin the convention: dow 0 = Monday
    assert(java.time.LocalDate.of(1995, 1, 2).getDayOfWeek ===
      java.time.DayOfWeek.MONDAY)
    rows.groupBy(_._1).foreach { case (acct, g) =>
      val meanAll = g.map(_._4).sum / g.map(_._3).sum // tot div n_days
      g.foreach { case (_, _, nd, sc, mc, dev) =>
        assert(mc === sc / nd)
        val diff = mc - meanAll
        val want = if (diff >= 0) 1000000 * diff / meanAll
                   else -(1000000 * -diff / meanAll)
        assert(dev === want, s"acct $acct")
      }
    }
  }

  test("q_window_bollinger flags match a driver-side exact recompute") {
    val out = Analytics.windowBollinger(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getBoolean(4), r.getBoolean(5)))
      .toMap
    assert(out.nonEmpty)
    val daily = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("acct", "day").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    var breaches = 0
    daily.groupBy(_._1).foreach { case (acct, g) =>
      val series = g.sortBy(_._2)
      series.indices.drop(19).foreach { i =>
        val win = series.slice(i - 19, i + 1).map(_._3).map(BigInt(_))
        val c = BigInt(series(i)._3)
        val sS = win.sum; val q = win.map(x => x * x).sum
        val dev = c * 20 - sS
        val varN2 = q * 20 - sS * sS
        val hi = dev > 0 && dev * dev > varN2 * 4
        val lo = dev < 0 && dev * dev > varN2 * 4
        assert(out((acct, series(i)._2)) === ((hi, lo)), s"acct $acct ${series(i)._2}")
        if (hi || lo) breaches += 1
      }
    }
    assert(breaches > 0, "band never breached — vacuous fixture")
  }

  private def bfsLayers(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, Long)] =
    df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  /** The co-purchase graph's adjacency and the 3-hop distances of a
    * plain-Scala queue BFS from its smallest part. */
  private lazy val queueBfs: (Map[Long, Set[Long]], Map[Long, Long]) = {
    val po = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    po.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2)
      for (x <- ps; y <- ps if x < y) {
        adj.getOrElseUpdate(x, scala.collection.mutable.Set.empty) += y
        adj.getOrElseUpdate(y, scala.collection.mutable.Set.empty) += x
      }
    }
    val seed = adj.keys.min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Set(seed)
    (1 to 3).foreach { dd =>
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = dd.toLong)
    }
    (adj.map { case (k, v) => k -> v.toSet }.toMap, dist.toMap)
  }

  /** dist -> (count, sum, min, max) of the queue BFS. */
  private lazy val queueBfsLayers: Map[Long, (Long, Long, Long, Long)] =
    queueBfs._2.toSeq.groupBy(_._2).map { case (dd, ns) =>
      dd -> ((ns.size.toLong, ns.map(_._1).sum, ns.map(_._1).min, ns.map(_._1).max))
    }

  test("q_graph_bfs layers match a driver-side queue BFS") {
    val out = bfsLayers(Analytics.graphBfs(s, d))
    assert(out.nonEmpty && out.contains(0L))
    assert(out === queueBfsLayers)
    // non-vacuous: expansion actually happened beyond the seed's ego net
    assert(out.keySet.max >= 2L, s"graph saturated at 1 hop: ${out.keySet}")
  }

  test("q_graph_bfs large-frontier shuffle path produces identical layers") {
    // bound 0 forces every superstep onto the pre-partitioned shuffle-join
    // path (expansion AND visited anti-join) — the branch real frontiers
    // only reach past 500k rows, so a small fixture never exercises it
    // naturally. Both paths must be layer-identical.
    val broadcastPath = Analytics.graphBfs(s, d).collect().map(_.toSeq).toSeq
    val shufflePath =
      Analytics.graphBfsWithBound(s, d, 0L).collect().map(_.toSeq).toSeq
    assert(shufflePath === broadcastPath)
  }

  test("q_graph_bfs switches from driver-held frontiers to the shuffle path mid-search") {
    // bound = the hop-1 frontier: hop 1 stays on the driver, and hop 2's
    // capped collect of the frontier's distinct neighbors overflows, so
    // the search finishes on DataFrame frontiers
    val (adj, dist) = queueBfs
    val hop1 = dist.collect { case (n, 1L) => n }.toSet
    val hop2Nbrs = hop1.flatMap(adj)
    assert(hop2Nbrs.size > hop1.size,
      s"hop-2 collect (${hop2Nbrs.size} rows) would not overflow a bound of ${hop1.size}")
    assert(bfsLayers(Analytics.graphBfsWithBound(s, d, hop1.size.toLong)) === queueBfsLayers)
  }

  test("q_join_spatial_grid equals the brute-force radius join; no cartesian plan") {
    val out = Analytics.joinSpatialGrid(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.nonEmpty)
    val cs = Tables(s, d, "customer").select("c_custkey").collect().map(_.getLong(0))
    val ss = Tables(s, d, "supplier").select("s_suppkey").collect().map(_.getLong(0))
    def coords(k: Long) = ((k * 2654435761L) % 10000, (k * 40503L) % 10000)
    val want = (for {
      c <- cs; sp <- ss
      (cx, cy) = coords(c); (sx, sy) = coords(sp)
      d2 = (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
      if d2 <= 62500L
    } yield (c, sp) -> d2).toMap
    assert(out === want)
    // the point of the grid: an equi-join on cell id, never a cross product
    val plan = Analytics.joinSpatialGrid(s, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "spatial join degenerated to a cross product")
  }

  test("q_corpus_mix_epochs: cap, realized, and shortfall laws hold") {
    val rows = Analytics.corpusMixEpochs(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val corpus = rows.map(_._3).sum
    val nSrc = rows.length
    rows.foreach { case (src, nd, toks, target, epochs, realized, shortfall) =>
      assert(nd > 0 && toks > 0)
      assert(target === 2 * corpus / nSrc, s"$src target")
      assert(epochs === math.min(1000L * target / toks, 4000L), s"$src epochs")
      assert(epochs >= 1000L || target < toks) // under-1-epoch only when over-share
      assert(realized === toks * epochs / 1000, s"$src realized")
      assert(shortfall === math.max(target - realized, 0L), s"$src shortfall")
      // a shortfall beyond milli-truncation slack implies the 4-epoch cap
      if (shortfall > toks / 1000 + 1) assert(epochs === 4000L, s"$src uncapped shortfall")
    }
  }

  test("q_basket_lift matches a driver-side brute-force recompute") {
    val out = Analytics.basketLift(s, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))))
    assert(out.nonEmpty && out.length <= 50)
    // brute force over collected baskets (6k-row fixture)
    val baskets = Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }.toSeq
    val n = baskets.length.toLong
    val item = baskets.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val pairCnt = baskets.flatMap(ps => ps.toSeq.sorted.combinations(2))
      .groupBy(identity).map { case (k, v) => (k(0), k(1)) -> v.size.toLong }
      .filter(_._2 >= 3)
    out.foreach { case ((a, b), (nab, na, nb, sup, cab, cba, lift)) =>
      assert(pairCnt((a, b)) === nab, s"pair ($a,$b)")
      assert(na === item(a) && nb === item(b))
      assert(sup === 1000000L * nab / n)
      assert(cab === 1000000L * nab / na && cba === 1000000L * nab / nb)
      assert(lift === 1000000L * nab * n / (na * nb))
    }
    // top-50 really is the lift-ordered head of the full qualifying set
    val allLift = pairCnt.map { case ((a, b), nab) =>
      (1000000L * nab * n / (item(a) * item(b)), a, b)
    }.toSeq.sorted(Ordering.Tuple3(Ordering.Long.reverse, Ordering.Long, Ordering.Long))
    assert(out.map { case ((a, b), t) => (t._7, a, b) }.toSeq ===
      allLift.take(out.length))
  }

  test("q_agg_rfm: scores span 1..5, value-grain ties share scores, rfm folds") {
    val rows = Analytics.aggRfm(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, _, rs, fs, ms, rfm) =>
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5)
      assert(rfm === rs * 100 + fs * 10 + ms)
    }
    // same value ⇒ same score, in every dimension (order-free determinism)
    assert(rows.groupBy(_._2).values.forall(g => g.map(_._5).distinct.length == 1))
    assert(rows.groupBy(_._3).values.forall(g => g.map(_._6).distinct.length == 1))
    assert(rows.groupBy(_._4).values.forall(g => g.map(_._7).distinct.length == 1))
    // monotone: more recent ⇒ r_score no smaller; higher spend ⇒ m_score no smaller
    val byRec = rows.sortBy(_._2).map(_._5)
    assert(byRec.zip(byRec.tail).forall { case (hi, lo) => hi >= lo })
    val byMon = rows.sortBy(_._4).map(_._7)
    assert(byMon.zip(byMon.tail).forall { case (lo, hi) => lo <= hi })
    // quintiles are balanced up to value-grain ties: ~n/5 per bucket
    val n = rows.length
    rows.groupBy(_._6).values.foreach(g => assert(g.length <= n)) // sanity
  }

  test("q_event_transition: probs sum to ~1e6 per from-type; counts conserve") {
    val rows = Analytics.eventTransition(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_._1)
    byFrom.values.foreach { g =>
      val tot = g.map(_._3).sum
      // each prob is floored ⇒ sum ∈ (1e6 - |g|, 1e6]
      val probSum = g.map(_._4).sum
      assert(probSum <= 1000000L && probSum > 1000000L - g.length)
      g.foreach { case (_, _, c, p) => assert(p === 1000000L * c / tot) }
    }
    // conservation: total transitions = total events - one per active user
    val ev = Tables(s, d, "events")
    val expected = ev.count() -
      ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum === expected)
  }

  test("q_graph_degree_stats: bins bound degrees; handshake law holds") {
    val rows = Analytics.graphDegreeStats(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (bin, n, lo, hi) =>
      assert(n > 0 && lo <= hi)
      assert(lo >= (1L << bin) && hi < (1L << (bin + 1)),
        s"bin $bin holds degree outside [2^$bin, 2^${bin + 1})")
    }
    // recompute the graph driver-side: Σ deg = 2|E|, Σ n_nodes = |V|
    val po = Tables(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = po.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map(_._2.size.toLong)
    assert(rows.map(_._2).sum === deg.size.toLong, "node count")
    assert(rows.map { case (_, _, _, _) => 0L }.sum === 0L) // shape guard
    val maxDeg = deg.max
    assert(rows.last._4 === maxDeg, "max degree lands in the last bin")
  }

  test("q_agg_cohort_ltv: cumulative telescopes; per-user rate exact") {
    val rows = Analytics.aggCohortLtv(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      // cum at each offset = running sum of the per-offset revenue
      sorted.scanLeft(0L)((acc, r) => acc + r._3).tail
        .zip(sorted).foreach { case (want, row) =>
          assert(row._4 === want, s"cohort ${row._1} offset ${row._2}")
        }
      // cohort size constant within the cohort; rate is integer division
      assert(g.map(_._5).distinct.length === 1)
      g.foreach(r => assert(r._6 === 1000L * r._4 / r._5))
    }
    // total revenue across cells equals the corpus purchase revenue
    val want = Tables(s, d, "events").where(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100, 0)).cast("long")).collect().head.getLong(0)
    assert(rows.map(_._3).sum === want)
  }

  test("q_seq_match counts equal a driver-side regex over rebuilt journeys") {
    val out = Analytics.seqMatch(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 4)
    val journeys = Tables(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (_, es) =>
        es.sortBy(e => (e._2.getTime, e._3)).map(_._4.head).mkString
      }.toSeq
    out.foreach { case (_, re, nUsers, nTotal, share) =>
      assert(nTotal === journeys.length.toLong)
      val expected = journeys.count(j => re.r.findFirstIn(j).isDefined).toLong
      assert(nUsers === expected, s"pattern $re")
      assert(share === 1000000L * nUsers / nTotal)
    }
    // patterns are non-vacuous both ways: something matches, not everything
    assert(out.exists(_._3 > 0) && out.exists(o => o._3 < o._4))
  }

  test("q_survival_hazard: at-risk telescopes, horizon censors, hazard exact") {
    val rows = Analytics.survivalHazard(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // durations bounded by the 3-day administrative horizon
    assert(rows.forall(_._1 <= 3))
    // telescoping: at_risk(t_i) - ends(t_i) = at_risk(t_{i+1})
    rows.sliding(2).foreach {
      case Array((_, ar1, e1, c1, _), (_, ar2, _, _, _)) =>
        assert(ar1 - e1 - c1 === ar2)
      case _ =>
    }
    // first at-risk = all subjects = every ending accounted for
    assert(rows.head._2 === rows.map(r => r._3 + r._4).sum)
    // exact hazard; censoring genuinely happens on this fixture
    rows.foreach { case (_, ar, e, _, h) => assert(h === 1000000L * e / ar) }
    assert(rows.map(_._4).sum > 0, "censoring path is vacuous")
  }

  test("q_join_fuzzy_name equals the all-pairs formulation; blocking is lossless") {
    val out = Analytics.joinFuzzyName(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val names = Tables(s, d, "part").select("p_name").distinct()
      .collect().map(_.getString(0)).sorted
    val brute = for {
      a <- names; b <- names if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong)
    assert(out.sorted.toSeq === brute.sorted.toSeq)
  }

  test("q_event_sessionize partitions every event; gaps obey the 30-min cut") {
    val out = Analytics.eventSessionize(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    // every event lands in exactly one session
    val nEvents = Tables(s, d, "events").count()
    assert(out.map(_._3).sum === nEvents)
    val gapUs = 1800L * 1000000L
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      // session indices are 1..k dense per user
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      // sessions are disjoint and ordered, and consecutive sessions are
      // separated by MORE than the threshold (else they'd have merged)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 - a._5 > gapUs)
        case _ =>
      }
      // span is consistent with the reported duration (integer seconds)
      sorted.foreach(r => assert(r._7 === (r._5 - r._4) / 1000000L))
    }
    // the cut is non-vacuous: some user has >1 session, and some session
    // has >1 event (intra-session gaps ≤ threshold by construction)
    assert(out.exists(_._2 > 1) && out.exists(_._3 > 1))
  }

  test("q_agg_corr_matrix: full triangle, r ∈ [-1,1], matches direct corr") {
    val rows = Analytics.aggCorrMatrix(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val flags = Tables(s, d, "lineitem").select("l_returnflag").distinct().count()
    // 6 pairs per group, every pair present exactly once, lexicographic long form
    assert(rows.length === 6 * flags)
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(r => (r._2, r._3)).toSet ===
        (for (i <- cols.indices; j <- cols.indices if i < j)
          yield (cols(i), cols(j))).toSet)
    }
    assert(rows.forall(r => r._4.isNaN || (r._4 >= -1.0 && r._4 <= 1.0)))
    // one cell spot-checked against the independent single-pair aggregate
    val want = Tables(s, d, "lineitem").where(col("l_returnflag") === "A")
      .agg(corr(col("l_quantity"), col("l_extendedprice")))
      .collect().head.getDouble(0)
    val got = rows.find(r => r._1 == "A" && r._2 == "l_quantity" &&
      r._3 == "l_extendedprice").get._4
    assert(math.abs(got - want) < 1e-6)
  }

  test("q_timeseries_interpolate: observed pass through; estimates bracketed") {
    val out = Analytics.timeseriesInterpolate(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    assert(out.nonEmpty)
    val byAcct = out.groupBy(_._1)
    byAcct.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      // spine is continuous and endpoints are observed (no extrapolation)
      assert(sorted.head._3 && sorted.last._3)
      // every interpolated value lies within [min, max] of its bracketing
      // observed neighbors (linearity implies betweenness)
      var prev = sorted.head._4
      var i = 1
      while (i < sorted.length) {
        if (!sorted(i)._3) {
          val next = sorted.drop(i).find(_._3).get._4
          val lo = math.min(prev, next); val hi = math.max(prev, next)
          assert(sorted(i)._4 >= lo && sorted(i)._4 <= hi,
            s"acct ${sorted(i)._1} day ${sorted(i)._2}")
        } else prev = sorted(i)._4
        i += 1
      }
    }
    // interpolation actually happened somewhere
    assert(out.exists(!_._3))
  }

  test("q_timeseries_autocorr: 7 lags, r in [-1,1], lag-1 matches direct corr") {
    val out = Analytics.timeseriesAutocorr(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(out.map(_._1).toSeq === (1L to 7L))
    assert(out.forall(r => r._3.isNaN || (r._3 >= -1.0 && r._3 <= 1.0)))
    // independent recomputation of lag-1 via a self-join on the day grain
    val ser = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
    val want = ser.as("a")
      .join(ser.as("b"), expr("b.day = date_add(a.day, 1)"))
      .agg(corr(col("a.cents"), col("b.cents"))).collect().head.getDouble(0)
    val got = out.find(_._1 == 1L).get._3
    assert(math.abs(got - want) < 1e-6)
    // pair counts can't exceed the series length and shrink (weakly) with lag
    val nDays = ser.count()
    assert(out.forall(_._2 <= nDays - 1))
  }

  test("q_graph_common_neighbors: bounds, ordering, one pair recounted") {
    val out = Analytics.graphCommonNeighbors(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length === 20)
    out.foreach { case (sp1, sp2, common, d1, d2, j) =>
      assert(sp1 < sp2)
      assert(common <= math.min(d1, d2))
      assert(j > 0.0 && j <= 1.0)
      // jaccard is consistent with its own integer ingredients
      assert(math.abs(j - common.toDouble / (d1 + d2 - common)) < 1e-6)
    }
    // sorted by common desc with deterministic tie-break
    assert(out.map(_._3).toSeq === out.map(_._3).sortBy(-_).toSeq)
    // recount the top pair's common neighbors independently
    val (sp1, sp2, common, _, _, _) = out.head
    val e = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    val want = e.where(col("sp") === sp1).select("c")
      .intersect(e.where(col("sp") === sp2).select("c")).count()
    assert(common === want)
  }

  test("q_agg_concentration: prefix minimality and share bounds hold") {
    val rows = Analytics.aggConcentration(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, total, n80, share) =>
      assert(n80 >= 1 && n80 <= n)
      assert(share > 0.0 && share <= 1.0)
      assert(total > 0)
    }
    // recompute one nation's n_top80 from the sorted spend vector
    val (nat, _, total, n80, _) = rows.head
    val spend = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .where(col("n_name") === nat)
      .groupBy(col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .orderBy(col("cents").desc, col("c_custkey"))
      .collect().map(_.getLong(1))
    assert(spend.sum === total)
    var cum = 0L; var k = 0
    while (k < spend.length && cum * 5 < total * 4) { cum += spend(k); k += 1 }
    assert(n80.toInt === k)
  }

  test("q_timeseries_decompose re-adds bit-exactly: trend+seasonal+remainder") {
    val rows = Analytics.timeseriesDecompose(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, cents, trend, seasonal, rem) =>
      assert(trend + seasonal + rem === cents * 1000)
    }
    // seasonal index sums to ~0 across the week (means of a zero-mean-ish
    // detrended series): magnitude far below the daily scale
    val uniq = rows.map(r => (r._4)).distinct
    assert(uniq.length <= 7)
  }

  test("q_agg_var_cvar matches a local sort of the delta series") {
    val out = Analytics.aggVarCvar(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.map(_._1).toSeq === Seq(95L, 99L))
    val cents = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("c"))
      .orderBy("day").collect().map(_.getLong(1))
    val deltas = cents.sliding(2).map(p => p(1) - p(0)).toArray.sorted
    out.foreach { case (lvl, n, k, varC, cvar) =>
      assert(n === deltas.length)
      val tp = if (lvl == 95) 5 else 1
      assert(k === (n * tp + 99) / 100)
      assert(varC === deltas(k.toInt - 1))
      val want = deltas.take(k.toInt).sum.toDouble / k
      assert(math.abs(cvar - want) < 1e-6)
      // CVaR (mean of the tail) can never exceed VaR (the tail's max)
      assert(cvar <= varC + 1e-9)
    }
  }

  test("q_window_beta: full frames only; one frame recomputed exactly") {
    val out = Analytics.windowBeta(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(out.nonEmpty)
    // pick one nation and recompute its last emitted beta from the grain
    val nat = out.head._1
    val mine = out.filter(_._1 == nat).sortBy(_._2)
    val grain = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 1, 0)).cast("long").as("x"))
    val xs = grain.where(col("n_name") === nat).orderBy("day")
      .collect().map(r => (r.getDate(1).toString, r.getLong(2)))
    val market = grain.groupBy("day").agg(sum("x").as("y"))
      .orderBy("day").collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    // the nation's first emitted day is its 30th observed day
    assert(mine.head._2 === xs(29)._1)
    val frame = xs.take(30).map { case (dayS, x) => (x, market(dayS)) }
    val n = frame.length.toLong
    val sx = frame.map(_._1).sum; val sy = frame.map(_._2).sum
    val sxy = frame.map(p => p._1 * p._2).sum
    val sxx = frame.map(p => p._1 * p._1).sum
    val want = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    assert(math.abs(mine.head._4 - want) < 1e-6)
  }

  test("q_event_attribution: models agree on totals; channels are touches") {
    val rows = Analytics.eventAttribution(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("click", "view", "none")(r._2)))
    val byModel = rows.groupBy(_._1)
    assert(byModel.keySet === Set("first", "last"))
    // both models partition the SAME purchase set → identical totals
    val totals = byModel.view.mapValues(g => (g.map(_._3).sum, g.map(_._4).sum)).toMap
    assert(totals("first") === totals("last"))
    // and the total equals the directly computed purchase revenue
    val want = Tables(s, d, "events").where(col("event_type") === "purchase")
      .agg(count(lit(1)), sum(round(col("value") * 100, 0)).cast("long"))
      .collect().head
    assert(totals("first") === ((want.getLong(0), want.getLong(1))))
  }

  test("q_agg_hhi: bounds 1/n <= HHI <= 1 and top_share^2 <= HHI <= top_share") {
    val rows = Analytics.aggHhi(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (nat, n, total, hhi, top) =>
      assert(total > 0 && n > 0)
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-9, s"$nat hhi=$hhi")
      assert(hhi >= top * top - 1e-6, s"$nat: hhi below max share squared")
      assert(hhi <= top + 1e-6, s"$nat: hhi above max share")
    }
  }

  test("q_graph_kcore_peel: median threshold peels both sides; counts agree") {
    val rows = Analytics.graphKcorePeel(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq === Seq("cust", "supp"))
    val ne = rows.map(_._7).distinct
    assert(ne.length === 1 && ne.head > 0)
    rows.foreach { case (_, med, before, after, minD, maxD, edges) =>
      assert(med >= 1)
      assert(after <= before && after > 0)
      assert(minD >= 1 && minD <= maxD && maxD <= edges)
    }
    // the median threshold actually cuts somewhere at this SF
    assert(rows.exists(r => r._4 < r._3))
  }

  test("q_funnel_latency: rate and exact disc percentiles recompute locally") {
    val row = Analytics.funnelLatency(s, d).collect().head
    val (nSign, nConv, rate, p50, p90) = (row.getLong(0), row.getLong(1),
      row.getDouble(2), row.getLong(3), row.getLong(4))
    assert(nConv <= nSign && nConv > 0)
    assert(math.abs(rate - nConv.toDouble / nSign) < 1e-6)
    assert(p50 <= p90 && p50 >= 0)
    // local recomputation from raw events
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val signups = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, g) => u -> g.map(_._3).min }
    assert(nSign === signups.size)
    val lats = ev.filter(_._2 == "purchase")
      .flatMap { case (u, _, t0) => signups.get(u)
        .filter(_ <= t0).map(st => (u, t0 - st)) }
      .groupBy(_._1).map { case (_, g) => g.map(_._2).min / 1000000 }
      .toArray.sorted
    assert(nConv === lats.length)
    assert(p50 === lats((lats.length * 50 + 99) / 100 - 1))
    assert(p90 === lats((lats.length * 90 + 99) / 100 - 1))
  }

  test("q_timeseries_growth: ratio and trailing average law") {
    val rows = Analytics.timeseriesGrowth(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.length > 4)
    assert(rows.head._3.isEmpty, "first week has no WoW ratio")
    assert(rows.take(3).forall(_._4.isEmpty), "trailing avg needs 4 weeks")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        b._3.foreach(wow => assert(math.abs(wow - b._2.toDouble / a._2) < 1e-6))
      case _ =>
    }
    rows.sliding(4).filter(_.length == 4).foreach { win =>
      win.last._4.foreach { avg4 =>
        assert(avg4 === 1000L * win.map(_._2).sum / 4)
      }
    }
  }

  test("q_window_lag_features: lags point at the true shifted rows") {
    val rows = Analytics.windowLagFeatures(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    // rebuild one nation's full series and check each feature row against it
    val nat = rows.head._1
    val ser = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .where(col("n_name") === nat)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    val idx = ser.map(_._1).zipWithIndex.toMap
    rows.filter(_._1 == nat).foreach {
      case (_, dayS, cents, l1, l7, l28, mean7, max7) =>
        val i = idx(dayS)
        assert(i >= 28, "emitted before lag28 exists")
        assert(cents === ser(i)._2 && l1 === ser(i - 1)._2 &&
          l7 === ser(i - 7)._2 && l28 === ser(i - 28)._2)
        val win = ser.slice(i - 6, i + 1).map(_._2)
        assert(mean7 === 1000L * win.sum / 7 && max7 === win.max)
    }
  }

  test("q_sample_balanced: every class keeps exactly the min class size") {
    val rows = Analytics.sampleBalanced(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val m = rows.map(_._2).min
    rows.foreach { case (lang, orig, kept, ckSum) =>
      assert(kept === m, s"$lang kept $kept != min class $m")
      assert(kept <= orig && ckSum > 0)
    }
    // the kept set is the deterministic hash-min prefix: replay one class
    val (lang, _, _, ckSum) = rows.head
    val want = Tables(s, d, "documents").where(col("lang") === lang)
      .select("doc_id").collect().map(_.getLong(0))
      .sortBy(id => ((id * 2654435761L) % 4294967296L, id))
      .take(m.toInt).sum
    assert(ckSum === want)
  }

  test("q_event_trigrams: counts match a local sequence scan") {
    val out = Analytics.eventTrigrams(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length === 20)
    assert(out.map(_._2).toSeq === out.map(_._2).sortBy(-_).toSeq)
    val ev = Tables(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val local = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3)).map(_._4)
      sorted.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    out.foreach { case (path, n) => assert(local(path) === n, path) }
  }

  test("q_timeseries_anomaly_stl: breach law matches recomputed MAD") {
    val rows = Analytics.timeseriesAnomalyStl(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val mad = rows.map(r => BigInt(r._3).abs).sum / rows.length
    rows.foreach { case (day, _, rem, breach) =>
      assert(breach === (BigInt(rem).abs > mad * 5), day)
    }
    // the deseasonalized detector is non-degenerate: not everything is an
    // anomaly, and the remainder has both signs
    assert(rows.count(_._4) < rows.length / 2)
    assert(rows.exists(_._3 > 0) && rows.exists(_._3 < 0))
  }

  test("q_agg_mde_power: the design formula recounts from raw moments") {
    val rows = Analytics.aggMdePower(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val (g0, n0, mean0, var0, nArm, mde) = rows.head
    val cents = Tables(s, d, "orders")
      .where(col("o_orderpriority") === g0)
      .select(round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(_.getLong(0))
    assert(cents.length.toLong === n0)
    val sc = cents.sum
    val scc = cents.map(c => BigInt(c) * BigInt(c)).sum
    assert(mean0 === sc * 10000L / n0)
    val v = (scc.toDouble - sc.toDouble * sc / n0) / n0
    assert(var0 === math.round(v))
    val z = (1959964L + 841621L) / 1e6
    val delta = 0.02 * sc / n0
    assert(nArm === math.round(2 * z * z * v / (delta * delta)))
    assert(mde === math.round(
      math.sqrt(2 * z * z * v / (n0 / 2.0)) / (sc.toDouble / n0) * 1e6))
    // the design numbers are meaningful: positive, and a segment needs
    // MORE samples per arm than it currently holds iff its current MDE
    // exceeds the 2% planning target
    rows.foreach { case (g, n, _, _, arm, m) =>
      assert(arm > 0 && m > 0)
      assert((2 * arm > n) === (m > 20000L),
        s"group $g: n/arm $arm vs n $n inconsistent with MDE $m ppm")
    }
  }

  test("q_agg_winsorize: clamp bounds and robust mean recount exactly") {
    val rows = Analytics.aggWinsorize(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val (g0, n0, mean0, wmean0, lo0, hi0, p05, p95) = rows.head
    val cents = Tables(s, d, "orders")
      .where(col("o_orderpriority") === g0)
      .select(round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(_.getLong(0)).sorted
    assert(cents.length.toLong === n0)
    assert(p05 === cents(((n0 * 5 + 99) / 100 - 1).toInt))
    assert(p95 === cents(((n0 * 95 + 99) / 100 - 1).toInt))
    assert(mean0 === cents.sum * 10000L / n0)
    val clamped = cents.map(c => math.max(math.min(c, p95), p05))
    assert(wmean0 === clamped.sum * 10000L / n0)
    assert(lo0 === cents.count(_ < p05) && hi0 === cents.count(_ > p95))
    // winsorizing must bite on a skewed revenue tail
    rows.foreach { case (g, _, m, wm, l, h, _, _) =>
      assert(l > 0 && h > 0, s"group $g clamped nothing — vacuous")
      assert(wm !== m, s"group $g winsorized mean equals the raw mean")
    }
  }

  test("q_agg_bootstrap_ci: resample means replay from the keyed md5 ladder") {
    val rows = Analytics.aggBootstrapCi(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (g, n, mean, lo, hi) =>
      assert(n > 0)
      assert(lo < hi, s"group $g has a degenerate interval [$lo, $hi]")
      assert(lo <= mean && mean <= hi,
        s"group $g sample mean $mean outside its own bootstrap interval [$lo, $hi]")
    }
    // driver replay of one group's resample means through the same ladder
    val (g0, n0, mean0, lo0, hi0) = rows.head
    val base = Tables(s, d, "orders")
      .where(col("o_orderpriority") === g0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(base.length.toLong === n0)
    assert(mean0 === base.map(_._2).sum * 10000L / n0)
    def weight(key: Long, b: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      // draw b reads digit group (b mod 10) of hash group (b div 10)
      val hex = md.digest(s"graftboot:$key:${b / 10}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val v = hex.slice((b % 10) * 3, (b % 10) * 3 + 3)
        .map("0123456789abcdef".indexOf(_))
        .foldLeft(0)((a, x) => a * 16 + x)
      if (v < 1507) 0 else if (v < 3014) 1 else if (v < 3767) 2
      else if (v < 4018) 3 else if (v < 4081) 4 else if (v < 4094) 5 else 6
    }
    val means = (0 until 40).flatMap { b =>
      val ws = base.map { case (k, c) => (weight(k, b), c) }
      val tot = ws.map(_._1).sum
      if (tot == 0) None else Some(ws.map { case (w, c) => w * c }.sum * 10000L / tot)
    }.sorted
    assert(lo0 === means.head, "ci_lo is not the 1st ranked resample mean")
    assert(hi0 === means(38), "ci_hi is not the 39th ranked resample mean")
  }

  test("q_agg_ab_test: cells recount locally; z matches the pooled formula") {
    val row = Analytics.aggAbTest(s, d).collect().head
    val (n1, x1, n2, x2) = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3))
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val users = ev.groupBy(_._1).toSeq.map { case (u, g) =>
      val conv = g.filter(_._2 == "purchase").map(_._3).sum >= 50000L
      val arm = ((u * 2654435761L) % 4294967296L) % 2
      (arm, conv)
    }
    assert(n1 === users.count(_._1 == 1))
    assert(x1 === users.count(u => u._1 == 1 && u._2))
    assert(n2 === users.count(_._1 == 0))
    assert(x2 === users.count(u => u._1 == 0 && u._2))
    // both arms populated, neither degenerate
    assert(n1 > 0 && n2 > 0 && x1 < n1 && x2 < n2 && x1 > 0 && x2 > 0)
    val p = (x1 + x2).toDouble / (n1 + n2)
    val z = (x1.toDouble / n1 - x2.toDouble / n2) /
      math.sqrt(p * (1 - p) * (1.0 / n1 + 1.0 / n2))
    assert(math.abs(row.getDouble(7) - z) < 1e-6)
  }

  test("q_event_attribution_decay: credit bounded by revenue; horizon law") {
    val rows = Analytics.eventAttributionDecay(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (ch, n, nIn, rev, credit) =>
      assert(nIn <= n)
      // micro-weights are ≤ 1e6, so credit ≤ revenue × 1e6; 'none' gets 0
      assert(credit >= 0 && credit <= rev * 1000000L)
      if (ch == "none") assert(credit === 0L && nIn === 0L)
    }
    // totals reconcile with the undecayed attribution's last-touch model
    val undecayed = Analytics.eventAttribution(s, d).collect()
      .filter(_.getString(0) == "last")
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val mine = rows.map(r => (r._1, r._2, r._4)).sortBy(_._1)
    assert(mine.toSeq === undecayed.sortBy(_._1).toSeq)
    // decay is non-vacuous: some credit strictly between 0 and max
    assert(rows.exists(r => r._5 > 0 && r._5 < r._4 * 1000000L))
  }

  test("q_agg_ab_cuped: theta/uplift recompute locally; variance law holds") {
    val row = Analytics.aggAbCuped(s, d).collect().head
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("event_type"), round(col("value"), 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val users = ev.groupBy(_._1).toSeq.map { case (u, g) =>
      val y = g.filter(_._2 == "purchase").map(_._3).sum
      val x = g.filter(e => e._2 == "click" || e._2 == "view").map(_._3).sum
      val arm = ((u * 2654435761L) % 4294967296L) % 2
      (arm, x, y)
    }
    val n = users.length.toLong
    val sx = users.map(_._2).sum; val sy = users.map(_._3).sum
    val sxy = users.map(u => u._2 * u._3).sum
    val sxx = users.map(u => u._2 * u._2).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    assert(math.abs(row.getDouble(3) - theta) < 1e-6)
    val a1 = users.filter(_._1 == 1); val a0 = users.filter(_._1 == 0)
    assert(row.getLong(0) === a1.length && row.getLong(1) === a0.length)
    val dRaw = a1.map(_._3).sum.toDouble / a1.length -
      a0.map(_._3).sum.toDouble / a0.length
    val dX = a1.map(_._2).sum.toDouble / a1.length -
      a0.map(_._2).sum.toDouble / a0.length
    assert(math.abs(row.getDouble(2) - dRaw) < 1e-6)
    assert(math.abs(row.getDouble(4) - (dRaw - theta * dX)) < 1e-6)
    // ρ² is a valid proportion and the adjustment is non-vacuous
    assert(row.getDouble(5) > 0.0 && row.getDouble(5) < 1.0)
    assert(math.abs(row.getDouble(4) - row.getDouble(2)) > 1e-9)
  }

  test("q_graph_modularity: identities hold; Q bounded; one cell recounted") {
    val rows = Analytics.graphModularity(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // Σ strengths = 2W and Σ intra ≤ W (each edge's weight counted once)
    val sSum = rows.map(_._3).sum
    val wccSum = rows.map(_._4).sum
    assert(sSum % 2 === 0 && wccSum <= sSum / 2)
    rows.foreach { case (_, nNodes, sC, wCC, _) =>
      // intra-community edges contribute to the community strength TWICE
      assert(nNodes > 0 && wCC >= 0 && sC >= 2 * wCC)
    }
    // Q = Σ contributions lies in Newman's [-0.5, 1) range
    val q = rows.map(_._5).sum
    assert(q > -0.5 && q < 1.0)
  }

  test("q_anomaly_cusum matches the sequential textbook recursion exactly") {
    val rows = Analytics.anomalyCusum(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    // rebuild mean / MAD in integer milli-cents exactly as the query does
    val cents = rows.map(_._2)
    val meanMilli = cents.map(c => BigInt(c) * 1000).sum / cents.length
    val dev = cents.map(c => BigInt(c) * 1000 - meanMilli)
    val madMilli = dev.map(_.abs).sum / dev.length
    // S_t = max(0, S_{t-1} + dev_t), both directions, sequential reference
    var hi = BigInt(0); var lo = BigInt(0)
    rows.zip(dev).foreach { case ((_, _, cHi, cLo, bHi, bLo), dv) =>
      hi = (hi + dv).max(0); lo = (lo - dv).max(0)
      assert(BigInt(cHi) === hi, s"cusum_hi mismatch")
      assert(BigInt(cLo) === lo, s"cusum_lo mismatch")
      assert(bHi === (hi > madMilli * 5) && bLo === (lo > madMilli * 5))
    }
  }

  test("connected components: high-diameter path + planted components, exact labels") {
    import s.implicits._
    // a 64-node PATH (diameter 63 — the case plain min-label propagation
    // pays O(diameter) rounds for and the star alternation must not),
    // plus a planted triangle, one extra 2-node component, and a ring
    val path = (1L until 64L).map(i => (i, i + 1))
    val planted = Seq((100L, 101L), (101L, 102L), (100L, 102L), // triangle
      (200L, 201L)) // pair
    val ring = (300L until 310L).map(i => (i, i + 1)) :+ (310L, 300L)
    val edges = (path ++ planted ++ ring).toDF("a", "b")
    val labels = Analytics.ccLabels(s, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 64L).foreach(n => assert(labels(n) === 1L,
      s"path node $n must label to the path min"))
    Seq(100L, 101L, 102L).foreach(n => assert(labels(n) === 100L))
    assert(labels(200L) === 200L && labels(201L) === 200L)
    (300L to 310L).foreach(n => assert(labels(n) === 300L))
    assert(labels.size === 64 + 3 + 2 + 11, "every edge endpoint labeled once")
  }

  test("connected components: star rounds preserve connectivity and strictly shrink labels") {
    import s.implicits._
    // one large-star + one small-star on the path graph must (a) keep the
    // node set connected exactly as before (same final components) and
    // (b) never emit a pair (u, v) with v >= u — the orientation invariant
    // the iteration's termination argument rests on
    val edges = (1L until 32L).map(i => (i, i + 1)).toDF("a", "b")
    val e0 = edges.select(col("a").as("u"), col("b").as("v"))
    val once = Analytics.ccSmallStar(Analytics.ccLargeStar(e0))
    val bad = once.where(col("v") >= col("u")).count()
    assert(bad === 0L, "star rounds must keep the (big, small) orientation")
    // connectivity preserved: running the full iteration from the
    // once-transformed set gives the same single component
    val fromOnce = Analytics.ccLabels(s,
      once.select(col("u").as("a"), col("v").as("b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromOnce.values.toSet === Set(1L),
      "one star round must not split or merge components")
  }

  test("q_graph_louvain_step: every decision matches a driver-side gain recompute") {
    val out = Analytics.graphLouvainStep(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getBoolean(4)))
    // rebuild the graph + communities driver-side from the same staged
    // wedge table and recompute each node's best move independently
    val wedges = Analytics.supplierWedgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val comm = Tables(s, d, "supplier")
      .join(Tables(s, d, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val w2 = wedges.map(_._3).sum // 2W term base: W = sum of w
    val kuc = scala.collection.mutable.Map[(Long, String), Long]()
      .withDefaultValue(0L)
    val ku = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    wedges.foreach { case (a, b, w) =>
      kuc((a, comm(b))) += w; kuc((b, comm(a))) += w
      ku(a) += w; ku(b) += w
    }
    val sigma = ku.toSeq.groupBy { case (n, _) => comm(n) }
      .map { case (c, g) => c -> g.map(_._2).sum }
    assert(out.length === ku.size)
    out.foreach { case (u, cu, bestC, gainScaled, moved) =>
      assert(cu === comm(u))
      val nbrComms = wedges.collect {
        case (a, b, _) if a == u => comm(b)
        case (a, b, _) if b == u => comm(a)
      }.distinct.filter(_ != cu)
      val gains = nbrComms.map { cb =>
        cb -> (2L * w2 * (kuc((u, cb)) - kuc((u, cu)))
          - ku(u) * (sigma(cb) - sigma(cu) + ku(u)))
      }
      if (gains.isEmpty || gains.map(_._2).max <= 0L) {
        assert(!moved && bestC === cu && gainScaled === 0L,
          s"node $u must stay (no positive gain)")
      } else {
        val maxG = gains.map(_._2).max
        val expectC = gains.filter(_._2 == maxG).map(_._1).min
        assert(moved && bestC === expectC && gainScaled === maxG,
          s"node $u: expected move to $expectC gain $maxG, " +
            s"got $bestC gain $gainScaled")
      }
    }
    // the step is non-vacuous on the fixture: some nodes genuinely move
    assert(out.exists(_._5), "the nation partition should not be optimal")
  }

  test("q_graph_community_contract conserves weight and members; self-loops carry intra weight") {
    val contracted = Analytics.graphCommunityContract(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val wedges = Analytics.supplierWedgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val moves = Analytics.graphLouvainStep(s, d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // total weight conserved: contraction re-buckets, never drops
    assert(contracted.map(_._3).sum === wedges.map(_._3).sum,
      "contracted edge weights must sum to the original graph's weight")
    // member counts partition the node set
    assert(contracted.map(c => c._1 -> c._4).distinct.map(_._2).sum
      >= moves.size.toLong, "every node lands in some super-node")
    val memberCounts = moves.values.groupBy(identity).map {
      case (c, g) => c -> g.size.toLong
    }
    contracted.map(c => c._1 -> c._4).distinct.foreach { case (c, n) =>
      assert(n === memberCounts(c), s"member count mismatch for $c")
    }
    // self-loop rows equal the driver-computed intra-community weight
    val intra = wedges.collect {
      case (a, b, w) if moves(a) == moves(b) => moves(a) -> w
    }.groupBy(_._1).map { case (c, g) => c -> g.map(_._2).sum }
    contracted.filter(c => c._1 == c._2).foreach { case (c, _, w, _) =>
      assert(w === intra(c), s"self-loop weight mismatch for $c")
    }
    assert(contracted.exists(c => c._1 == c._2),
      "some community must retain intra-community weight")
    // the contracted graph is community-grain — strictly smaller
    assert(contracted.length < wedges.length,
      "contraction must shrink the edge list")
  }

  test("q_graph_connected_components labels are a valid CC labeling of the support-2 graph") {
    // engine output re-checked against a driver-side union-find over the
    // SAME staged edge set: identical component labels (min-id canonical)
    // and sizes — independent of the oracle's recursive-CTE walk
    val out = Analytics.graphConnectedComponents(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(n => n -> find(n)).toMap
    val sizes = comp.values.groupBy(identity).map { case (c, g) => c -> g.size }
    assert(out.length === comp.size)
    out.foreach { case (part, component, csize) =>
      assert(component === comp(part), s"component mismatch at $part")
      assert(csize === sizes(comp(part)).toLong, s"size mismatch at $part")
    }
  }

  test("q_graph_louvain_level2: gains replay from the contracted graph; W is invariant") {
    val out = Analytics.graphLouvainLevel2(s, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getBoolean(5))))
    assert(out.nonEmpty)
    val contracted = Analytics.graphCommunityContract(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // contraction preserves total weight — both levels share one
    // modularity scale
    val twContracted = contracted.map(_._3).sum
    val twWedges = Analytics.supplierWedgesForTest(s, d)
      .agg(sum(col("w"))).head.getLong(0)
    assert(twContracted === twWedges, "contraction must preserve W")
    // driver replay of the singleton-restart merge gains
    val selfW = contracted.collect { case (a, b, w) if a == b => a -> w }.toMap
    val nonself = contracted.filter(t => t._1 != t._2)
    val kExt = (nonself.map(t => t._1 -> t._3) ++
      nonself.map(t => t._2 -> t._3))
      .groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).sum }
    val nodes = out.map(_._1)
    val kU = nodes.map(u =>
      u -> (kExt.getOrElse(u, 0L) + 2L * selfW.getOrElse(u, 0L))).toMap
    val nbrs = (nonself.map(t => (t._1, t._2, t._3)) ++
      nonself.map(t => (t._2, t._1, t._3)))
    out.foreach { case (u, (nMembers, k, bestMerge, gainScaled, moved)) =>
      assert(k === kU(u), s"strength mismatch at $u")
      val cands = nbrs.filter(_._1 == u)
        .map { case (_, v, w) => (v, 2L * twContracted * w - kU(u) * kU(v)) }
      if (cands.isEmpty) {
        assert(!moved && bestMerge === u && gainScaled === 0L)
      } else {
        val (bv, bg) = cands.minBy { case (v, g) => (-g, v) }
        if (bg > 0L) {
          assert(moved && bestMerge === bv && gainScaled === bg,
            s"merge decision mismatch at $u")
        } else {
          assert(!moved && bestMerge === u && gainScaled === 0L)
        }
      }
      assert(moved === (bestMerge != u))
    }
    assert(out.exists(_._2._5), "the level-2 pass must find at least one merge")
  }

  test("q_graph_louvain_full: ledger matches the level operators and converges") {
    val rows = Analytics.graphLouvainFull(s, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1 to Analytics.LouvainLevels).toSeq)
    // level 1 equals the staged move step's own readout
    val d1 = Analytics.graphLouvainStep(s, d).collect()
    assert(rows(0)._2 === d1.length.toLong)
    assert(rows(0)._3 === d1.count(_.getAs[Boolean]("moved")).toLong)
    assert(rows(0)._4 === d1.map(_.getAs[Long]("gain_scaled")).sum)
    // level 2 runs the level-2 operator's kernel on the same contracted
    // graph; the loop APPLIES the downhill-only (oscillation-safe) subset
    // of its positive-gain decisions, so its stats are bounded by the
    // raw readout's
    val d2 = Analytics.graphLouvainLevel2(s, d).collect()
    assert(rows(1)._2 === d2.length.toLong)
    assert(rows(1)._3 <= d2.count(_.getAs[Boolean]("moved")).toLong)
    assert(rows(1)._3 > 0L, "level 2 must apply at least one merge")
    assert(rows(1)._4 <= d2.map(_.getAs[Long]("gain_scaled")).sum)
    // communities only ever collapse, and the loop reaches a no-move level
    assert(rows.map(_._5).sliding(2).forall(p => p(1) <= p(0)))
    assert(rows.last._3 === 0L,
      "the loop must converge (zero moves) within the unrolled levels")
    assert(rows.exists(_._3 > 0L), "at least one level must move")
  }

  test("q_graph_coreness: h-index fixpoint equals driver-side min-degree peeling") {
    // the engine runs the DECENTRALIZED h-index iteration; this replay
    // runs the SEQUENTIAL peeling definition — their equality is the
    // Lü–Zhou theorem the operator stands on, re-proven on the fixture
    val out = Analytics.graphCoreness(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    val deg = scala.collection.mutable.Map(adj.map { case (v, ns) => v -> ns.size }.toSeq: _*)
    val live = scala.collection.mutable.Set(adj.keys.toSeq: _*)
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 0
    while (live.nonEmpty) {
      k = math.max(k, live.iterator.map(deg).min)
      val peel = scala.collection.mutable.Queue(live.filter(deg(_) <= k).toSeq: _*)
      while (peel.nonEmpty) {
        val v = peel.dequeue()
        if (live.remove(v)) {
          core(v) = k.toLong
          adj(v).foreach { u =>
            if (live(u)) {
              deg(u) -= 1
              if (deg(u) <= k) peel += u
            }
          }
        }
      }
    }
    assert(out.size === core.size)
    core.foreach { case (v, c) =>
      assert(out(v) === c, s"coreness mismatch at $v")
    }
    assert(out.values.max >= 2L, "fixture must have a nontrivial core")
  }

  test("q_graph_coreness oracle validity bounds hold on every oracle tier") {
    // the DuckDB oracle pins 24 unrolled h-index rounds and an h-search
    // cap of 64 — valid only while the tier's max degree ≤ 64 and the
    // iteration converges within 24 rounds (r15 advisory: check the
    // bound, don't assume it). Replayed driver-side on the spec tier AND
    // the driver's sf0.01 oracle tier.
    Seq(d, "/root/testdata/sf0.01").distinct
      .filter(t => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t)))
      .foreach { tier =>
        val edges = Analytics.ccEdgesForTest(s, tier).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.ArrayBuffer[Long]]()
        edges.foreach { case (a, b) =>
          adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer()) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer()) += a
        }
        val maxDeg = adj.values.map(_.size).max
        assert(maxDeg <= 64,
          s"$tier: max degree $maxDeg exceeds the oracle's h-search cap 64")
        // h-index iteration, counting rounds to the exact fixpoint
        var c = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
        var rounds = 0
        var converged = false
        while (!converged) {
          rounds += 1
          assert(rounds <= 24,
            s"$tier: h-index iteration needs > 24 rounds — oracle unroll too shallow")
          val next = adj.map { case (v, ns) =>
            val vals = ns.map(c).sortBy(-_)
            var h = 0L
            vals.zipWithIndex.foreach { case (value, i) =>
              h = math.max(h, math.min(i + 1L, value))
            }
            v -> math.min(c(v), h)
          }.toMap
          converged = next == c
          c = next
        }
      }
  }

  test("q_graph_pagerank_full: mass conserved every round; engine equals the driver replay") {
    val out = Analytics.graphPagerankFull(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Analytics.sccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val m = n * 1000000L
    val mn = nodes.min
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to Analytics.PagerankRounds).foreach { round =>
      val inflow = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) => inflow(b) += r(a) / outdeg(a) }
      val damped = nodes.map(v => v -> 85L * inflow(v) / 100L).toMap
      val residue = m - damped.values.sum
      assert(residue >= 0L, s"round $round: damped mass exceeded total")
      r = nodes.map(v =>
        v -> (damped(v) + residue / n + (if (v == mn) residue % n else 0L))).toMap
      assert(r.values.sum === m, s"round $round: mass not conserved")
    }
    assert(out.values.sum === m, "engine output must carry the full mass")
    assert(out === r, "engine fixpoint must equal the exact-integer replay")
    assert(out.values.toSet.size > 1, "ranks must differentiate nodes")
  }

  test("q_timeseries_crosscorr: one coefficient replays driver-side; bounds hold") {
    val out = Analytics.timeseriesCrosscorr(s, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
      .toMap
    assert(out.nonEmpty)
    out.foreach { case ((_, lag), (n, rr)) =>
      assert(lag >= -3L && lag <= 3L)
      assert(n >= 12L, "the release floor must hold")
      assert(rr.isNaN || (rr >= -1.000001 && rr <= 1.000001))
    }
    // driver replay of one released coefficient from the raw rollup
    val obs = Tables(s, d, "orders")
      .groupBy((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val anchor = obs.filter(_._1 == 0L).map(t => t._2 -> t._3).toMap
    val ((acct, lag), (nOut, rOut)) = out.head
    val pairs = obs.filter(_._1 == acct).flatMap { case (_, mon, x) =>
      anchor.get(mon.plusMonths(lag)).map(y => (x.toDouble, y.toDouble))
    }
    assert(pairs.length.toLong === nOut)
    val n = pairs.length
    val mx = pairs.map(_._1).sum / n
    val my = pairs.map(_._2).sum / n
    val cov = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
    val sx = math.sqrt(pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum)
    val sy = math.sqrt(pairs.map(p => (p._2 - my) * (p._2 - my)).sum)
    val rRef = cov / (sx * sy)
    assert(math.abs(rRef - rOut) < 1e-4,
      s"acct=$acct lag=$lag: engine $rOut vs replay $rRef")
  }

  test("q_graph_ppr: mass conserved; seeds concentrate mass vs uniform PageRank") {
    val ppr = Analytics.graphPpr(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val uniform = Analytics.graphPagerankFull(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ppr.length.toLong
    assert(ppr.map(_._2).sum === n * 1000000L, "PPR must conserve total mass")
    assert(ppr.exists(_._3) && ppr.exists(!_._3))
    // restart mass returns to seeds, so the seed set holds strictly more
    // mass under PPR than under the uniform teleport
    val seedPpr = ppr.filter(_._3).map(_._2).sum
    val seedUniform = ppr.filter(_._3).map(t => uniform(t._1)).sum
    assert(seedPpr > seedUniform,
      s"personalization must concentrate mass on seeds ($seedPpr vs $seedUniform)")
    // non-seed mass only arrives through edges: any positive non-seed
    // rank is flow-through, and some must exist on this graph
    assert(ppr.exists(t => !t._3 && t._2 > 0L))
  }

  test("q_graph_scc labels match a driver-side Tarjan over the staged directed graph") {
    // engine MultiStep decomposition re-checked against an iterative
    // Tarjan over the SAME staged edge set (min-id canonical labels) —
    // independent of the oracle's recursive-CTE mutual-reachability walk
    val out = Analytics.graphScc(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = Analytics.sccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val g = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
      .withDefaultValue(Array.empty[Long])
    val idx = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onstk = scala.collection.mutable.Set[Long]()
    val stk = scala.collection.mutable.ArrayBuffer[Long]()
    val label = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    def strong(v0: Long): Unit = {
      val work = scala.collection.mutable.Stack[(Long, Int)]((v0, 0))
      while (work.nonEmpty) {
        val (v, pi) = work.pop()
        if (pi == 0) {
          idx(v) = counter; low(v) = counter; counter += 1
          stk += v; onstk += v
        }
        var recursed = false
        var i = pi
        val nb = g(v)
        while (i < nb.length && !recursed) {
          val w = nb(i)
          if (!idx.contains(w)) {
            work.push((v, i + 1)); work.push((w, 0)); recursed = true
          } else {
            if (onstk(w)) low(v) = math.min(low(v), idx(w))
            i += 1
          }
        }
        if (!recursed) {
          if (low(v) == idx(v)) {
            var comp = List.empty[Long]
            var stop = false
            while (!stop) {
              val w = stk.remove(stk.length - 1); onstk -= w; comp ::= w
              if (w == v) stop = true
            }
            val m = comp.min
            comp.foreach(n => label(n) = m)
          }
          if (work.nonEmpty) {
            val (pv, _) = work.top
            low(pv) = math.min(low(pv), low(v))
          }
        }
      }
    }
    nodes.foreach(v => if (!idx.contains(v)) strong(v))
    val sizes = label.values.groupBy(identity).map { case (c, m) => c -> m.size }
    assert(out.length === nodes.length)
    out.foreach { case (part, scc, sz) =>
      assert(scc === label(part), s"scc mismatch at $part")
      assert(sz === sizes(label(part)).toLong, s"scc size mismatch at $part")
    }
  }

  test("q_graph_scc: planted cycle collapses, planted DAG edge stays out") {
    import s.implicits._
    // cycle 10→11→12→10, a DAG edge hanging off it (12→13), and a
    // disconnected 2-chain — trim must retire 13/20/21 as singletons,
    // FW-BW must collapse the cycle to its min id
    val e = Seq((10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), (20L, 21L))
      .toDF("a", "b")
    val lab = Analytics.sccLabels(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lab.size === 6)
    assert(lab(10L) === 10L && lab(11L) === 10L && lab(12L) === 10L,
      "cycle members must share the min-id label")
    assert(lab(13L) === 13L, "the DAG successor of a cycle is its own SCC")
    assert(lab(20L) === 20L && lab(21L) === 21L)
  }

  test("q_timeseries_holt_winters replays driver-side from the monthly rollup") {
    val out = Analytics.timeseriesHoltWinters(s, d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val obs = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    def di(a: Long, b: Long): Long = a / b // Long / truncates — Spark div law
    val expected = obs.groupBy(_._1).collect {
      case (acct, rows) if rows.length >= 25 =>
        val xs = rows.sortBy(_._2).map(_._3)
        val n = xs.length
        val s1 = xs.slice(0, 12).sum
        val s2 = xs.slice(12, 24).sum
        var l = di(s1, 12)
        var b = di(s2 - s1, 144)
        val seas = xs.slice(0, 12).map(_ - l)
        var sae = 0L
        (13 to n).foreach { t =>
          val x = xs(t - 1)
          val j = (t - 1) % 12
          val so = seas(j)
          sae += math.abs(x - (l + b + so))
          val ln = di((x - so) + l + b, 2)
          val bn = di((ln - l) + 3 * b, 4)
          seas(j) = di((x - ln) + so, 2)
          l = ln; b = bn
        }
        val maeHw = di(sae, n - 12)
        val maeNaive = di((1 until n).map(i => math.abs(xs(i) - xs(i - 1))).sum, n - 1)
        acct -> ((n.toLong, l, b, l + b + seas(n % 12), maeHw, maeNaive,
          di(1000000L * maeHw, maeNaive)))
    }
    assert(out.keySet === expected.map(_._1).toSet)
    expected.foreach { case (acct, exp) =>
      assert(out(acct) === exp, s"Holt-Winters state mismatch at acct $acct")
    }
  }

  test("q_interval_allen: the 13 relations partition the pair space exactly") {
    val out = Analytics.intervalAllen(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.keySet.size === 13)
    val nEvents = Tables(s, d, "events").count()
    // the partition property: every (activity, window) pair lands in
    // exactly one relation — a mis-ordered or overlapping CASE arm breaks
    // this sum before it breaks any single count
    assert(out.values.sum === nEvents * 100L,
      "relation counts must partition activities x windows")
    assert(out("during") > 0L, "short activities inside long windows")
    assert(out("before") > 0L && out("after") > 0L)
    assert(out("overlaps") + out("overlapped_by") > 0L,
      "window edges must cut some activities")
  }

  test("q_timeseries_dtw replays driver-side; banded paths stay finite") {
    val out = Analytics.timeseriesDtw(s, d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val obs = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val ser = obs.groupBy(_._1).map { case (a, rows) =>
      a -> rows.sortBy(_._2).map(_._3) }
    val ys = ser(0L); val m = ys.length
    val inf = 1000000000000000L
    def dtw(xs: Array[Long], band: Long): Long = {
      val n = xs.length
      var prev = (0L +: Array.fill(m)(inf)).toArray
      (1 to n).foreach { i =>
        val cur = Array.fill(m + 1)(inf)
        (1 to m).foreach { j =>
          if (math.abs(i - j) <= band)
            cur(j) = math.abs(xs(i - 1) - ys(j - 1)) +
              math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        }
        prev = cur
      }
      prev(m)
    }
    val want = ser.collect { case (a, xs) if a != 0L =>
      val cost = dtw(xs, math.max(12L, math.abs(xs.length - m).toLong))
      a -> ((xs.length.toLong, cost, cost / (xs.length + m)))
    }
    assert(out.keySet === want.keySet)
    want.foreach { case (a, exp) =>
      assert(out(a) === exp, s"DTW mismatch at acct $a")
    }
    // finite = a warp path exists inside the band for every account, and
    // costs are genuinely discriminative (not all equal)
    assert(out.values.forall(_._2 < inf))
    assert(out.values.map(_._2).toSet.size > 1)
  }

  test("q_graph_random_walk replays driver-side: md5 picks, sorted ranks, dead-end nulls") {
    val out = Analytics.graphRandomWalk(s, d).collect()
      .map(r => (r.getLong(0),
        (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))),
        r.getLong(5)))
    val edges = Analytics.sccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (a, es) =>
      a -> es.map(_._2).sorted.toIndexedSeq }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h4(str: String): Long = {
      val hex = md.digest(str.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    def walkOf(seed: Long): Seq[Option[Long]] = {
      var cur: Option[Long] = Some(seed)
      (1 to 4).map { i =>
        cur = cur.flatMap { v =>
          adj.get(v).map(ns => ns((h4(s"graftwalk:$v:$i") % ns.length).toInt))
        }
        cur
      }
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(out.length === nodes.length)
    out.foreach { case (seed, steps, len) =>
      val want = walkOf(seed)
      assert(steps === want, s"walk mismatch from $seed")
      assert(len === want.count(_.isDefined).toLong)
      // every realized step follows an actual out-edge
      (Some(seed) +: steps).sliding(2).foreach {
        case Seq(Some(u), Some(v)) =>
          assert(adj(u).contains(v), s"step $u→$v is not an edge")
        case _ =>
      }
    }
    assert(out.count(_._3 === 4L) > 0, "some walks must run the full 4 steps")
  }

  test("q_graph_node2vec_walk: biased picks replay driver-side; q>1 is more local than first-order") {
    val out = Analytics.graphNode2vecWalk(s, d).collect()
      .map(r => (r.getLong(0),
        (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))),
        r.getLong(5)))
    val edges = Analytics.sccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (a, es) =>
      a -> es.map(_._2).sorted.toIndexedSeq }
    val eset = edges.toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def h4(str: String): Long = {
      val hex = md.digest(str.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    def walkOf(seed: Long): Seq[Option[Long]] = {
      val steps = scala.collection.mutable.ArrayBuffer[Option[Long]]()
      val s1 = adj.get(seed)
        .map(ns => ns((h4(s"graftn2v:$seed:1") % ns.length).toInt))
      steps += s1
      var prev: Option[Long] = Some(seed)
      var cur: Option[Long] = s1
      (2 to 4).foreach { i =>
        val nxt = cur.flatMap { c =>
          adj.get(c).map { ns =>
            val p = prev.get
            val wts = ns.map(x =>
              if (x == p) 2L else if (eset((p, x))) 2L else 1L)
            val slot = h4(s"graftn2v:$p:$c:$i") % wts.sum
            var acc = 0L
            var chosen = -1L
            ns.indices.foreach { j =>
              if (chosen < 0) {
                acc += wts(j)
                if (slot < acc) chosen = ns(j)
              }
            }
            chosen
          }
        }
        steps += nxt
        prev = cur
        cur = nxt
      }
      steps.toSeq
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(out.length === nodes.length)
    out.foreach { case (seed, steps, len) =>
      assert(steps === walkOf(seed), s"biased walk mismatch from $seed")
      assert(len === steps.count(_.isDefined).toLong)
      (Some(seed) +: steps).sliding(2).foreach {
        case Seq(Some(u), Some(v)) =>
          assert(adj(u).contains(v), s"step $u→$v is not an edge")
        case _ =>
      }
    }
    // the q = 2 bias is LOCAL by construction: in every second-order
    // context the biased distribution puts at least the uniform mass on
    // return/common (weight-2) edges, strictly more wherever the
    // out-list mixes local and forward edges — 2L/(2L+F) > L/(L+F)
    var strictContexts = 0
    out.foreach { case (seed, steps, _) =>
      (Some(seed) +: steps).sliding(2).toSeq.zipWithIndex.foreach {
        case (Seq(Some(p), Some(c)), i) if i >= 1 =>
          adj.get(c).foreach { ns =>
            val local = ns.count(x => x == p || eset((p, x)))
            val fwd = ns.length - local
            if (local > 0 && fwd > 0) strictContexts += 1
          }
        case _ =>
      }
    }
    assert(strictContexts > 0,
      "fixture must exercise mixed local/forward contexts where the bias binds")
    // realized locality: biased walks revisit recent nodes more often
    // than the first-order walks over the same graph
    def revisits(rows: Seq[(Long, Seq[Option[Long]])]): Int = rows.map {
      case (seed, steps) =>
        val path = Some(seed) +: steps
        (1 until path.length).count(i =>
          path(i).isDefined && path.take(i).contains(path(i)))
    }.sum
    val n2v = revisits(out.map(o => (o._1, o._2)).toSeq)
    val rw = revisits(Analytics.graphRandomWalk(s, d).collect().map(r =>
      (r.getLong(0),
        (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))).toSeq)
    info(s"revisits: node2vec=$n2v first-order=$rw")
    assert(n2v > rw,
      s"q=2 walks must be measurably more BFS-like (revisits $n2v vs $rw)")
  }

  test("q_seq_prefixspan equals brute-force subsequence counting over the onboarding windows") {
    val out = Analytics.seqPrefixspan(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // driver-side ground truth: every length<=3 pattern's support by the
    // DEFINITION (gap-tolerant subsequence containment), no projections,
    // no first-occurrence shortcut — proves the PrefixSpan projections
    // and the greedy scan implement the definition exactly
    val seqs = Tables(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(t => (t._3.getTime, t._4)).take(8).map(_._2).toList }
      .toList
    val alphabet = seqs.flatten.distinct.sorted
    def contains(seq: List[String], pat: List[String]): Boolean = {
      var rest = seq
      pat.forall { t =>
        val i = rest.indexOf(t)
        if (i < 0) false else { rest = rest.drop(i + 1); true }
      }
    }
    val nu = seqs.length.toLong
    val pats = alphabet.map(List(_)) ++
      (for (a <- alphabet; b <- alphabet) yield List(a, b)) ++
      (for (a <- alphabet; b <- alphabet; c <- alphabet) yield List(a, b, c))
    val want = pats
      .map(p => (p.mkString(">"), p.length.toLong,
        seqs.count(contains(_, p)).toLong))
      .filter { case (_, _, sup) => sup * 5 >= nu }
      .sortBy(t => (t._2, t._1))
    assert(out.toList === want, "mined patterns must equal the brute force")
    assert(want.exists(_._2 === 3L), "fixture must surface length-3 patterns")
    assert(pats.size.toLong > want.size,
      "the support threshold must actually prune")
  }

  test("q_graph_hits_step: auth recomputes from the 2-hop brute force; max normalizes to 1e6") {
    val out = Analytics.graphHitsStep(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val edges = Tables(s, d, "lineitem")
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val indeg = edges.groupBy(_._2).map { case (sp, g) => sp -> g.size.toLong }
    val hub = edges.groupBy(_._1).map { case (c, g) =>
      c -> g.map(e => indeg(e._2)).sum }
    val auth = edges.groupBy(_._2).map { case (sp, g) =>
      sp -> g.map(e => hub(e._1)).sum }
    val mx = auth.values.max
    assert(out.length === auth.size)
    out.foreach { case (sp, nIn, a, micro) =>
      assert(a === auth(sp), s"auth mismatch at supplier $sp")
      assert(nIn === indeg(sp).toLong)
      assert(micro === 1000000L * a / mx)
    }
    assert(out.map(_._4).max === 1000000L, "max-normalization fixpoint")
  }

  test("q_agg_ks_test: D equals the brute-force max CDF gap; sharded prefix sums agree") {
    val row = Analytics.aggKsTest(s, d).head
    val (n1, n2, at, dNum, dStat) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getDouble(4))
    val v = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val a = v.filter(_._2 == "BUILDING").map(_._1).sorted
    val b = v.filter(_._2 != "BUILDING").map(_._1).sorted
    assert(n1 === a.length.toLong && n2 === b.length.toLong)
    val values = (a ++ b).distinct.sorted
    var best = -1L; var bestAt = Long.MaxValue
    values.foreach { x =>
      val t = math.abs(a.count(_ <= x).toLong * n2 - b.count(_ <= x).toLong * n1)
      if (t > best || (t == best && x < bestAt)) { best = t; bestAt = x }
    }
    assert(dNum === best, "max cross-multiplied CDF gap")
    assert(at === bestAt, "tie-break to smallest achieving value")
    assert(math.abs(dStat - best.toDouble / (n1 * n2)) < 1e-6)
  }

  test("q_timeseries_changepoint: argmax T_k replays; segment means are exact divisions") {
    val out = Analytics.timeseriesChangepoint(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val obs = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (acct, rows) =>
        acct -> rows.sortBy(_._2).map(r => (r._2, r._3)) }
    assert(out.length === obs.size)
    out.foreach { case (acct, nMon, k, mon, tStat, mb, ma) =>
      val series = obs(acct)
      val n = series.length.toLong
      assert(nMon === n)
      val sn = series.map(_._2).sum
      var cum = 0L; var best = -1L; var bestK = 0L
      series.zipWithIndex.dropRight(1).foreach { case ((_, c), i) =>
        cum += c
        val t = math.abs(n * cum - (i + 1) * sn)
        if (t > best) { best = t; bestK = i + 1 }
      }
      assert(tStat === best, s"T mismatch at acct $acct")
      assert(k === bestK, s"argmax k mismatch at acct $acct")
      assert(mon === series(bestK.toInt - 1)._1, "split month is k-th month")
      val sk = series.take(bestK.toInt).map(_._2).sum
      assert(mb === sk / bestK && ma === (sn - sk) / (n - bestK))
    }
  }

  test("q_window_macd: hist closes the identity; fast EMA replays brute-force on a spot account") {
    val out = Analytics.windowMacd(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, _, fast, slow, macd, sig, hist) =>
      assert(macd === fast - slow, "macd = fast − slow")
      assert(hist === macd - sig, "hist = macd − signal")
    }
    // brute-force replay of the fast EMA for the first account
    val acct0 = out.head._1
    val series = out.filter(_._1 == acct0).map(t => (t._2, t._3))
    def dayNum(s0: String) = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse(s0))
    val byDay = series.map { case (ds, c) => dayNum(ds) -> c }.toMap
    series.foreach { case (ds, _) =>
      val d0 = dayNum(ds)
      val frame = (d0 - 14 to d0).flatMap(dd => byDay.get(dd).map(c => (dd, c)))
      val num = frame.map { case (dd, c) => c * (1L << (2 * (14 - (d0 - dd)).toInt)) }.sum
      val den = frame.map { case (dd, _) => 1L << (2 * (14 - (d0 - dd)).toInt) }.sum
      val want = num / den
      val got = out.find(t => t._1 == acct0 && t._2 == ds).get._4
      assert(got === want, s"fast EMA mismatch at $ds")
    }
  }

  test("q_window_stochastic: %K bounded and replays; %D is the trailing mean of %K") {
    val out = Analytics.windowStochastic(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    assert(out.nonEmpty)
    out.foreach { case (_, _, cents, mn, mx, k, _) =>
      assert(mn <= cents && cents <= mx, "band contains today")
      k.foreach(v => assert(v >= 0L && v <= 1000000L, "%K in [0, 1e6]"))
      assert(k.isDefined === (mx > mn), "NULL iff degenerate band")
      k.foreach(v => assert(v === 1000000L * (cents - mn) / (mx - mn)))
    }
    // %D replay on one account: mean of non-null %K over trailing 3 days
    val acct0 = out.head._1
    def dayNum(s0: String) = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse(s0))
    val ks = out.filter(_._1 == acct0)
      .map(t => dayNum(t._2) -> t._6).toMap
    out.filter(_._1 == acct0).foreach { case (_, ds, _, _, _, _, dm) =>
      val d0 = dayNum(ds)
      val frame = (d0 - 2 to d0).flatMap(ks.get).flatten
      if (frame.isEmpty) assert(dm.isEmpty)
      else assert(dm.contains(frame.sum / frame.length), s"%D mismatch at $ds")
    }
  }

  test("q_graph_assortativity: power sums replay from the edge list; r in [-1, 1]") {
    val row = Analytics.graphAssortativity(s, d).head
    val (n, sx, sy, sxx, syy, sxy, rr) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5),
      row.getDouble(6))
    val edges = Tables(s, d, "lineitem")
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1)))
    val cd = edges.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val sd = edges.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
    val xy = edges.map { case (c, sp) => (cd(c), sd(sp)) }
    assert(n === xy.length.toLong)
    assert(sx === xy.map(_._1).sum && sy === xy.map(_._2).sum)
    assert(sxx === xy.map(p => p._1 * p._1).sum)
    assert(syy === xy.map(p => p._2 * p._2).sum)
    assert(sxy === xy.map(p => p._1 * p._2).sum)
    assert(rr >= -1.0 && rr <= 1.0)
    val want = (n.toDouble * sxy - sx.toDouble * sy) /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    assert(math.abs(rr - want) < 1e-6)
  }

  test("q_timeseries_backtest: seasonal and naive errors replay from the monthly rollup") {
    val out = Analytics.timeseriesBacktest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    val obs = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(sum(round(col("o_totalprice") * 100, 0)).cast("long").as("cents"))
      .collect().map(r => ((r.getLong(0), r.getDate(1).toLocalDate), r.getLong(2)))
      .toMap
    out.foreach { case (acct, nS, maeS, nN, maeN, mase) =>
      def errs(lag: Int) = obs.toSeq.collect {
        case ((a, m), c) if a == acct && obs.contains((a, m.minusMonths(lag))) =>
          math.abs(c - obs((a, m.minusMonths(lag))))
      }
      val (e12, e1) = (errs(12), errs(1))
      assert(nS === e12.length.toLong && nN === e1.length.toLong)
      assert(maeS === e12.sum / nS && maeN === e1.sum / nN)
      assert(mase === 1000000L * maeS / maeN)
    }
  }

  test("q_agg_chisq: statistic replays from the dense contingency table") {
    val row = Analytics.aggChisq(s, d).head
    val (n, dof, nCells, chi2) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    val obs = Tables(s, d, "customer")
      .join(Tables(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment"), col("n_name")).count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val segs = obs.keys.map(_._1).toSeq.distinct
    val geos = obs.keys.map(_._2).toSeq.distinct
    assert(nCells === segs.length.toLong * geos.length)
    assert(dof === (segs.length - 1).toLong * (geos.length - 1))
    val total = obs.values.sum
    assert(n === total)
    val rt = segs.map(sg => sg -> geos.map(g => obs.getOrElse((sg, g), 0L)).sum).toMap
    val ct = geos.map(g => g -> segs.map(sg => obs.getOrElse((sg, g), 0L)).sum).toMap
    val want = (for (sg <- segs; g <- geos) yield {
      val o = obs.getOrElse((sg, g), 0L)
      val dd = (o * total - rt(sg) * ct(g)).toDouble
      math.round(dd * dd / (total.toDouble * rt(sg) * ct(g)) * 1000000)
    }).sum
    assert(chi2 === want, "chi-squared micro sum")
  }

  test("q_join_interval_overlap: banded join equals the naive nested-loop overlap count") {
    val out = Analytics.joinIntervalOverlap(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    val ev = Tables(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(1) + 600000000L))
    val lo = ev.map(_._2).min
    val hi = ev.map(_._3).max
    val delta = (hi - lo) / 100
    val naive = (0L to 99L).flatMap { k =>
      val (wSt, wEn) = (lo + k * delta, lo + (k + 2) * delta)
      val hits = ev.filter { case (_, st, en) => st < wEn && wSt < en }
      if (hits.isEmpty) None
      else Some(k -> (wSt, wEn, hits.length.toLong,
        hits.map(_._1).distinct.length.toLong))
    }.toMap
    assert(out.length === naive.size)
    out.foreach { case (k, wSt, wEn, nOv, nUs) =>
      val (st0, en0, cnt, users) = naive(k)
      assert(wSt === st0 && wEn === en0)
      assert(nOv === cnt, s"overlap count mismatch at window $k")
      assert(nUs === users, s"user count mismatch at window $k")
    }
  }

  test("q_agg_moments: power sums replay; moments agree with two-pass reference") {
    val out = Analytics.aggMoments(s, d).collect()
    assert(out.nonEmpty)
    val vals = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") / 1000, 0).cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2) }
    out.foreach { r =>
      val xs = vals(r.getString(0))
      val n = xs.length.toLong
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === xs.sum)
      assert(r.getLong(5) === xs.map(x => x * x * x * x).sum)
      // two-pass reference within rounding tolerance
      val mean = xs.sum.toDouble / n
      val m2 = xs.map(x => (x - mean) * (x - mean)).sum / n
      val m3 = xs.map(x => math.pow(x - mean, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mean, 4)).sum / n
      assert(math.abs(r.getDouble(6) - mean) < 1e-4)
      assert(math.abs(r.getDouble(7) - m2) < 1e-3 * math.max(1, m2))
      assert(math.abs(r.getDouble(8) - m3 / math.pow(m2, 1.5)) < 1e-3)
      assert(math.abs(r.getDouble(9) - (m4 / (m2 * m2) - 3)) < 1e-3)
    }
  }

  test("q_graph_powerlaw: MLE replays from the degree table") {
    val row = Analytics.graphPowerlaw(s, d).head
    val degs = Tables(s, d, "lineitem")
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .groupBy("l_suppkey").count().collect().map(_.getLong(1))
    assert(row.getLong(0) === degs.length.toLong)
    assert(row.getLong(1) === degs.max)
    val sumLn = degs.map(dg => math.round(math.log(2.0 * dg) * 1000000)).sum
    assert(row.getLong(2) === sumLn)
    assert(row.getLong(3) === 1000000L + 1000000000000L * degs.length / sumLn)
    assert(row.getLong(3) > 1000000L, "alpha > 1 by construction")
  }

  test("q_event_interarrival: gaps replay; percentiles bracket the mean sanely") {
    val out = Analytics.eventInterarrival(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gaps = ev.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._4, r._2))
      sorted.zip(sorted.tail).map { case (a, b) => (b._3, b._4 - a._4) }
    }.toSeq.groupBy(_._1).map { case (k, g) => k -> g.map(_._2) }
    out.foreach { case (tp, n, sumUs, meanUs, p50, p90) =>
      val g = gaps(tp)
      assert(n === g.length.toLong)
      assert(sumUs === g.sum)
      assert(meanUs === g.sum / n)
      val sortedG = g.sorted
      def q(p: Double): Double = {
        val idx = p * (sortedG.length - 1)
        val lo = sortedG(idx.toInt)
        val hi = sortedG(math.min(idx.toInt + 1, sortedG.length - 1))
        lo + (idx - idx.toInt) * (hi - lo)
      }
      assert(math.abs(p50 - q(0.5)) < 1e-6 * math.max(1, q(0.5)))
      assert(math.abs(p90 - q(0.9)) < 1e-6 * math.max(1, q(0.9)))
      assert(p50 <= p90)
    }
  }

  test("q_event_stickiness: DAU/MAU replays; ratio bounded by 1") {
    val out = Analytics.eventStickiness(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    val ev = Tables(s, d, "events")
      .select(date_format(col("ts"), "yyyy-MM").as("mon"),
        to_date(col("ts")).as("day"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2))).distinct
    out.foreach { case (mon, nDays, dauSum, mau, sticky) =>
      val rows = ev.filter(_._1 == mon)
      val days = rows.map(_._2).distinct
      assert(nDays === days.length.toLong)
      assert(dauSum === days.map(dd => rows.filter(_._2 == dd)
        .map(_._3).distinct.length.toLong).sum)
      assert(mau === rows.map(_._3).distinct.length.toLong)
      assert(sticky === 1000000L * dauSum / (nDays * mau))
      assert(sticky >= 0L && sticky <= 1000000L, "DAU/MAU is a fraction")
    }
  }

  test("q_window_sharpe: power-sum identity; brute-force replay on a spot account") {
    val out = Analytics.windowSharpe(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    assert(out.nonEmpty)
    def dayNum(s0: String) = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse(s0))
    val acct0 = out.head._1
    val series = out.filter(_._1 == acct0).map(t => (dayNum(t._2), t._3)).toMap
    out.filter(_._1 == acct0).foreach { case (_, ds, _, nw, s1, s2, sharpe) =>
      val d0 = dayNum(ds)
      val frame = (d0 - 29 to d0).flatMap(series.get)
      assert(nw === frame.length.toLong)
      assert(s1 === frame.sum)
      assert(s2 === frame.map(x => x * x).sum)
      val mean = s1.toDouble / nw
      val varr = s2.toDouble / nw - mean * mean
      if (nw > 1 && nw * s2 > s1 * s1) {
        assert(sharpe.isDefined)
        assert(math.abs(sharpe.get - mean / math.sqrt(varr)) < 1e-4)
      } else assert(sharpe.isEmpty)
    }
  }

  test("q_event_audience_overlap: pairwise Jaccard replays from user sets") {
    val rows = Analytics.eventAudienceOverlap(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val tu = Tables(s, d, "events")
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    val types = tu.keys.toSeq.sorted
    assert(rows.length === types.combinations(2).length,
      "every type pair present")
    rows.foreach { case (t1, t2, n1, n2, common, jac) =>
      assert(t1 < t2, "canonical pair order")
      assert(n1 === tu(t1).size.toLong && n2 === tu(t2).size.toLong)
      assert(common === (tu(t1) & tu(t2)).size.toLong)
      assert(jac === 1000000L * common / (n1 + n2 - common))
    }
  }

  test("q_window_atr: true range replays; ATR is a convex combination of frame TRs") {
    val out = Analytics.windowAtr(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    val acct0 = out.head._1
    val series = out.filter(_._1 == acct0).sortBy(_._2)
    series.zipWithIndex.foreach { case ((_, _, hi, lo, close, tr, atr), i) =>
      val want = if (i == 0) hi - lo
      else {
        val prevClose = series(i - 1)._5
        math.max(hi - lo, math.max(math.abs(hi - prevClose),
          math.abs(lo - prevClose)))
      }
      assert(tr === want, s"TR mismatch at bar $i")
      val frame = series.slice(math.max(0, i - 7), i + 1).map(_._6)
      assert(atr >= frame.min - 1 && atr <= frame.max,
        "ATR must lie within the frame's TR envelope")
      // exact dyadic replay
      val n = frame.length
      val num = frame.zipWithIndex.map { case (t0, j) =>
        t0 * (1L << (7 - (n - 1 - j))) }.sum
      val den = frame.indices.map(j => 1L << (7 - (n - 1 - j))).sum
      assert(atr === num / den, s"ATR fold mismatch at bar $i")
    }
  }

  test("q_agg_raking_step: column margins hit the uniform target within truncation") {
    val rows = Analytics.aggRakingStep(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val n = rows.map(_._3).sum
    val nr = rows.map(_._1).distinct.length
    val nc = rows.map(_._2).distinct.length
    // row pass: every segment's w1 sum hits n/nr within per-cell truncation
    rows.groupBy(_._1).foreach { case (seg, g) =>
      val target = 1000000L * n / nr
      assert(math.abs(g.map(_._4).sum - target) <= g.length.toLong * nr,
        s"segment $seg w1 margin off target")
    }
    // column pass: every nation's w2 sum hits n/nc within truncation
    rows.groupBy(_._2).foreach { case (geo, g) =>
      val target = 1000000L * n / nc
      assert(math.abs(g.map(_._5).sum - target) <= g.length.toLong * nc + nc,
        s"nation $geo w2 margin off target")
    }
    // and raking preserved positivity + zero cells stay zero
    rows.foreach { case (_, _, o, w1, w2) =>
      assert(w1 >= 0 && w2 >= 0)
      if (o == 0) assert(w1 === 0L && w2 === 0L)
    }
  }

  test("q_agg_mix_entropy: entropy bounded by log k; uniform mix maximizes it") {
    val rows = Analytics.aggMixEntropy(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (geo, n, k, h, even) =>
      assert(h >= 0L, s"$geo entropy negative")
      val hMax = math.round(math.log10(k.toDouble) * 1000000)
      assert(h <= hMax + k, s"$geo entropy exceeds log k")
      assert(even >= 0L && even <= 1000000L + 2, s"$geo evenness out of [0,1]")
      assert(n > 0 && k > 0)
    }
    // priorities are near-uniform in TPC-H-ish fixtures: evenness is high
    assert(rows.forall(_._5 > 900000L), "priority mix should be near-uniform")
  }

  test("q_event_segment_migration: matrix partitions users exactly; tiers replay") {
    val rows = Analytics.eventSegmentMigration(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ev = Tables(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long")).otherwise(0L).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lo = ev.map(_._2).min; val hi = ev.map(_._2).max
    def tier(c: Long) = if (c >= 20000) "high" else if (c >= 5000) "mid"
      else if (c > 0) "low" else "none"
    val want = ev.groupBy(_._1).toSeq.map { case (_, g) =>
      val c1 = g.filter(r => r._2 * 2 < lo + hi).map(_._3).sum
      val c2 = g.filter(r => r._2 * 2 >= lo + hi).map(_._3).sum
      (tier(c1), tier(c2))
    }.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    assert(rows.map(_._3).sum === ev.map(_._1).distinct.length.toLong,
      "matrix must partition the user base")
    rows.foreach { case (f, t0, n) =>
      assert(want((f, t0)) === n, s"cell ($f -> $t0) mismatch")
    }
    assert(rows.length === want.size)
  }

  test("q_window_streak: islands replay from the active-day sets") {
    val rows = Analytics.windowStreak(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val days = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).cast("long").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sorted }
    assert(rows.length === days.size)
    rows.foreach { case (acct, nDays, nStreaks, longest, had3, cur) =>
      val ds = days(acct)
      assert(nDays === ds.length.toLong)
      // rebuild islands
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var len = 1L
      ds.zip(ds.tail).foreach { case (a, b) =>
        if (b == a + 1) len += 1 else { runs += len; len = 1 } }
      runs += len
      assert(nStreaks === runs.length.toLong)
      assert(longest === runs.max)
      assert(had3 === (if (runs.exists(_ >= 3)) 1L else 0L))
      assert(cur === runs.last, "current streak is the last island")
    }
  }

  test("q_graph_butterflies: B replays from the wedge weights; density bounded") {
    val row = Analytics.graphButterflies(s, d).head
    val (nPairs, nBf, nWedges, micro) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    val wedges = Analytics.supplierWedgesForTest(s, d).collect()
      .map(r => r.getLong(2))
    assert(nPairs === wedges.length.toLong)
    assert(nBf === wedges.map(w => w * (w - 1) / 2).sum)
    assert(nWedges > 0 && micro === 1000000L * nBf / nWedges)
    assert(nBf > 0, "a co-purchase graph with zero butterflies is suspicious")
  }

  test("q_agg_mann_whitney: U replays from brute-force average ranks") {
    val row = Analytics.aggMannWhitney(s, d).head
    val (n1, n2, r1x2, u1x2, u2x2, z) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getDouble(5))
    val v = Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(round(col("o_totalprice") * 100, 0).cast("long"),
        col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1) == "BUILDING"))
    assert(n1 === v.count(_._2).toLong && n2 === v.count(!_._2).toLong)
    // brute-force tie-averaged ranks in doubled units
    val sorted = v.map(_._1).sorted
    val rankX2 = sorted.zipWithIndex.groupBy(_._1).map { case (value, g) =>
      value -> (2L * g.head._2 + g.length + 1) // 2·cum_before + cnt + 1
    }
    val wantR1 = v.filter(_._2).map(t => rankX2(t._1)).sum
    assert(r1x2 === wantR1, "doubled rank sum mismatch")
    assert(u1x2 === wantR1 - n1 * (n1 + 1))
    assert(u1x2 + u2x2 === 2 * n1 * n2, "U1 + U2 = n1·n2 identity")
    val wantZ = (u1x2 / 2.0 - n1 * n2 / 2.0) /
      math.sqrt(n1.toDouble * n2 * (n1 + n2 + 1) / 12.0)
    assert(math.abs(z - wantZ) < 1e-5)
  }

  test("q_event_markov_step: probability rows sum to ~1; iterate replays") {
    val rows = Analytics.eventMarkovStep(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val x0 = rows.head._3
    assert(rows.forall(_._3 == x0), "uniform start vector")
    rows.foreach { case (_, nIn, x00, x1, delta) =>
      assert(delta === x1 - x00)
      assert(nIn >= 1L)
      assert(x1 >= 0L && x1 <= 1000000L)
    }
    // mass conservation within truncation: Σx1 ≤ Σx0, short by < #cells
    val totalX1 = rows.map(_._4).sum
    val cells = rows.map(_._2).sum
    assert(totalX1 <= x0 * rows.length)
    assert(x0 * rows.length - totalX1 <= cells + rows.length * rows.length,
      "mass lost beyond per-cell truncation")
  }

  test("q_timeseries_ses equals a driver-side sequential fold") {
    val rows = Analytics.timeseriesSes(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // independent reference: re-derive the monthly series and fold it
    val monthly = Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy("acct", "mon").agg(sum("c").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val byAcct = monthly.groupBy(_._1)
    rows.foreach { case (acct, n, last, ses) =>
      val series = byAcct(acct).sortBy(_._2).map(_._3)
      assert(n === series.length.toLong)
      assert(last === series.last)
      val want = series.tail.foldLeft(series.head)((st, x) => (x + st) / 2)
      assert(ses === want, s"acct $acct: ses $ses != fold $want")
    }
  }

  test("q_graph_betweenness: engine DAG equals a driver-side Brandes replay") {
    import scala.collection.mutable
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    def h4(node: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graftbc:$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16)
    }
    val srcs = adj.keys.toSeq.sortBy(n => (h4(n), n)).take(8)
    assert(srcs.nonEmpty, "staged graph must have nodes")
    val bc = mutable.Map.empty[Long, Long]
    srcs.foreach { src =>
      var lv = Vector(Map(src -> 1L))
      (1 to 3).foreach { _ =>
        val recent = lv.takeRight(2).flatMap(_.keys).toSet
        val next = mutable.Map.empty[Long, Long]
        lv.last.foreach { case (v, sig) =>
          adj.getOrElse(v, mutable.Set.empty).foreach { u =>
            if (!recent.contains(u)) next(u) = next.getOrElse(u, 0L) + sig
          }
        }
        lv = lv :+ next.toMap
      }
      var delta = lv(3).map { case (n, _) => n -> 0L }
      (2 to 1 by -1).foreach { l =>
        val nextLvl = lv(l + 1)
        val dl = mutable.Map.empty[Long, Long]
        lv(l).foreach { case (v, sigv) =>
          adj.getOrElse(v, mutable.Set.empty).foreach { u =>
            nextLvl.get(u).foreach { sigw =>
              val dw = delta.getOrElse(u, 0L)
              dl(v) = dl.getOrElse(v, 0L) + (sigv * (1000000L + dw)) / sigw
            }
          }
        }
        dl.foreach { case (v, dv) => bc(v) = bc.getOrElse(v, 0L) + dv }
        delta = dl.toMap
      }
    }
    val got = Analytics.graphBetweenness(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === bc.toSeq.sorted,
      s"engine betweenness diverged from the driver replay " +
        s"(got ${got.size} rows, want ${bc.size})")
  }

  test("q_graph_closeness: engine BFS levels equal a driver-side pivot replay") {
    import scala.collection.mutable
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    def h4(node: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graftcl:$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16)
    }
    val srcs = adj.keys.toSeq.sortBy(n => (h4(n), n)).take(8)
    assert(srcs.nonEmpty, "staged graph must have nodes")
    val reached = mutable.Map.empty[Long, Long]
    val hc = mutable.Map.empty[Long, Long]
    srcs.foreach { src =>
      var lv = Vector(Set(src))
      (1 to 4).foreach { _ =>
        val recent = lv.takeRight(2).reduce(_ ++ _)
        lv = lv :+ lv.last.flatMap(v => adj.getOrElse(v, mutable.Set.empty))
          .filterNot(recent.contains).toSet
      }
      (1 to 4).foreach { dist =>
        lv(dist).foreach { n =>
          reached(n) = reached.getOrElse(n, 0L) + 1L
          hc(n) = hc.getOrElse(n, 0L) + 1000000L / dist
        }
      }
    }
    val got = Analytics.graphCloseness(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val want = reached.keys.map(n => (n, reached(n), hc(n))).toSeq.sorted
    assert(got === want,
      s"engine closeness diverged from the driver replay " +
        s"(got ${got.size} rows, want ${want.size})")
  }

  test("q_graph_cc_incremental: increment equals the full recompute and genuinely merges") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val incr = rows(Analytics.graphCcIncremental(s, d))
    val full = rows(Analytics.graphConnectedComponents(s, d))
    assert(incr === full, "incremental labels diverged from the full recompute")
    // non-vacuous: the batch is non-empty AND unites standing components —
    // the merge CC on the lifted component graph did real work
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = edges.filter { case (a, b) => a % 10 == 7 || b % 10 == 7 }
    assert(batch.nonEmpty, "no batch edges — the increment is vacuous")
    // standing components via driver union-find on standing edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filterNot { case (a, b) => a % 10 == 7 || b % 10 == 7 }
      .foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(batch.exists { case (a, b) => find(a) != find(b) },
      "no batch edge bridges two standing components — the merge path is untested")
  }

  test("q_graph_landmark_dist: estimates replay exactly and obey the upper-bound law") {
    import scala.collection.mutable
    val edges = Analytics.ccEdgesWeightedForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), 1000000L / r.getLong(2)))
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (a, b, w) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
    }
    def h4(salt: String, node: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16)
    }
    def dijkstra(src: Long): Map[Long, Long] = {
      val dist = mutable.Map(src -> 0L)
      val pq = mutable.PriorityQueue((0L, src))(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (dd, v) = pq.dequeue()
        if (dist(v) == dd)
          adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { case (u, w) =>
            if (!dist.contains(u) || dist(u) > dd + w) {
              dist(u) = dd + w; pq.enqueue((dd + w, u))
            }
          }
      }
      dist.toMap
    }
    val nodes = adj.keys.toSeq
    val lms = nodes.sortBy(n => (h4("graftlm:", n), n)).take(4)
    val qns = nodes.sortBy(n => (h4("graftlq:", n), n)).take(8)
    val lmDist = lms.map(l => l -> dijkstra(l)).toMap
    val want = (for {
      u <- qns; v <- qns if u < v
      ests = lms.flatMap(l => for {
        du <- lmDist(l).get(u); dv <- lmDist(l).get(v)
      } yield du + dv)
      if ests.nonEmpty
    } yield (u, v, ests.min)).sorted
    val got = Analytics.graphLandmarkDist(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got === want, "landmark estimates diverged from the driver replay")
    assert(got.nonEmpty, "no landmark-connected query pair — oracle vacuous")
    // the LAW: every estimate is an upper bound on the true distance (it
    // is a realizable path through a landmark)
    got.foreach { case (u, v, est) =>
      val exact = dijkstra(u).get(v)
      assert(exact.isDefined, s"estimate for unreachable pair ($u,$v)")
      assert(est >= exact.get,
        s"estimate $est below true distance ${exact.get} for ($u,$v)")
    }
    // non-vacuous as an APPROXIMATION: at least one estimate is strictly
    // above exact (the oracle trades exactness for O(k) lookups)
    info(s"pairs: ${got.size}, exact hits: " +
      got.count { case (u, v, est) => dijkstra(u)(v) == est })
  }

  test("q_graph_neighborhood: exact counts equal a driver ball expansion, sketches inside the envelope") {
    import scala.collection.mutable
    val edges = Analytics.ccEdgesForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    var reach: Map[Long, Set[Long]] = adj.keys.map(n => n -> Set(n)).toMap
    val wantNf = (1 to 4).map { _ =>
      reach = reach.map { case (c, ball) =>
        c -> (ball ++ ball.flatMap(u => adj.getOrElse(u, mutable.Set.empty)))
      }
      reach.values.map(_.size.toLong).sum
    }
    val got = Analytics.graphNeighborhood(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSeq === (1L to 4L))
    assert(got.map(_._3).toSeq === wantNf, "exact neighborhood function diverged")
    assert(got.forall(_._4), "a sketch estimate left the error envelope")
    assert(got.forall(_._2 === adj.size.toLong))
    // monotone: balls only grow
    got.map(_._3).sliding(2).foreach { case Array(a, b) => assert(b >= a) }
    // non-vacuous: by the horizon the balls are genuinely bigger than
    // the seed singletons (the sketch arm measured something)
    assert(got.last._3 > adj.size.toLong,
      "N(4) never exceeded |V| — the expansion is vacuous")
  }

  test("q_graph_sssp: distances equal a driver Bellman-Ford and converge inside the round bound") {
    import scala.collection.mutable
    val edges = Analytics.ccEdgesWeightedForTest(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (a, b, m) =>
      val w = 1000000L / m
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
    }
    val src = edges.map(_._1).min
    var dist = Map(src -> 0L)
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val next = mutable.Map.empty[Long, Long] ++ dist
      dist.foreach { case (v, dv) =>
        adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { case (u, w) =>
          if (!next.contains(u) || next(u) > dv + w) next(u) = dv + w
        }
      }
      changed = next.toMap != dist
      dist = next.toMap
    }
    // the engine's 12-round require has provable headroom on this tier
    // (the driver fixpoint, +1 detection round, must fit inside it)
    info(s"driver Bellman-Ford fixpoint after $rounds rounds")
    assert(rounds + 1 <= 12, s"tier needs $rounds rounds + detection — raise SsspRounds")
    val got = Analytics.graphSssp(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === dist.toSeq.sorted,
      s"engine SSSP diverged from the driver replay (got ${got.size} rows, want ${dist.size})")
  }

  test("q_timeseries_ar: the integer normal-equation solve replays in BigInt") {
    val obs = graft.Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(expr("sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) div 100000")
        .as("x"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val want = obs.groupBy(_._1).flatMap { case (acct, rows0) =>
      val xs = rows0.sortBy(_._2).map(_._3)
      val rows = xs.indices.drop(2).map(i => (xs(i), xs(i - 1), xs(i - 2)))
      if (rows.length < 10) None else {
        def bi(l: Long) = BigInt(l)
        val n = bi(rows.length)
        val s1 = rows.map(r => bi(r._2)).sum; val s2 = rows.map(r => bi(r._3)).sum
        val sy = rows.map(r => bi(r._1)).sum
        val s11 = rows.map(r => bi(r._2) * bi(r._2)).sum
        val s22 = rows.map(r => bi(r._3) * bi(r._3)).sum
        val s12 = rows.map(r => bi(r._2) * bi(r._3)).sum
        val s1y = rows.map(r => bi(r._2) * bi(r._1)).sum
        val s2y = rows.map(r => bi(r._3) * bi(r._1)).sum
        def det3(m: Seq[Seq[BigInt]]) =
          m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
            m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
            m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
        val dd = det3(Seq(Seq(n, s1, s2), Seq(s1, s11, s12), Seq(s2, s12, s22)))
        assert(dd != 0, s"acct $acct: singular system on the fixture")
        val dc = det3(Seq(Seq(sy, s1, s2), Seq(s1y, s11, s12), Seq(s2y, s12, s22)))
        val d1 = det3(Seq(Seq(n, sy, s2), Seq(s1, s1y, s12), Seq(s2, s2y, s22)))
        val d2 = det3(Seq(Seq(n, s1, sy), Seq(s1, s11, s1y), Seq(s2, s12, s2y)))
        val (c, p1, p2) = ((BigInt(1000000) * dc / dd).toLong,
          (BigInt(1000000) * d1 / dd).toLong, (BigInt(1000000) * d2 / dd).toLong)
        val saeAr = rows.map { case (x, x1, x2) =>
          math.abs(x - (c + p1 * x1 + p2 * x2) / 1000000L)
        }.sum
        val saeNv = rows.map { case (x, x1, _) => math.abs(x - x1) }.sum
        val (maeAr, maeNv) = (saeAr / rows.length, saeNv / rows.length)
        Some(acct -> (rows.length.toLong, c, p1, p2, maeAr, maeNv,
          if (maeNv == 0) null else 1000000L * maeAr / maeNv))
      }
    }
    val got = Analytics.timeseriesAr(s, d).collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) null else r.getLong(7))
    }.toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (acct, w) =>
      assert(got(acct) === w, s"acct $acct: AR replay mismatch")
    }
    // the model must beat carrying last month forward on this fixture
    assert(got.values.count { case (_, _, _, _, _, _, m) =>
      m != null && m.asInstanceOf[Long] < 1000000L } * 2 > got.size,
      "AR(2) should beat the naive baseline on most accounts")
  }

  test("q_timeseries_seasonal_ar: the seasonal-lag fit replays in BigInt and differs from AR(2)") {
    val obs = graft.Tables(s, d, "orders")
      .select((col("o_custkey") % 20).cast("long").as("acct"),
        trunc(col("o_orderdate"), "MM").as("mon"), col("o_totalprice"))
      .groupBy("acct", "mon")
      .agg(expr("sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) div 100000")
        .as("x"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val want = obs.groupBy(_._1).flatMap { case (acct, rows0) =>
      val xs = rows0.sortBy(_._2).map(_._3)
      // the seasonal basis: x1 = lag 1, x2 = the ANNUAL lag 12
      val rows = xs.indices.drop(12).map(i => (xs(i), xs(i - 1), xs(i - 12)))
      if (rows.length < 10) None else {
        def bi(l: Long) = BigInt(l)
        val n = bi(rows.length)
        val s1 = rows.map(r => bi(r._2)).sum; val s2 = rows.map(r => bi(r._3)).sum
        val sy = rows.map(r => bi(r._1)).sum
        val s11 = rows.map(r => bi(r._2) * bi(r._2)).sum
        val s22 = rows.map(r => bi(r._3) * bi(r._3)).sum
        val s12 = rows.map(r => bi(r._2) * bi(r._3)).sum
        val s1y = rows.map(r => bi(r._2) * bi(r._1)).sum
        val s2y = rows.map(r => bi(r._3) * bi(r._1)).sum
        def det3(m: Seq[Seq[BigInt]]) =
          m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
            m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
            m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
        val dd = det3(Seq(Seq(n, s1, s2), Seq(s1, s11, s12), Seq(s2, s12, s22)))
        assert(dd != 0, s"acct $acct: singular seasonal system on the fixture")
        val dc = det3(Seq(Seq(sy, s1, s2), Seq(s1y, s11, s12), Seq(s2y, s12, s22)))
        val d1 = det3(Seq(Seq(n, sy, s2), Seq(s1, s1y, s12), Seq(s2, s2y, s22)))
        val d2 = det3(Seq(Seq(n, s1, sy), Seq(s1, s11, s1y), Seq(s2, s12, s2y)))
        val (c, p1, p2) = ((BigInt(1000000) * dc / dd).toLong,
          (BigInt(1000000) * d1 / dd).toLong, (BigInt(1000000) * d2 / dd).toLong)
        Some(acct -> (rows.length.toLong, c, p1, p2))
      }
    }
    val got = Analytics.timeseriesSeasonalAr(s, d).collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (acct, w) =>
      assert(got(acct) === w, s"acct $acct: seasonal AR replay mismatch")
    }
    // non-vacuous: the seasonal coefficient is not just AR(2)'s phi2 —
    // the annual basis genuinely changes the fit somewhere
    val plain = Analytics.timeseriesAr(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got.exists { case (acct, (_, _, _, sphi)) =>
      plain.get(acct).exists(_ != sphi) },
      "seasonal fit identical to AR(2) on every account — basis change vacuous")
  }

  test("q_er_resolve: the ledger equals a driver-side funnel replay and conserves names") {
    import scala.collection.mutable
    val parts = graft.Tables(s, d, "part").select("p_partkey", "p_name")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val names = parts.groupBy(_._2).map { case (n, ps) => n -> ps.length.toLong }
    val keys = names.keys.toSeq.sorted
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      (1 to b.length).foreach { j =>
        var prev = dp(0); dp(0) = j
        (1 to a.length).foreach { i =>
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    val cand = for {
      a <- keys; b <- keys
      if a < b && math.abs(a.length - b.length) <= 2
    } yield (a, b)
    val matched = cand.filter { case (a, b) => lev(a, b) <= 2 }
    // union-find over matched names
    val par = mutable.Map(keys.map(k => k -> k): _*)
    def find(x: String): String =
      if (par(x) == x) x else { par(x) = find(par(x)); par(x) }
    matched.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) par(ra) = rb
    }
    val clusters = keys.groupBy(find)
    val canon = clusters.values.flatMap { ms =>
      val c = ms.sortBy(m => (-names(m), m)).head // count desc, name asc
      ms.map(_ -> c)
    }.toMap
    val merged = keys.filter(k => canon(k) != k)
    val want = Seq(
      "1_parts" -> names.values.sum,
      "2_names" -> keys.length.toLong,
      "3_candidate_pairs" -> cand.length.toLong,
      "4_matched_pairs" -> matched.length.toLong,
      "5_clusters_multi" -> clusters.values.count(_.length >= 2).toLong,
      "6_names_merged" -> merged.length.toLong,
      "7_parts_merged" -> merged.map(names).sum,
      "8_entities" -> clusters.size.toLong)
    val got = Analytics.erResolve(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === want, s"ledger diverged:\ngot  $got\nwant $want")
    // conservation: every name is either merged away or a surviving entity
    val ledger = got.toMap
    assert(ledger("2_names") === ledger("6_names_merged") + ledger("8_entities"))
    assert(ledger("4_matched_pairs") <= ledger("3_candidate_pairs"))
  }

  test("q_graph_mst: forest equals a driver Borůvka replay; oracle round bound holds per tier") {
    import scala.collection.mutable
    def boruvka(rows: Seq[(Long, Long, Long)])
        : (Set[(Long, Long, Long, Long)], Int, Long) = {
      val nodes = rows.flatMap(r => Seq(r._1, r._2)).distinct
      val par = mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (par(x) == x) x else { par(x) = find(par(x)); par(x) }
      val forest = mutable.Set.empty[(Long, Long, Long, Long)]
      var rounds = 0
      var progressed = true
      while (progressed) {
        val best = mutable.Map.empty[Long, (Long, Long, Long)]
        rows.foreach { case (a, b, m) =>
          val (ca, cb) = (find(a), find(b))
          if (ca != cb) {
            val key = (-m, a, b)
            Seq(ca, cb).foreach { c =>
              if (!best.contains(c) ||
                Ordering.Tuple3[Long, Long, Long].lt(key,
                  (-best(c)._3, best(c)._1, best(c)._2)))
                best(c) = (a, b, m)
            }
          }
        }
        progressed = best.nonEmpty
        if (progressed) {
          rounds += 1
          assert(rounds <= 8, "Borůvka needs > 8 rounds — oracle unroll too shallow")
          best.values.toSet[(Long, Long, Long)].foreach { case (a, b, m) =>
            val (ca, cb) = (find(a), find(b))
            if (ca != cb) {
              par(math.max(ca, cb)) = math.min(ca, cb)
              forest += ((a, b, m, rounds.toLong))
            }
          }
        }
      }
      (forest.toSet, rounds, nodes.map(find).distinct.size.toLong)
    }
    Seq(d, "/root/testdata/sf0.01").distinct
      .filter(t => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t)))
      .foreach { tier =>
        val rows = graft.Tables(s, tier, "lineitem")
          .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("ps"))
          .select(explode(expr(
            """flatten(transform(ps, (x, i) ->
               |  transform(slice(ps, i + 2, size(ps)), y ->
               |    struct(least(x, y) AS a, greatest(x, y) AS b))))"""
              .stripMargin)).as("p"))
          .groupBy("p.a", "p.b").agg(count(lit(1)).as("m"))
          .where(col("m") >= 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val (want, rounds, nComp) = boruvka(rows)
        val nNodes = rows.flatMap(r => Seq(r._1, r._2)).distinct.size.toLong
        // the spanning-forest law: |forest| + |components| = |nodes|
        assert(want.size.toLong + nComp === nNodes, s"$tier: forest law broken")
        if (tier == d) {
          val got = Analytics.graphMst(s, tier).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
            .toSet
          assert(got === want,
            s"engine forest (${got.size}) diverged from driver Borůvka (${want.size})")
        }
      }
  }

  test("q_graph_ktruss: staged-orientation round-1 support equals the generic wedge pass") {
    val staged = Analytics.trussSupportStagedForTest(s, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val generic = Analytics.trussSupportGenericForTest(s, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(staged.nonEmpty)
    assert(staged === generic,
      s"staged (${staged.size} edges) diverged from generic (${generic.size})")
  }

  test("q_graph_ktruss: engine peel equals a driver replay; oracle unroll bound holds per tier") {
    import scala.collection.mutable
    // driver-side support peel, counting rounds to the fixpoint — the
    // oracle pins 12 unrolled rounds (idempotent past the fixpoint), so
    // the bound is RE-CHECKED on the spec tier AND the driver's sf0.01
    // oracle tier (the coreness-guard discipline)
    def peel(edges: Seq[(Long, Long)]): (Map[(Long, Long), Long], Int) = {
      var cur = edges
      var rounds = 0
      var converged = cur.isEmpty
      var sup = Map.empty[(Long, Long), Long]
      def supports(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
        val adj = mutable.Map.empty[Long, mutable.Set[Long]]
        es.foreach { case (a, b) =>
          adj.getOrElseUpdate(a, mutable.Set.empty) += b
          adj.getOrElseUpdate(b, mutable.Set.empty) += a
        }
        es.map { case (a, b) =>
          val (sm, lg) =
            if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
          (a, b) -> sm.count(lg.contains).toLong
        }.toMap
      }
      while (!converged) {
        rounds += 1
        assert(rounds <= 12, "truss peel needs > 12 rounds — oracle unroll too shallow")
        sup = supports(cur)
        val next = cur.filter(e => sup(e) >= 8L)
        converged = next.size == cur.size
        cur = next
      }
      (supports(cur).filter(_._2 > 0L), rounds)
    }
    Seq(d, "/root/testdata/sf0.01").distinct
      .filter(t => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t)))
      .foreach { tier =>
        val edges = Analytics.copurchaseEdgesForTest(s, tier).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        val (want, rounds) = peel(edges)
        assert(rounds >= 1 && want.nonEmpty, s"$tier: degenerate truss fixture")
        if (tier == d) {
          val got = Analytics.graphKtruss(s, tier).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
          assert(got === want,
            s"engine truss diverged from the driver peel " +
              s"(got ${got.size} edges, want ${want.size})")
        }
      }
  }
}
