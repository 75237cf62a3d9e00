package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Det
import graft.streaming.Streams

/** Streaming semantics checks (SURVEY.md §5 item 4): batch-replay
  * equivalence for windowed aggregations, late-row drop under the watermark,
  * and sessionization state correctness — all on sf0.001 via the same
  * synchronous harness the queries use.
  */
class StreamingSpec extends AnyFunSuite {
  import Det._
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  test("streaming micro-batch floors hold (no hidden extra batch / state blowup)") {
    // docs/SCALING.md "Streaming harness floor": the staged-batch harness
    // pays ~1.5–2 s fixed cost per micro-batch, and these three queries
    // are pinned at their minimum batch counts (join_outer: two batches
    // by eviction semantics; scd2/cdc: one data batch + flush). The
    // ceilings are ~2× the documented contended upper range — loose
    // enough for a busy host, tight enough that a regression re-adding a
    // semantic batch or unbounding state fails HERE instead of waiting
    // for a bench forensics pass (r12 verdict item 5).
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime; f; (System.nanoTime - t0) / 1e9
    }
    val floors = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, Double)](
      ("q_stream_join_outer", Streams.streamJoinOuter, 12.0),
      ("q_stream_scd2", Streams.streamScd2, 8.0),
      ("q_stream_cdc_apply", Streams.streamCdcApply, 8.0),
      // one keyed state machine (one state store per partition per
      // batch), one data batch + eviction: the single-operator budget
      ("q_stream_join_multiway", Streams.streamJoinMultiway, 8.0))
    // wall-clock assertions flake on contended hosts even with the ~2×
    // headroom; GRAFT_TIMING_SLACK (a multiplier, default 1.0) lets a
    // functional-only CI run loosen or effectively disable them without
    // losing the regression gate on timing-capable machines
    val slack = sys.env.get("GRAFT_TIMING_SLACK").map(_.toDouble).getOrElse(1.0)
    floors.foreach { case (name, q, ceiling) =>
      timed(q(s, d).collect()) // warm pass: fixture staging + first plans
      // best-of-2: a genuine regression (extra batch, unbounded state)
      // slows EVERY pass, while scheduler contention rarely hits both —
      // the r14 full-suite flake was a single contended pass
      val t = math.min(timed(q(s, d).collect()), timed(q(s, d).collect()))
      assert(t <= ceiling * slack,
        f"$name took $t%.1f s — above its ${ceiling * slack}%.0f s micro-batch " +
          "floor ceiling; check for an extra batch or unbounded state " +
          "(docs/SCALING.md streaming-floor entry)")
    }
  }

  test("q_stream_tumbling equals its batch replay") {
    val streamed = Streams.streamTumbling(s, d).collect().toSeq
    val batch = Tables(s, d, "events")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("q_stream_window_distinct equals the batch exact-distinct replay") {
    val streamed = Streams.streamWindowDistinct(s, d).collect().toSeq
    val batch = Tables(s, d, "events")
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_users"))
      .orderBy("win_start").collect().toSeq
    assert(streamed === batch)
    // distinct must actually bite: raw per-window event counts exceed it
    val raw = Tables(s, d, "events")
      .groupBy(window(col("ts"), "30 minutes")).count()
      .agg(sum("count")).head.getLong(0)
    assert(raw > streamed.map(_.getLong(2)).sum,
      "no window had a repeat user — dedup untested")
  }

  test("q_stream_complete_agg: complete-mode re-emission retains state across batches") {
    val streamed = Streams.streamCompleteAgg(s, d).collect().toSeq
    val batch = Tables(s, d, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value"))
      .orderBy("event_type").collect().toSeq
    // the final complete emission follows a sentinel-only micro-batch, so
    // equality proves the totals came from retained state, not the last
    // batch's rows
    assert(streamed === batch)
  }

  test("q_stream_update_agg: update emissions accumulate; last-per-key equals batch") {
    val streamed = Streams.streamUpdateAgg(s, d).collect().toSeq
    val batch = Tables(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed === batch)
    // the raw sink must hold MORE rows than final keys: trigger 2 re-emitted
    // updated windows (if equal, the second batch never updated anything and
    // update mode was not actually exercised)
    val raw = s.table("graft_stream_update").count()
    assert(raw > streamed.length.toLong,
      s"no cross-trigger updates observed: $raw raw vs ${streamed.length} keys")
  }

  test("q_stream_sliding_session: every event lands in exactly two windows") {
    val total = Streams.streamSliding(s, d).agg(sum("n")).collect()(0).getLong(0)
    assert(total === 2 * Tables(s, d, "events").count())
  }

  test("q_stream_watermark_late: late duplicates are dropped (output equals clean replay)") {
    // the query itself injects 100 stale rows in a third batch; equality with
    // the clean batch replay proves they were dropped by the watermark
    val streamed = Streams.streamWatermarkLate(s, d)
    val cleanN = Tables(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count()
    assert(streamed.count() === cleanN)
    val totalEvents = streamed.agg(sum("n")).collect()(0).getLong(0)
    assert(totalEvents === Tables(s, d, "events").count(),
      "late duplicate rows must not inflate any window")
  }

  test("q_stream_dedup: redelivered in-watermark rows are dropped by key state") {
    val r = Streams.streamDedup(s, d)
    assert(r.count() === Tables(s, d, "events").count(),
      "redelivery must not inflate the output")
    assert(r.select("event_id").distinct().count() === r.count())
  }

  test("q_stream_join_outer equals the batch left join (null rows emitted exactly once)") {
    val ev = Tables(s, d, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") && col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 60 MINUTES"), "left_outer")
      .select(col("c_event"), col("p_event"), col("user_id"),
        col("value").as("purchase_value"))
      .orderBy(col("c_event"), col("p_event").asc_nulls_first)
      .collect().toSeq
    val streamed = Streams.streamJoinOuter(s, d).collect().toSeq
    assert(streamed === batch)
    assert(streamed.exists(_.isNullAt(1)), "fixture should contain unmatched clicks")
  }

  test("q_stream_join_asof equals the batch as-of replay (argmax click per purchase, exactly once)") {
    val ev = Tables(s, d, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_event").orderBy(col("c_ts").desc, col("c_event").desc)
    val best = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("p_ts") - col("c_ts") <= expr("INTERVAL 60 MINUTES"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("p_event"), col("c_event"), col("c_ts"))
    val batch = p.join(best, Seq("p_event"), "left")
      .select(col("p_event"), col("user_id"), col("c_event"),
        when(col("c_event").isNull, lit(null))
          .otherwise(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .cast("long").as("lag_us"))
      .orderBy("p_event").collect().toSeq
    val streamed = Streams.streamJoinAsof(s, d).collect().toSeq
    assert(streamed === batch)
    // every purchase emits exactly once; both outcomes exercised
    assert(streamed.map(_.getLong(0)).distinct.size === streamed.size)
    assert(streamed.exists(_.isNullAt(2)), "fixture should contain unattributed purchases")
    assert(streamed.exists(!_.isNullAt(2)), "fixture should contain attributed purchases")
  }

  test("q_stream_join_full_outer equals the batch full join (both null sides evicted exactly once)") {
    val ev = Tables(s, d, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") && col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 60 MINUTES"), "full_outer")
      .select(col("c_event"), col("p_event"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("value").as("purchase_value"))
      .orderBy(col("c_event").asc_nulls_first, col("p_event").asc_nulls_first)
      .collect().toSeq
    val streamed = Streams.streamJoinFullOuter(s, d).collect().toSeq
    assert(streamed === batch)
    // state EVICTION produced both unmatched sides — once each (the
    // set-equality above rules out duplicates; these rule out an
    // inner-join degeneration that silently drops the null rows)
    assert(streamed.exists(_.isNullAt(1)), "fixture should contain unmatched clicks")
    assert(streamed.exists(_.isNullAt(0)), "fixture should contain unmatched purchases")
    // no sentinel leaked through the eviction pass
    assert(streamed.forall(r => r.isNullAt(2) || r.getLong(2) >= 0))
  }

  test("q_stream_join_multiway equals the batch 3-way join (one keyed state machine)") {
    val ev = Tables(s, d, "events")
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_event"), col("user_id"), col("ts").as("v_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
    val batch = views
      .join(clicks, col("user_id") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"))
      .join(purchases, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("v_event"), col("c_event"), col("p_event"), col("user_id"),
        col("value").as("purchase_value"))
      .orderBy("v_event", "c_event", "p_event")
      .collect().toSeq
    val streamed = Streams.streamJoinMultiway(s, d).collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture should contain complete funnel instances")
  }

  test("q_stream_join_multiway plan: one FlatMapGroupsWithState, no stream-stream join") {
    Streams.streamJoinMultiway(s, d).collect()
    val p = Streams.lastMicroBatchPlan
    // operator lines only: strip the tree prefix and codegen stage marker
    val ops = p.linesIterator.map(_.dropWhile(" :+-*()0123456789".contains(_))).toSeq
    assert(ops.count(_.startsWith("FlatMapGroupsWithState")) === 1,
      s"expected exactly one FlatMapGroupsWithState:\n$p")
    assert(!p.contains("StreamingSymmetricHashJoin"),
      s"multi-way join fell back to chained stream-stream joins:\n$p")
  }

  test("MultiwayFold: two watermark-separated steps equal a brute-force 3-way join") {
    import java.time.{Duration, Instant}
    import graft.streaming.{Ev, MultiwayFold, MultiwayOut, MultiwayState, SessionFold}
    import s.implicits._
    // the fixture is read through Spark; the steps under test run without it
    val fixture = Tables(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .collect().toSeq.sortBy(e => (e.ts, e.event_id))
    val split = fixture(fixture.size / 2).ts
    val hop = Duration.ofHours(6)
    def at(t: Instant, id: Long, user: Long, ty: String) = Ev(id, t, user, ty, id * 0.5)
    def mins(n: Long) = Duration.ofMinutes(n)
    val (u1, u2, u3, u4, u5) = (-11L, -12L, -13L, -14L, -15L) // not in the fixture
    // u4's purchase is the first half's last row, which pins the watermark
    // between the steps at split − 10 min (withWatermark("ts", "10 minutes"))
    val lastPurchase = at(split.minusNanos(1000), -401, u4, "purchase")
    val wm2 = SessionFold.us(lastPurchase.ts) - 10L * 60 * 1000000
    // the view is 8 h behind the split, so only the 12-hour view retention
    // (not a 6-hour one) keeps it for the purchase of the second step
    val pairView = at(split.minus(Duration.ofHours(8)), -101, u1, "view")
    val pairClick = at(split.minus(Duration.ofHours(3)), -102, u1, "click")
    val latePurchase = at(split.plus(Duration.ofHours(1)), -103, u1, "purchase")
    val edgeView = at(split.minus(Duration.ofHours(1)), -201, u2, "view")
    val edgeClick = at(edgeView.ts.plus(hop), -202, u2, "click")
    val edgePurchase = at(edgeClick.ts.plus(hop), -203, u2, "purchase")
    val pastEdge = at(edgeClick.ts.plus(hop).plusNanos(1000), -204, u2, "purchase")
    val sameInstant = Seq("view", "click", "purchase").zipWithIndex.map { case (ty, i) =>
      at(split.minus(Duration.ofHours(3)), -301L - i, u3, ty)
    }
    val u4View = at(lastPurchase.ts.minus(Duration.ofHours(1)), -402, u4, "view")
    val u5Click = at(lastPurchase.ts.minus(mins(2)), -501, u5, "click")
    val u5Purchase = at(lastPurchase.ts.minus(mins(1)), -502, u5, "purchase")
    val extra = Seq(pairView, pairClick, pairClick, latePurchase, // duplicate row
      edgeView, edgeClick, edgePurchase, pastEdge, lastPurchase, u4View, u5Click,
      u5Purchase) ++ sameInstant
    // stragglers: second-step rows behind buffered first-step rows in event
    // time but ahead of the watermark — a click that meets a buffered
    // purchase (u4), a view that meets a buffered click and purchase (u5)
    val u4Click = at(lastPurchase.ts.minus(mins(5)), -403, u4, "click")
    val u5View = at(lastPurchase.ts.minus(mins(4)), -503, u5, "view")
    val (first, ordered) = (fixture ++ extra).sortBy(e => (e.ts, e.event_id))
      .partition(_.ts.isBefore(split))
    val second = ordered ++ Seq(u4Click, u5View)
    assert(first.map(_.ts).max == lastPurchase.ts)
    assert(second.forall(e => SessionFold.us(e.ts) > wm2), "no second-step row is late")

    def step(rows: Seq[Ev], st: Map[Long, MultiwayState], wmUs: Long) = {
      val byUser = rows.groupBy(_.user_id)
      val res = (byUser.keySet ++ st.keySet).toSeq.map { u =>
        u -> MultiwayFold.step(u, st.getOrElse(u, MultiwayFold.Empty),
          byUser.getOrElse(u, Nil), wmUs)
      }
      (res.flatMap(_._2._1),
        res.collect { case (u, (_, n)) if MultiwayFold.wakeUs(n).nonEmpty => u -> n }.toMap)
    }
    val (out1, st1) = step(first, Map.empty, 0L)
    // the watermark advance fires the timeouts (an eviction-only call)
    // before any later row arrives
    val (outWake, stWake) = step(Nil, st1, wm2)
    assert(outWake.isEmpty)
    val (out2, st2) = step(second, stWake, wm2)

    def brute(evs: Seq[Ev]): Seq[MultiwayOut] =
      evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        def of(ty: String) = es.filter(_.event_type == ty)
        def hopOk(a: Instant, b: Instant) = !b.isBefore(a) && !b.isAfter(a.plus(hop))
        for (v <- of("view"); c <- of("click") if hopOk(v.ts, c.ts);
             p <- of("purchase") if hopOk(c.ts, p.ts))
          yield MultiwayOut(v.event_id, c.event_id, p.event_id, u, p.value)
      }
    def sorted(xs: Seq[MultiwayOut]) =
      xs.sortBy(o => (o.v_event, o.c_event, o.p_event, o.user_id))
    assert(sorted(out1 ++ out2) === sorted(brute(first ++ second)))

    def triple(v: Ev, c: Ev, p: Ev) = MultiwayOut(v.event_id, c.event_id, p.event_id,
      v.user_id, p.value)
    // the (view, click) pair buffered across the watermark meets its
    // purchase in the second step, once per copy of the duplicated click
    assert(out2.count(_ == triple(pairView, pairClick, latePurchase)) === 2)
    assert(!out1.exists(_.user_id == u1))
    // both hop bounds are inclusive, at 0 and at exactly 6 hours
    assert(out2.contains(triple(edgeView, edgeClick, edgePurchase)))
    assert(!(out1 ++ out2).exists(_.p_event == pastEdge.event_id))
    assert(out1.contains(triple(sameInstant(0), sameInstant(1), sameInstant(2))))
    // a straggler completes triples whose later rows are already buffered
    assert(out2.contains(triple(u4View, u4Click, lastPurchase)))
    assert(out2.contains(triple(u5View, u5Click, u5Purchase)))
    // eviction bites, and a watermark past every row drains all state
    // with no output
    def size(st: Map[Long, MultiwayState]) =
      st.values.map(b => b.views.size + b.clicks.size + b.purchases.size).sum
    assert(size(stWake) < size(st1))
    val (out3, st3) = step(Nil, st2, Long.MaxValue / 2)
    assert(out3.isEmpty && st3.isEmpty)
  }

  test("restart from checkpoint resumes exactly-once: second run processes only new files") {
    import org.apache.spark.sql.streaming.Trigger
    val src = Fixtures.tempDirCleanedAtExit("graft_resume_src_")
    val out = Fixtures.tempDirCleanedAtExit("graft_resume_out_")
    val ev = Tables(s, d, "events").select("event_id", "event_type", "value")
    def runToSink(): Unit = {
      val q = s.readStream.schema(ev.schema).parquet(src.toString)
        .writeStream.format("parquet")
        .option("path", out.resolve("data").toString)
        .option("checkpointLocation", out.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1 lands half the table; the "crash" is the clean stop after it
    ev.where(col("event_id") % 2 === 0).write.mode("append").parquet(src.toString)
    runToSink()
    // more data arrives; run 2 resumes from the SAME checkpoint
    ev.where(col("event_id") % 2 === 1).write.mode("append").parquet(src.toString)
    runToSink()
    val got = s.read.parquet(out.resolve("data").toString)
    // exactly-once across the restart: nothing lost, nothing reprocessed
    assert(got.count() === ev.count())
    assert(got.select("event_id").distinct().count() === ev.count())
  }

  test("stateful queries run unchanged on the RocksDB state store (production posture)") {
    // docs/SCALING.md prescribes the RocksDB provider for hundred-GB state;
    // prove the claim: the same queries produce identical results under it
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tumbling = Streams.streamTumbling(s, d).collect().toSeq
      val sessions = Streams.streamStateful(s, d).collect().toSeq
      s.conf.unset(key) // default (HDFS-backed) provider for the reference run
      assert(tumbling === Streams.streamTumbling(s, d).collect().toSeq)
      assert(sessions === Streams.streamStateful(s, d).collect().toSeq)
    } finally {
      prev match { case Some(v) => s.conf.set(key, v); case None => s.conf.unset(key) }
    }
  }

  test("q_stream_foreach_upsert is idempotent: a rerun (retry) leaves identical lake state") {
    // the production claim is that at-least-once delivery yields exactly-
    // once lake state because a retried batch re-overwrites its own
    // partitions — a full rerun is the strongest form of that retry
    val first = Streams.streamForeachUpsert(s, d).collect().toSeq
    val rerun = Streams.streamForeachUpsert(s, d).collect().toSeq
    assert(first.nonEmpty)
    assert(rerun === first)
  }

  test("q_stream_join_static: dim join broadcasts inside the micro-batch") {
    val out = Streams.streamJoinStatic(s, d)
    // batch-replay equivalence on totals: every event lands exactly once
    val got = out.agg(sum("n")).collect()(0).getLong(0)
    assert(got === Tables(s, d, "events").count())
    // the enrichment join must be a BroadcastHashJoin in the micro-batch
    // plan — a shuffled stream side would re-partition every batch
    val p = Streams.lastMicroBatchPlan
    assert(p.contains("BroadcastHashJoin"),
      s"stream-static join not broadcast:\n$p")
    // exactly the nations reachable from the fixture's user-id key space
    val wantNations = Tables(s, d, "events")
      .select(pmod(col("user_id"), lit(25L))).distinct().count()
    assert(out.select("n_name").distinct().count() === wantNations)
  }

  test("q_stream_stateful sessionization: totals and session structure reconcile") {
    val sessions = Streams.streamStateful(s, d)
    // every event is in exactly one session
    assert(sessions.agg(sum("n_events")).collect()(0).getLong(0) ===
      Tables(s, d, "events").count())
    // sessions of one user never overlap and respect the 30-min gap
    val byUser = sessions.orderBy("user_id", "session_start").collect()
      .groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rows =>
      rows.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a.getAs[java.sql.Timestamp]("session_end").getTime
          val bStart = b.getAs[java.sql.Timestamp]("session_start").getTime
          assert(bStart - aEnd > 30 * 60 * 1000L,
            "consecutive sessions must be separated by more than the gap")
        case _ =>
      }
    }
  }

  test("q_stream_cdc_apply: sequence order beats arrival order; tombstones delete; counts complete") {
    val out = Streams.streamCdcApply(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    // the scenario genuinely fires all three correction waves:
    // stale replays DELIVERED LAST must have lost to earlier-delivered
    // higher-seq records (arrival order defeated) ...
    val staleUsers = out.filter(_._1 % 3 == 0)
    assert(staleUsers.nonEmpty, "mod-3 users must survive")
    assert(out.forall(_._4 != "stale"),
      "a stale replay (lowest sequence, latest arrival) must never win")
    // ... tombstones delete their keys outright ...
    assert(out.forall(_._1 % 10 != 7), "tombstoned keys must vanish")
    // ... and genuine corrections win where nothing outsequences them
    assert(out.exists(_._4 == "correction"),
      "late corrections must take effect")
    assert(out.filter(_._4 == "correction").forall(_._5 == 123.45))
    // full batch replay of the composed changelog — the streaming fold's
    // final state must equal the batch argmax, key for key
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val stats = ev.groupBy("user_id")
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    def wave(m: Int, r: Int, idBase: Long, tsExpr: org.apache.spark.sql.Column,
        tpe: String, v: Double) = stats.where(col("user_id") % m === r)
      .select((lit(idBase) - col("user_id")).as("event_id"), tsExpr.as("ts"),
        col("user_id"), lit(tpe).as("event_type"), lit(v).as("value"))
    val log = ev
      .unionByName(wave(3, 0, -100L, col("mn") - expr("INTERVAL 1 HOUR"), "stale", -999.0))
      .unionByName(wave(4, 0, -200L, col("mx") + expr("INTERVAL 1 HOUR"), "correction", 123.45))
      .unionByName(wave(10, 7, -300L, col("mx") + expr("INTERVAL 2 HOUR"), "error", 0.0))
    val w = Window.partitionBy("user_id")
    val expected = log
      .withColumn("n_changes", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("n_changes"),
        expr("unix_micros(ts)").as("seq_us"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSet
    assert(out.toSet === expected,
      "streaming CDC final state must equal the batch changelog argmax")
  }

  test("q_stream_scd2: versions tile per key, late records splice at sequence position") {
    val rows = Streams.streamScd2(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4)))
    val byUser = rows.groupBy(_._1)
    byUser.values.foreach { vs =>
      val sorted = vs.sortBy(_._2)
      // version numbers are dense from 1
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      // intervals TILE: each version's valid_to is the next valid_from;
      // only the last is open
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3),
          s"user ${a._1}: version ${a._2} must close where ${b._2} opens")
        case _ =>
      }
      assert(sorted.last._4.isEmpty, "the last version stays open")
      assert(sorted.init.forall(_._4.nonEmpty), "every earlier version closed")
    }
    // the stale replay (sequenced before every natural record, DELIVERED
    // last) must occupy version 1 — history position is sequence position
    val staleUsers = byUser.keys.filter(u => u % 3 == 0)
    assert(staleUsers.nonEmpty)
    staleUsers.foreach { u =>
      val v1 = byUser(u).find(_._2 == 1L).get
      assert(v1._5 === "stale",
        s"user $u: the stale replay must splice in as version 1")
    }
    // tombstoned keys keep their full history; the tombstone is the
    // final (open) version — history materialization never loses the past
    val tombUsers = byUser.keys.filter(u => u % 10 == 7)
    assert(tombUsers.nonEmpty)
    tombUsers.foreach { u =>
      assert(byUser(u).maxBy(_._2)._5 === "error",
        s"user $u: the tombstone must be the final version")
    }
    // cross-check with the CDC fold: every CDC survivor's last state is
    // this history's open version
    val cdc = Streams.streamCdcApply(s, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    cdc.foreach { case (u, (seqUs, tpe)) =>
      val open = byUser(u).maxBy(_._2)
      assert(open._3 === seqUs && open._5 === tpe,
        s"user $u: CDC last state must equal the open SCD2 version")
    }
  }

  test("q_stream_anomaly: planted extremes flag across the batch boundary, normal row doesn't") {
    val rows = graft.streaming.Streams.streamAnomaly(s, d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // batch-2 plants: two extreme purchases and one extreme click flagged...
    Seq(2000001L, 2000003L, 2000004L).foreach { id =>
      assert(rows.contains(id), s"planted extreme $id not flagged")
    }
    // ...the $1.00 purchase in between is not
    assert(!rows.contains(2000002L), "normal planted row falsely flagged")
    // state survived the batch boundary: the planted rows' prior-count is
    // the whole fixture slice of their key, not a batch-local restart
    val typeCounts = Tables(s, d, "events").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows(2000001L)._3 === typeCounts("purchase"),
      "n_prior must count the full carried state, not batch-2 alone")
    assert(rows(2000004L)._3 === typeCounts("click"))
    // the second extreme purchase sees one more prior event than the first
    assert(rows(2000003L)._3 === typeCounts("purchase") + 2)
  }

  test("q_stream_pattern: planted conversion emits across the batch boundary, horizons hold") {
    val rows = graft.streaming.Streams.streamPattern(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // the in-horizon planted purchase converts with a 10-minute wait...
    assert(rows.contains(2100002L), "planted conversion missing")
    assert(rows(2100002L)._4 === 600000000L, "wait must be exactly 10 min of micros")
    // ...the 60-minute purchase and the signup-less user do not
    assert(!rows.contains(2100003L), "out-of-horizon purchase converted")
    assert(!rows.contains(2100004L), "signup-less purchase converted")
    // every emission is a purchase that waited within the horizon
    rows.values.foreach { case (_, sig, pur, wait) =>
      assert(wait === pur - sig && wait >= 0 && wait <= 1800000000L)
    }
    // natural fixture conversions exist too — the operator is not only
    // measuring its own plants
    assert(rows.exists(_._1 < 2100001L), "no organic signup->purchase in fixture")
  }

  test("q_stream_quantile_sketch: streaming-maintained partials equal the lake rollup") {
    // both keys share one rollup tail and one oracle; this pins the
    // stronger engine-side law directly — the watermark-flushed sketch
    // reproduces the batch-built sketch row for row
    val stream = graft.streaming.Streams.streamQuantileSketch(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val lake = graft.operators.Relational.aggQuantileSketchMerge(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(stream.nonEmpty)
    assert(stream === lake,
      s"streaming sketch diverged from the lake rollup:\n$stream\nvs\n$lake")
  }

  test("q_stream_theta_sketch: streaming-maintained sketches equal the lake set algebra") {
    // same law as the quantile pair: one readout tail, one oracle — the
    // watermark-flushed theta sketches must reproduce the batch-built
    // table's readout row for row (exact counts AND envelope booleans)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toSeq
    val stream = rows(graft.streaming.Streams.streamThetaSketch(s, d))
    val lake = rows(graft.operators.Relational.aggThetaSketchDiff(s, d))
    assert(stream.nonEmpty)
    assert(stream === lake,
      s"streaming theta sketch diverged from the lake readout:\n$stream\nvs\n$lake")
  }

  test("q_stream_hll_sketch: streaming-maintained sketches equal the lake union merge") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    val stream = rows(graft.streaming.Streams.streamHllSketch(s, d))
    val lake = rows(graft.operators.Relational.aggSketchMerge(s, d))
    assert(stream.nonEmpty)
    assert(stream === lake,
      s"streaming HLL sketch diverged from the lake readout:\n$stream\nvs\n$lake")
  }
}
