package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

import graft.GraftSession.{PartitionOverwriteMode, ShufflePartitions, withConfs}
import graft.Tables
import graft.functions.Round0Expr
import graft.operators.Det

/** Event row for the staged-batch streaming queries (Instant keeps
  * microsecond precision end-to-end; java.sql.Timestamp would truncate to
  * millis in comparators).
  */
case class Ev(event_id: Long, ts: Instant, user_id: Long, event_type: String, value: Double)

/** Open-session state for sessionization (micros timestamps; cents are
  * integer-exact so emission order cannot change totals).
  */
case class SessionState(startUs: Long, lastUs: Long, n: Long, cents: Long)

/** Streaming-CDC fold state: the max-seq record seen so far for one key
  * plus the total changelog record count (the count is the no-silent-drop
  * proof — a late-filtered or lost record fails the oracle's count).
  * Top-level (not nested in the object) — the state encoder's codegen
  * instantiates it by constructor.
  */
case class CdcState(seqUs: Long, eventId: Long, lastType: String,
    lastValue: Double, nChanges: Long)
case class CdcOut(user_id: Long, n_changes: Long,
    applied_seq_us: Long, last_type: String, last_value: Double)

/** One buffered changelog record of the streaming SCD2 materializer:
  * everything needed to rebuild the key's version history once the
  * watermark closes the reorder horizon.
  */
case class Scd2Rec(seqUs: Long, eventId: Long, evType: String, value: Double)
case class Scd2Buf(recs: Seq[Scd2Rec])
case class Scd2Out(user_id: Long, version_no: Long, valid_from_us: Long,
    valid_to_us: Option[Long], event_type: String, value: Double)

/** Running moments for streaming anomaly detection — integer cents so the
  * fold is exact and order-stable; q = Σcents² stays < 2⁶³ for any realistic
  * per-key stream (10⁶-cent values × 10⁹ events ≈ 10²¹ would need sharding,
  * documented at the operator).
  */
case class AnomState(n: Long, s: Long, q: Long)
case class AnomOut(event_id: Long, event_type: String, cents: Long, n_prior: Long)

/** Pattern-matching state: the most recent signup's event-time micros
  * (−1 = none seen). One long per live user. */
/** As-of join buffers: clicks within the match horizon and purchases not
  * yet provably complete, both as (ts_us, event_id) pairs. */
case class AsofState(clicks: Seq[(Long, Long)], pending: Seq[(Long, Long)])

/** One finalized purchase row: its as-of click (None = no click within the
  * horizon) and the realized lag. */
case class AsofOut(p_event: Long, user_id: Long, c_event: Option[Long],
    lag_us: Option[Long])

/** One buffered funnel event of the multi-way join: event-time micros,
  * event id, and value (read only on purchases). */
case class MwRow(tsUs: Long, eventId: Long, value: Double)

/** Multi-way join buffers for one user, one per input, each sorted by
  * event time. */
case class MultiwayState(views: Seq[MwRow], clicks: Seq[MwRow],
    purchases: Seq[MwRow])

case class MultiwayOut(v_event: Long, c_event: Long, p_event: Long,
    user_id: Long, purchase_value: Double)

case class PatState(sigUs: Long)
case class PatOut(event_id: Long, user_id: Long, signup_us: Long,
    purchase_us: Long, wait_us: Long)

case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, total_value: Double)

/** API-independent sessionization kernel shared by BOTH state APIs
  * ([[Streams.sessionize]] on GroupState and [[SessionProcessor]] on
  * transformWithState): one fold, one gap rule, one close-time formula —
  * so the two queries genuinely cross-validate the ENGINES' state
  * machinery, not two implementations that could silently diverge.
  */
object SessionFold {
  val GapUs: Long = 30L * 60 * 1000000 // 30-minute session gap, micros

  def us(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Integer cents of `v`, as Spark's and DuckDB's `round(v * 100, 0)`. */
  def cents(v: Double): Long = Round0Expr.round0(v * 100).toLong

  def out(uid: Long, st: SessionState): SessionOut =
    SessionOut(uid, st.startUs, st.lastUs, st.n, st.cents.toDouble / 100)

  /** Millisecond close time (floor). A session is safely closeable only
    * when the watermark is STRICTLY past this: at equality a sub-ms-later
    * event with ts == watermark is not late and gap == 30 min does not
    * break (the rule is gap > 30 min), so it would still extend the
    * session — compare with `<`, never `<=`.
    */
  def closeAtMs(st: SessionState): Long = st.lastUs / 1000 + GapUs / 1000

  /** Fold time-sorted events onto an (optional) open session: emits closed
    * sessions, returns the still-open one (null iff no input and no state).
    */
  def fold(userId: Long, evs: Seq[Ev],
      initial: SessionState): (Seq[SessionOut], SessionState) = {
    val closed = Seq.newBuilder[SessionOut]
    var cur = initial
    evs.foreach { e =>
      val t = us(e.ts)
      if (cur == null) cur = SessionState(t, t, 1, cents(e.value))
      else if (t - cur.lastUs > GapUs) {
        closed += out(userId, cur)
        cur = SessionState(t, t, 1, cents(e.value))
      } else cur = SessionState(cur.startUs, t, cur.n + 1, cur.cents + cents(e.value))
    }
    (closed.result(), cur)
  }
}

/** Spark-free step of the view → click → purchase multi-way stream join
  * ([[Streams.streamJoinMultiway]]): one event-time-sorted buffer per
  * input, probed by range around the funnel (the circular multi-way join
  * of PAPERS.md, ICDE 2018) instead of chaining two binary joins that
  * re-buffer the intermediate relation. Each hop is c_ts ∈ [v_ts, v_ts + 6h]
  * and p_ts ∈ [c_ts, c_ts + 6h], both bounds inclusive.
  */
object MultiwayFold {
  val HopUs: Long = 6L * 3600 * 1000000 // one funnel hop, micros
  val Empty: MultiwayState = MultiwayState(Nil, Nil, Nil)

  /** First index of `b` whose time is ≥ `t` (`after`: > `t`). */
  private def bound(b: IndexedSeq[MwRow], t: Long, after: Boolean): Int = {
    var lo = 0
    var hi = b.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (b(m).tsUs < t || (after && b(m).tsUs == t)) lo = m + 1 else hi = m
    }
    lo
  }

  /** Rows of `b` with `lo` ≤ time ≤ `hi`. */
  private def within(b: IndexedSeq[MwRow], lo: Long, hi: Long): Iterator[MwRow] =
    (bound(b, lo, after = false) until bound(b, hi, after = true)).iterator.map(b)

  /** One call for one user: `rows` are the newly arrived events (none on a
    * timeout) and `wmUs` the current watermark; every row in `rows` is
    * later than it (Spark drops late rows before the call). Emits every
    * triple that contains at least one new row, exactly once, then evicts
    * what no later row can join: a view once v_ts + 12h < wm (a later
    * purchase can still reach it through a buffered click), a click once
    * c_ts + 6h < wm, a purchase once p_ts < wm.
    */
  def step(userId: Long, st: MultiwayState, rows: Seq[Ev],
      wmUs: Long): (Seq[MultiwayOut], MultiwayState) = {
    def arrived(t: String): IndexedSeq[MwRow] =
      rows.iterator.filter(_.event_type == t)
        .map(e => MwRow(SessionFold.us(e.ts), e.event_id, e.value))
        .toIndexedSeq.sortBy(_.tsUs)
    // sortBy is a stable merge sort: two sorted runs merge in linear time
    def merged(old: IndexedSeq[MwRow], fresh: IndexedSeq[MwRow]) =
      (old ++ fresh).sortBy(_.tsUs)
    val (nv, nc, np) = (arrived("view"), arrived("click"), arrived("purchase"))
    val (oc, op) = (st.clicks.toIndexedSeq, st.purchases.toIndexedSeq)
    val v = merged(st.views.toIndexedSeq, nv)
    val c = merged(oc, nc)
    val p = merged(op, np)
    val out = Seq.newBuilder[MultiwayOut]
    def emit(vr: MwRow, cr: MwRow, pr: MwRow): Unit =
      out += MultiwayOut(vr.eventId, cr.eventId, pr.eventId, userId, pr.value)
    // each new triple once, by its last new input in funnel order:
    // a new purchase (any click, any view) ...
    for (pr <- np; cr <- within(c, pr.tsUs - HopUs, pr.tsUs);
         vr <- within(v, cr.tsUs - HopUs, cr.tsUs)) emit(vr, cr, pr)
    // ... an old purchase with a new click (any view) ...
    for (cr <- nc; pr <- within(op, cr.tsUs, cr.tsUs + HopUs);
         vr <- within(v, cr.tsUs - HopUs, cr.tsUs)) emit(vr, cr, pr)
    // ... or an old purchase and an old click with a new view
    for (vr <- nv; cr <- within(oc, vr.tsUs, vr.tsUs + HopUs);
         pr <- within(op, cr.tsUs, cr.tsUs + HopUs)) emit(vr, cr, pr)
    (out.result(), MultiwayState(v.dropWhile(_.tsUs + 2 * HopUs < wmUs),
      c.dropWhile(_.tsUs + HopUs < wmUs), p.dropWhile(_.tsUs < wmUs)))
  }

  /** The earliest watermark (micros) past which `st` loses a row to
    * eviction; None once every buffer is empty. */
  def wakeUs(st: MultiwayState): Option[Long] =
    (st.views.headOption.map(_.tsUs + 2 * HopUs) ++
      st.clicks.headOption.map(_.tsUs + HopUs) ++
      st.purchases.headOption.map(_.tsUs)).minOption
}

/** 30-minute-gap sessionizer on the Spark 4 arbitrary-state API: one
  * [[org.apache.spark.sql.streaming.ValueState]] row per open session per
  * user plus an event-time timer just past the session's close time.
  * Semantics come from the shared [[SessionFold]] kernel; this class adds
  * only the state/timer plumbing. A session's prior timer is deleted on
  * every update (otherwise one stale timer per extension accumulates and
  * fires into the stale-guard for nothing).
  */
class SessionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, Ev, SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig}
  import SessionFold.{closeAtMs, fold, out}

  @transient private var session: org.apache.spark.sql.streaming.ValueState[SessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[SessionState]("session",
      org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[Ev],
      tv: TimerValues): Iterator[SessionOut] = {
    val evs = rows.toSeq.sortBy(e => (e.ts, e.event_id))
    val prior = if (session.exists()) session.get() else null
    val (closedNow, cur) = fold(userId, evs, prior)
    val closed = Seq.newBuilder[SessionOut] ++= closedNow
    if (prior != null) getHandle.deleteTimer(closeAtMs(prior) + 1)
    if (cur != null) { // defensive: empty input + no state leaves nothing open
      if (closeAtMs(cur) < tv.getCurrentWatermarkInMs()) { // strictly past: unreachable
        closed += out(userId, cur)
        session.clear()
      } else {
        session.update(cur)
        // +1: fire only when the watermark is STRICTLY past the close time
        getHandle.registerTimer(closeAtMs(cur) + 1)
      }
    }
    closed.result().iterator
  }

  override def handleExpiredTimer(userId: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[SessionOut] = {
    if (session.exists()) {
      val st = session.get()
      // stale-timer guard (belt+braces with deleteTimer): close only if
      // THIS session's close time is strictly behind the watermark
      if (closeAtMs(st) < tv.getCurrentWatermarkInMs()) {
        session.clear()
        return Iterator.single(out(userId, st))
      }
    }
    Iterator.empty
  }
}

/** Structured Streaming operator surface (SURVEY.md §2B q_stream_*): the
  * reference's daily sensor-poll + landing cadence (SFTPSensor,
  * script-dag-dock-report:135-141) re-expressed as native streaming — file
  * sources discover arrivals, watermarks bound lateness like the sensor
  * timeout bounded waiting, and state functions carry the running balances
  * the statements DAG implies.
  *
  * Each `queries` entry runs its streaming query synchronously
  * (Trigger.AvailableNow / processAllAvailable into a memory sink) and
  * returns the result as a batch DataFrame, so the driver's Verify/Bench
  * harness can treat streaming like any other operator. Batch-replay
  * equivalence makes all ten oracle-checkable in DuckDB. Every query runs
  * APPEND mode with a watermark — state is bounded by open windows/sessions
  * and each result row is emitted exactly once, the only aggregation shape
  * that survives an unbounded feed (complete mode re-emits and retains
  * every group forever).
  */
object Streams {
  import Det._

  /** Physical plan of the LAST micro-batch of the most recent staged-batch
    * run (for docs/PLANS.md generation via [[graft.Plans]]; reflection
    * because StreamingQueryWrapper/StreamExecution are private[sql]).
    */
  @volatile var lastMicroBatchPlan: String = ""

  /** Number of state-store partitions for the streaming queries (fixed at
    * query start from spark.sql.shuffle.partitions; recorded in the
    * checkpoint thereafter). Unlike batch shuffles, streaming state cost is
    * paid per partition per MICRO-BATCH (store open/snapshot/commit — a
    * stream-stream join holds FOUR stores per partition), so the right
    * size tracks open-state volume, not input volume: windows ×
    * event_types here is a few hundred rows, and even a 100 TB/day feed
    * has open state orders of magnitude smaller than its throughput.
    * Default 4 locally (r11: measured ~7% family-wide and ~15% on the
    * stream-stream joins vs 8 — the per-batch store lifecycles are the
    * floor's biggest term); deployments with hundred-GB state raise it
    * here.
    */
  private val StreamStateParts = "4"

  /** Run `body` with shuffle partitions (→ state partitions) sized for
    * streaming state; the batch setting is restored after.
    */
  private def withStreamParts[T](s: SparkSession)(body: => T): T =
    withConfs(s, ShufflePartitions -> StreamStateParts)(body)

  /** Streaming read of the events fixture (schema and both physical ts
    * encodings exactly as in [[graft.Tables]]).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val (schema, toTs) = Tables.eventsRead(s, d)
    toTs(s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // the source needs a dir
      .parquet(d))
  }

  /** q_stream_tumbling — per-type counts + exact sums in 1-minute tumbling
    * windows, APPEND mode with a 10-minute watermark: each window emits
    * exactly once when the watermark passes its end, and its state is then
    * dropped — bounded state on an unbounded feed (complete mode would
    * retain and re-emit every window ever seen). The far-future sentinel
    * batch advances the watermark past every real window so the finite
    * fixture flushes fully; emitted rows equal the batch replay → oracle.
    */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "tumbling")
      .where(col("event_type") =!= "sentinel") // its window never flushes; belt+braces
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** q_stream_sliding_session — 10-minute windows sliding every 5 minutes
    * (every event lands in exactly two windows), append mode + watermark +
    * sentinel flush exactly as [[streamTumbling]]: per-window state emits
    * once and is dropped, so state is bounded by open windows only.
    */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "sliding")
      .where(col("event_type") =!= "sentinel")
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "win_end", "event_type")
  }

  /** Fixture events projected to the [[Ev]] shape (ts already truncated to
    * micros by [[graft.Tables]]). Stays a distributed DataFrame end-to-end.
    */
  private def normalizedEvents(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** One-row constant batch whose far-future timestamp advances the
    * watermark past every real window/session close time. Memoized per
    * session so [[withStagedFeed]] can recognize it by identity and stage
    * its parquet bytes by FILE COPY instead of running a one-row
    * distributed write job per query (≈100-160 ms each, ~20 stream keys).
    */
  private val sentinelBatch = new graft.PerSession(s => {
    import s.implicits._
    Seq(Ev(-1L, Instant.parse("2030-01-01T00:00:00Z"), -1L, "sentinel", 0.0)).toDF()
  })

  /** The sentinel row as staged parquet bytes, written ONCE per session
    * (same engine write path — identical bytes to what the per-query
    * write produced), then file-copied into each query's private feed dir.
    */
  private val stagedSentinelDir = new graft.PerSession(s => {
    val dir = java.nio.file.Files.createTempDirectory(
      streamCkptRoot, "graft_stream_sentinel_")
    graft.Fixtures.registerForExitCleanup(dir)
    sentinelBatch(s).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir
  })

  /** Land one staged batch as a new feed dir `<own>-<uuid>` beside `own`
    * and return it: the memoized sentinel goes in as a file copy; anything
    * else pays the distributed write it needs. The batch is written to a
    * hidden dir inside `own`, which the feed glob does not reach, and
    * renamed into place in one step, so a trigger sees all of its files or
    * none. The query polls the feed while a later batch is appended, and a
    * write commits its files one by one: a trigger that saw the sentinel's
    * file but not the tombstone wave's advanced the watermark past the
    * wave, and `q_stream_scd2` lost the history of every tombstoned user.
    */
  private def appendBatch(s: SparkSession, b: DataFrame,
      own: java.nio.file.Path): java.nio.file.Path = {
    val name = s"${own.getFileName}-${java.util.UUID.randomUUID()}"
    val hidden = own.resolve(s".$name")
    if (b eq sentinelBatch(s)) {
      java.nio.file.Files.createDirectory(hidden)
      val st = java.nio.file.Files.list(stagedSentinelDir(s))
      try st.filter(_.getFileName.toString.startsWith("part-")).forEach { p =>
        java.nio.file.Files.copy(p, hidden.resolve(p.getFileName))
      } finally st.close()
    } else b.write.parquet(hidden.toString)
    val landed = own.resolveSibling(name)
    graft.Fixtures.registerForExitCleanup(landed)
    java.nio.file.Files.move(hidden, landed, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-dataset immutable staging of the events table (one distributed
    * parquet write per JVM per dataset): every staged-batch streaming query
    * starts from the full events table, so staging it once and sharing it
    * read-only removes one events-table write job from EACH streaming query
    * (7 queries × ~1 s at sf0.1). The dir lives directly under tmpdir so it
    * can appear in the single-component source glob of a staged feed.
    */
  private val stagedEvents = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedEventsDir(s: SparkSession, d: String): String =
    stagedEvents.computeIfAbsent(d, _ => {
      // exit-hook cleanup: the shared copy lives for the whole session, so
      // without it every Verify/Bench/test JVM would leave one events-table
      // clone per dataset in tmpdir forever. Lives on the streaming root
      // so the staged feed's glob stays one-component.
      val dir = java.nio.file.Files.createTempDirectory(
        streamCkptRoot, "graft_stream_events_")
      graft.Fixtures.registerForExitCleanup(dir)
      normalizedEvents(s, d).write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })

  /** Staged-file-batch harness: batch 1 is the SHARED immutable staged
    * events dir, later batches are appended (distributed writes) to a
    * query-private dir, and the file source watches both through one glob.
    * Each batch is fully drained (`processAllAvailable`) before the next —
    * so watermarks advance batch-by-batch exactly as an arriving-files
    * deployment would see them. Nothing touches the driver: every batch is
    * an ordinary distributed write job, so the same harness runs unchanged
    * against 100 TB of events (the earlier MemoryStream harness collected
    * the whole table to the driver — an OOM at scale).
    */
  private def runStagedBatches(s: SparkSession, build: DataFrame => DataFrame,
      d: String, laterBatches: Seq[DataFrame],
      firstBatchExtra: Seq[DataFrame] = Nil,
      key: String): DataFrame = {
    withStreamParts(s) {
      val name = s"graft_stream_$key"
      // a re-invocation REPLACES the prior run's sink table instead of
      // accumulating one full result set per run in driver memory for the
      // JVM lifetime (a bench loop over R rounds would otherwise hold R
      // copies of every streaming result; the sink name is per QUERY KEY,
      // so live results of other queries are untouched)
      s.catalog.dropTempView(name)
      withStagedFeed(s, d, laterBatches, firstBatchExtra) { src =>
        build(src).writeStream.outputMode(OutputMode.Append()).format("memory")
          .queryName(name).start()
      }
      s.table(name)
    }
  }

  /** Root for the harness's TRANSIENT streaming dirs: per-query
    * checkpoints (offset/commit logs, state store deltas), the staged
    * events copy and the query-private feed dirs. Every query here creates
    * its checkpoint, drains a finite feed and discards it at stop. The
    * default is tmpdir; `SPARK_GRAFT_STREAM_CKPT_ROOT` chooses another
    * root (a long-lived production query needs a durable one). A RAM-backed
    * `/dev/shm` root bought nothing once [[startQuery]] pinned the
    * FileSystem checkpoint manager: five alternating fresh-session runs of
    * `q_stream_join_multiway` per root (sf0.01, 4 cores) took a median
    * 1.19 s [1.08–1.71] on tmpdir and 1.30 s [1.16–1.71] on `/dev/shm`.
    * Commit time was process forks, not I/O (docs/SCALING.md, "Process
    * forks on the local filesystem").
    */
  private lazy val streamCkptRoot: java.nio.file.Path = {
    val root = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_STREAM_CKPT_ROOT", sys.props("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(root)
    root
  }

  /** Spark's FileSystem-API checkpoint manager, pinned by [[startQuery]]. */
  private[graft] val FsCheckpointManager: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Offset-log checkpoint manager class of the query [[startQuery]] last
    * started (reflection: StreamExecution and HDFSMetadataLog.fileManager
    * are not public API).
    */
  @volatile var lastCheckpointManager: String = ""

  /** The one way the engine starts a streaming query: `start` runs with
    * the session's checkpoint manager pinned to [[FsCheckpointManager]],
    * plus any `confs`, and every previous value is restored after. The
    * query clones the session when it starts, so the pin covers its offset
    * and commit logs, its state stores and a file sink's `_spark_metadata`
    * log. Spark's default FileContext manager creates each checkpoint file
    * and dir with an explicit permission and renames it through
    * `FileContext`; on the local filesystem without the native Hadoop
    * library every such call forks a `chmod` or `readlink` subprocess —
    * 759 of the 796 forks of one `iterative` bench run, and most of each
    * micro-batch's state commit time (docs/SCALING.md, "Process forks on
    * the local filesystem"). Every engine checkpoint is a private,
    * transient dir on the local filesystem, where rename(2) is atomic, so
    * the FileContext manager's atomic-rename guarantee buys nothing here.
    */
  private[graft] def startQuery(s: SparkSession, confs: (String, String)*)(
      start: => StreamingQuery): StreamingQuery = {
    val q = withConfs(s,
      ("spark.sql.streaming.checkpointFileManagerClass" -> FsCheckpointManager) +:
        confs: _*)(start)
    lastCheckpointManager =
      try {
        val se = q.getClass.getMethod("streamingQuery").invoke(q)
        val log = se.getClass.getMethod("offsetLog").invoke(se)
        log.getClass.getMethod("fileManager").invoke(log).getClass.getName
      } catch { case scala.util.control.NonFatal(_) => "(unavailable)" }
    q
  }

  /** The single copy of the staged-feed plumbing (query-private staging
    * dir, one-component glob source, first-batch extras, drain loop,
    * last-plan capture, cleanup) shared by the memory-sink harness above
    * and the foreachBatch upsert — a fix to the scaffold lands in one
    * place.
    */
  private def withStagedFeed(s: SparkSession, d: String,
      laterBatches: Seq[DataFrame], firstBatchExtra: Seq[DataFrame])(
      start: DataFrame => StreamingQuery): Unit = {
    val shared = java.nio.file.Paths.get(stagedEventsDir(s, d))
    // registered for exit cleanup too: the finally below removes it and
    // every batch landed beside it on the normal path, the hook covers a
    // JVM killed mid-query; same root as the shared dir so the feed glob
    // stays one-component
    val own = java.nio.file.Files.createTempDirectory(
      streamCkptRoot, "graft_stream_stage_")
    graft.Fixtures.registerForExitCleanup(own)
    val landed = scala.collection.mutable.ArrayBuffer(own)
    // single-component alternation (all dirs sit in the streaming root)
    // — Hadoop globs do not allow '/' inside {}
    val glob = s"${shared.getParent}/{${shared.getFileName},${own.getFileName}-*}"
    // frames staged BEFORE the query starts join the events table in micro-
    // batch 1. For append-mode AGGREGATIONS the flush sentinel can ride
    // along here: the watermark advances after batch 1 commits and the
    // stateful operator reports requiresAnotherBatch, so processAllAvailable
    // runs-and-awaits the watermark-only flush batch — one data batch
    // instead of two. (Stream-stream OUTER-join eviction does NOT run in
    // that no-data batch — q_stream_join_outer keeps its double-sentinel.)
    firstBatchExtra.foreach(b => landed += appendBatch(s, b, own))
    // no maxFilesPerTrigger → each drain consumes every staged file in one
    // micro-batch, keeping intra-batch rows ahead of the watermark
    val src = s.readStream.schema(normalizedEvents(s, d).schema).parquet(glob)
    // transient checkpoint under [[streamCkptRoot]]; session-conf scoped
    // by [[startQuery]] so the builder lambdas stay untouched, deleted in
    // the finally below
    val ckpt = java.nio.file.Files.createTempDirectory(
      streamCkptRoot, "graft_stream_ckpt_")
    graft.Fixtures.registerForExitCleanup(ckpt)
    val q = startQuery(s,
      "spark.sql.streaming.checkpointLocation" -> ckpt.toString)(start(src))
    try {
      q.processAllAvailable()
      laterBatches.foreach { b =>
        landed += appendBatch(s, b, own)
        q.processAllAvailable()
      }
      // second drain: the watermark-only flush batch that follows the last
      // data batch is scheduled by requiresAnotherBatch, and under host
      // load the first processAllAvailable can return between the data
      // batch's commit and that no-data batch's scheduling (observed once
      // as an empty scd2 sink in a full-suite run). A repeat drain is a
      // no-op when the flush already ran and completes it when it hasn't.
      q.processAllAvailable()
      lastMicroBatchPlan =
        try {
          val se = q.getClass.getMethod("streamingQuery").invoke(q)
          val ex = se.getClass.getMethod("lastExecution").invoke(se)
          ex.getClass.getMethod("executedPlan").invoke(ex).toString
        } catch { case scala.util.control.NonFatal(_) => "(unavailable)" }
    } finally {
      q.stop()
      // the sink holds the results; the query-private staged copies and
      // the transient checkpoint would otherwise accumulate per
      // invocation (the shared events staging is one copy per dataset
      // per JVM, reused read-only)
      landed.foreach { p =>
        deleteRecursively(p)
        graft.Fixtures.removeFromExitCleanup(p)
      }
      deleteRecursively(ckpt)
      graft.Fixtures.removeFromExitCleanup(ckpt)
    }
  }

  /** One recursive delete for every staging/sink cleanup site (was four
    * hand-rolled Files.walk copies with delete-vs-deleteIfExists drift).
    */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** q_stream_complete_agg — COMPLETE OUTPUT MODE: the running per-type
    * totals are re-emitted IN FULL every trigger from the state store —
    * the dashboard-refresh contract (append emits only finalized windows,
    * update only changed keys; complete is the third, whole-result mode,
    * exercised nowhere else on this board). The feed runs in two
    * micro-batches: the events table, then a sentinel-only batch — the
    * final table must still carry the batch-1 totals for every real type,
    * proving the emission re-reads retained state rather than recomputing
    * from the last batch's rows. No watermark: complete-mode state is
    * all groups, by contract.
    *
    * Scale: state = one row per group (5 types); complete mode is only
    * viable at bounded group cardinality — which is exactly what this
    * query demonstrates and its Scaladoc documents (unbounded keys →
    * update mode + a compacting sink instead).
    */
  def streamCompleteAgg(s: SparkSession, d: String): DataFrame = {
    withStreamParts(s) {
      val name = "graft_stream_complete"
      s.catalog.dropTempView(name)
      withStagedFeed(s, d, laterBatches = Seq(sentinelBatch(s)),
        firstBatchExtra = Nil) { src =>
        src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value"))
          .writeStream.outputMode(OutputMode.Complete()).format("memory")
          .queryName(name).start()
      }
      s.table(name)
        .where(col("event_type") =!= "sentinel")
        .select("event_type", "n", "sum_value")
        .orderBy("event_type")
    }
  }

  /** q_stream_update_agg — UPDATE OUTPUT MODE: hourly per-type counts
    * where each trigger emits ONLY the (window, type) rows that changed —
    * the incremental-sink contract between append (finalized-only) and
    * complete (everything). The feed splits the events table by event_id
    * parity into two micro-batches, so almost every window is UPDATED in
    * trigger 2 and the memory sink accumulates both emissions; the final
    * value per key is the LAST emission, recovered as max(n) (counts are
    * monotone under updates — the property that makes update mode safe to
    * consume idempotently). No watermark: with the feed split by ID, not
    * time, batch 2 carries arbitrarily old events, and update mode
    * without watermark keeps all windows live — the documented trade
    * (bounded here by the calendar; an unbounded stream would watermark
    * and accept late-drop instead).
    *
    * Scale: state = open (window, type) cells; emission volume per
    * trigger is the CHANGED subset — the reason update mode feeds
    * incremental upsert sinks ([[streamForeachUpsert]] is the sink half
    * of this pattern).
    */
  def streamUpdateAgg(s: SparkSession, d: String): DataFrame = {
    withStreamParts(s) {
      val name = "graft_stream_update"
      s.catalog.dropTempView(name)
      val ev = normalizedEvents(s, d)
      val dir = graft.Fixtures.tempDirCleanedAtExit("graft_stream_upd_")
      ev.where(col("event_id") % 2 === 0)
        .write.mode("append").parquet(dir.toString)
      val src = s.readStream.schema(ev.schema).parquet(dir.toString)
      val q = startQuery(s)(src
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode(OutputMode.Update()).format("memory")
        .queryName(name).start())
      try {
        q.processAllAvailable()
        ev.where(col("event_id") % 2 === 1)
          .write.mode("append").parquet(dir.toString)
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(dir)
        graft.Fixtures.removeFromExitCleanup(dir)
      }
      s.table(name)
        .groupBy(col("window.start").as("win_start"),
          col("window.end").as("win_end"), col("event_type"))
        .agg(max(col("n")).as("n")) // last emission per key: n is monotone
        .orderBy("win_start", "event_type")
    }
  }

  /** q_stream_topk — windowed TRENDING TOP-K (most-active users per
    * 10-minute window), the two-stage shape every production trending
    * feature uses because ranking is not an incremental streaming
    * aggregate: stage 1 runs INSIDE the stream — per-(window, user) counts
    * in append mode, watermark-flushed, state bounded by open windows —
    * and stage 2 ranks the FLUSHED aggregate rows (orders of magnitude
    * smaller than the feed: one row per active user per window) with an
    * ordinary batch window function, ties broken by user_id. At 100 TB/day
    * the stream stage absorbs the volume with map-side partials into keyed
    * state; the rank stage's input is bounded by users-per-window, not
    * events.
    */
  def streamTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flushed = runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "topk")
      .where(col("user_id") =!= -1L) // sentinel's window never flushes; belt+braces
    val rk = Window.partitionBy("win_start").orderBy(col("n").desc, col("user_id").asc)
    flushed
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("user_id"), col("n"))
      .withColumn("rk", row_number().over(rk))
      .where(col("rk") <= 3)
      .orderBy("win_start", "rk")
  }

  /** q_stream_quantile_sketch — STREAMING-MAINTAINED QUANTILE PARTIALS:
    * the stream face of `q_agg_quantile_sketch_merge`. The stream itself
    * maintains the (day, type, bin) fixed-bin histogram — one append-mode
    * windowed aggregate, watermark-flushed, state bounded by open
    * (day × type × bin) cells — and the quantile read runs over the
    * FLUSHED partials through the SAME rollup tail as the lake path
    * ([[graft.operators.Relational.quantileRollup]]), so both keys are
    * gated by the IDENTICAL oracle SQL: streaming-maintained ≡
    * batch-built partials, hash-checked. At 100 TB/day this is how the
    * sketch table of the lake pattern actually gets written — the stream
    * absorbs the feed with map-side partials into keyed state and lands
    * day-grain rows; nothing downstream changes.
    */
  def streamQuantileSketch(s: SparkSession, d: String): DataFrame = {
    val flushed = runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"), col("event_type"),
          floor(col("value") / 5.0d).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "qsketch")
      .where(col("event_type") =!= "sentinel")
    graft.operators.Relational.quantileRollup(
      flushed.select(col("window.start").cast("date").as("day"),
        col("event_type"), col("bin"), col("cnt")))
  }

  /** q_stream_theta_sketch — STREAMING-MAINTAINED THETA SKETCH PARTIALS,
    * the stream face of `q_agg_theta_sketch_diff` exactly as
    * [[streamQuantileSketch]] is the stream face of the quantile
    * partials: the stream maintains one theta sketch per (day,
    * event_type) as a single append-mode windowed aggregate
    * (watermark-flushed — at 100 TB/day this is how the lake pattern's
    * sketch table gets WRITTEN: map-side sketch partials into keyed
    * state, day-grain sketch rows out), and the set-algebra readout
    * (window unions, difference / intersection / union, exact-arm
    * envelope booleans) runs over the flushed partials through the SAME
    * tail as the lake path ([[graft.operators.Relational.thetaAlgebra]]).
    * Gated by the IDENTICAL oracle SQL as the lake key — streaming-
    * maintained ≡ batch-built, hash-checked — plus a row-for-row
    * engine-side equality spec. Sketch state is KB per open (day, type)
    * cell; merge order across micro-batches cannot perturb the readout
    * (theta sketches are order-insensitive in estimate, and the fixture
    * cardinality keeps them in exact mode).
    */
  def streamThetaSketch(s: SparkSession, d: String): DataFrame = {
    val flushed = runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(expr("theta_sketch_agg(user_id, 12)").as("sk")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "thsketch")
      .where(col("event_type") =!= "sentinel")
    graft.operators.Relational.thetaAlgebra(s, d,
      graft.operators.Relational.thetaEstimates(
        flushed.select(col("window.start").cast("date").as("day"),
          col("event_type"), col("sk"))))
  }

  /** q_stream_hll_sketch — STREAMING-MAINTAINED HLL SKETCH PARTIALS,
    * completing the stream/lake symmetry for all three persisted-sketch
    * rollups (quantile partials, theta set algebra, and now the HLL
    * distinct-count union of `q_agg_sketch_merge`): the stream maintains
    * one HLL sketch per (day, event_type) as a single append-mode
    * windowed aggregate, watermark-flushed, and the union-merge readout
    * runs over the flushed partials through the SAME tail as the lake
    * path ([[graft.operators.Relational.hllMergeReadout]]). HLL union is
    * register-wise max — exactly order-insensitive — so micro-batch
    * merge order cannot perturb the estimate, and the key is gated by
    * the IDENTICAL oracle SQL as the lake key plus a row-for-row
    * engine-side equality spec.
    */
  def streamHllSketch(s: SparkSession, d: String): DataFrame = {
    val flushed = runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "hllsketch")
      .where(col("event_type") =!= "sentinel")
    graft.operators.Relational.hllMergeReadout(s, d,
      flushed.select(col("event_type"), col("sk")))
  }

  /** q_stream_watermark_late — hourly tumbling counts in APPEND mode with a
    * 10-minute watermark, demonstrating late-data drop (the streaming
    * analogue of the reference's bounded sensor wait,
    * script-dag-dock-report:139-140):
    *   batch 1: all events;
    *   batch 2: a far-future sentinel advances the watermark so every real
    *            window finalizes and emits (the sentinel's own window never
    *            finalizes, so it is naturally absent);
    *   batch 3: stale copies of the earliest events — all dropped, leaving
    *            the emitted counts equal to the clean batch replay (the
    *            oracle-checked equivalence).
    */
  def streamWatermarkLate(s: SparkSession, d: String): DataFrame = {
    val ev = normalizedEvents(s, d)
    // stale redelivery: the 100 earliest events, far behind the watermark
    val stale = ev.orderBy("ts", "event_id").limit(100)
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value")),
      d, Seq(sentinelBatch(s), stale), key = "watermark_late")
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** q_stream_dedup — exactly-once semantics over an at-least-once source:
    * the reference retries failed transfers (3×3 min,
    * script-dag-dock-report:21-22), which redelivers data; the streaming
    * engine deduplicates on event_id within the watermark. The second batch
    * redelivers the newest rows — the ones whose dedup state is still LIVE
    * (ts + delay ahead of the watermark), so they are dropped by key
    * matching, not by the late-data filter; output equals the distinct
    * batch replay (oracle-checked).
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val ev = normalizedEvents(s, d)
    // redelivery aimed at live state: rows within 5 min of the max event
    // time (watermark is max-10min, state survives until ts+10min > wm);
    // the max-ts row itself always qualifies, so the batch is never empty.
    // Broadcast of a one-row aggregate keeps the selection fully in-engine.
    val redelivered = ev
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("redeliver_from"))))
      .where(col("ts") >= col("redeliver_from") - expr("INTERVAL 5 MINUTES"))
      .drop("redeliver_from")
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"),
      d, Seq(redelivered), key = "dedup")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** q_stream_window_distinct — EXACT DISTINCT-USER COUNT per 30-minute
    * tumbling window on a stream: streaming can't nest two aggregations,
    * so the classic exact-distinct recipe composes stateful DEDUP with ONE
    * windowed aggregation — `dropDuplicatesWithinWatermark(user, bucket)`
    * collapses each user to one row per bucket (state evicted at the
    * watermark, so it holds one window's user set, not history), then the
    * ordinary windowed count over the survivors IS the distinct count.
    * The bucket column is the epoch-aligned window start, so the dedup key
    * and the aggregation window coincide by construction.
    *
    * Scale: dedup state is (users active in open windows) — watermark-
    * bounded like every other key here; the post-dedup aggregate carries
    * one row per (user, window), the theoretical minimum for an exact
    * distinct. The approximate alternative at extreme cardinality is the
    * HLL family (`q_agg_sketch_merge`).
    */
  def streamWindowDistinct(s: SparkSession, d: String): DataFrame = {
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .withColumn("bucket", timestamp_micros(
          expr("(unix_micros(ts) div 1800000000) * 1800000000")))
        .dropDuplicatesWithinWatermark("user_id", "bucket")
        .groupBy(window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_users")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "windist")
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_users"))
      .where(col("win_start") < lit("2029-01-01").cast("timestamp"))
      .orderBy("win_start")
  }

  /** q_stream_session_window — Spark's native session windows (30-minute
    * gap) in append mode: the sentinel advances the watermark past every
    * real session's close so all of them flush. Cross-validates the custom
    * [[sessionize]] operator (q_stream_stateful) against the built-in: the
    * two differ only in the documented semantics gap — session_window starts
    * a new session at gap ≥ 30 min (windows [ts, ts+gap) must OVERLAP to
    * merge) and reports session_end = last event + gap, while the custom
    * sessionizer breaks at gap > 30 min and reports session_end = last
    * event — both oracle-checked with their exact semantics.
    */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sumExact(col("value"), 2).as("total_value")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "session_window")
      .where(col("user_id") =!= -1L) // sentinel's own session never flushes; belt+braces
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** q_stream_sink_files — the streaming FILE sink: events stream →
    * transform → transactional parquet sink with a checkpoint (the sink's
    * commit log gives exactly-once file visibility; readers never see
    * partial batches). The returned aggregate re-reads the sink and carries
    * a distinct-count alongside the row count — their equality in the
    * oracle check is the exactly-once evidence.
    */
  def streamSinkFiles(s: SparkSession, d: String): DataFrame = {
    // per-INVOCATION base (exit-cleaned): a fixed shared path raced across
    // concurrent JVMs — one JVM's idempotency wipe deleting another's live
    // sink data + checkpoint mid-query; a fresh dir per run is both the
    // idempotent-rerun story and the collision-free one
    val base = graft.Fixtures.tempDirCleanedAtExit("graft_stream_sink_")
    val q = startQuery(s)(eventsStream(s, d)
      .select("event_id", "user_id", "event_type", "value")
      .writeStream.format("parquet")
      .option("path", base.resolve("data").toString)
      .option("checkpointLocation", base.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    s.read.parquet(base.resolve("data").toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"),
        sumExact(col("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** q_stream_join_interval — stream-stream INTERVAL join: clicks joined to
    * the same user's purchases within the following hour (the classic
    * attribution join). Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark retains only one hour + watermark
    * of state per side — the bounded-state form of stream-stream join that
    * survives an unbounded feed. Inner joins emit on match (no watermark
    * wait), so the single-batch replay equals the batch SQL join → oracle.
    */
  def streamJoinInterval(s: SparkSession, d: String): DataFrame = {
    runStagedBatches(s,
      src => {
        val clicks = src.where(col("event_type") === "click")
          .select(col("event_id").as("c_event"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = src.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value"))
          .withWatermark("p_ts", "10 minutes")
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 60 MINUTES"))
      },
      d, Seq.empty, key = "join_interval")
      .select(col("c_event"), col("p_event"), col("user_id"),
        col("value").as("purchase_value"))
      .orderBy("c_event", "p_event")
  }

  /** Multi-way join state function: the [[MultiwayFold]] step plus the
    * GroupState plumbing — buffers persist until every row is evicted, and
    * the timeout wakes at the earliest eviction time.
    */
  private def multiwayFold(userId: Long, rows: Iterator[Ev],
      state: GroupState[MultiwayState]): Iterator[MultiwayOut] = {
    val (out, next) = MultiwayFold.step(userId,
      state.getOption.getOrElse(MultiwayFold.Empty), rows.toSeq,
      state.getCurrentWatermarkMs() * 1000L)
    MultiwayFold.wakeUs(next) match {
      case Some(w) => state.update(next); setWake(state, w / 1000L)
      case None => if (state.exists) state.remove()
    }
    out.iterator
  }

  /** q_stream_join_multiway — 3-WAY stream-stream interval join as ONE
    * user-keyed state machine (the multi-way streaming shape of the
    * EDBT/ICDE multi-way stream-join literature): complete view → click →
    * purchase funnel instances, each hop bounded to 6 event-time hours.
    * One flatMapGroupsWithState operator keeps one buffer per input
    * ([[MultiwayFold]]) and emits a triple as soon as its last row arrives,
    * so the staged replay equals the batch 3-way join → the oracle. State
    * per user is bounded by the 12-hour funnel span + watermark, and a
    * partition commits one state store per micro-batch (the per-batch
    * store lifecycle is the streaming harness's fixed cost).
    */
  def streamJoinMultiway(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runStagedBatches(s,
      src => src
        .where(col("event_type").isin("view", "click", "purchase"))
        .withWatermark("ts", "10 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout)(multiwayFold)
        .toDF(),
      d, Seq.empty, key = "join_multiway")
      .orderBy("v_event", "c_event", "p_event")
  }

  /** q_stream_join_outer — stream-stream LEFT OUTER interval join: clicks
    * with no purchase in the following hour emit with NULL purchase columns
    * — but only once the watermark proves no match can still arrive (the
    * semantics complete-audit attribution needs; inner joins simply drop
    * those clicks). Each branch FILTERS BY TYPE FIRST and then applies its
    * own watermark, which is why the sentinels below are TYPED (one click,
    * one purchase): a single neutral sentinel would be dropped by both
    * filters and never reach either watermark node — see the inline
    * comment. State stays bounded exactly as in the inner variant
    * (~70 min of events per side).
    */
  def streamJoinOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // TYPED sentinels — one click, one purchase — so each filtered branch's
    // own watermark sees a far-future row (a filter above a shared
    // watermark node gets pushed below it, starving it of a neutral
    // sentinel). 2030-01 vs 2030-06 are >60 min apart, so the sentinels can
    // never match each other; the sentinel click's own null row would only
    // emit past ITS eviction horizon, which never arrives — and the final
    // filter drops negative ids regardless. Sent TWICE: null rows are
    // emitted by state eviction, which runs while processing a batch under
    // the already-advanced watermark — and processAllAvailable does not
    // wait for Spark's internal watermark-only no-data batch. The FIRST
    // sentinel pair rides ALONG WITH the data in micro-batch 1
    // (firstBatchExtra): inner matches emit there and the commit advances
    // both branch watermarks past every real event; the ONE later batch
    // then drives the eviction pass that emits the null rows. Two
    // micro-batches total where the r10 shape paid three — the harness
    // floor is per-batch (state-store open/commit × partitions), so
    // dropping a batch cuts ~1/3 of the fixed cost (measured in
    // docs/SCALING.md "streaming harness floor").
    val sentinels = Seq(
      Ev(-2L, Instant.parse("2030-01-01T00:00:00Z"), -1L, "click", 0.0),
      Ev(-3L, Instant.parse("2030-06-01T00:00:00Z"), -2L, "purchase", 0.0)).toDF()
    runStagedBatches(s,
      src => {
        val clicks = src.where(col("event_type") === "click")
          .select(col("event_id").as("c_event"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = src.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value"))
          .withWatermark("p_ts", "10 minutes")
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 60 MINUTES"),
          "left_outer")
      },
      d, Seq(sentinels), firstBatchExtra = Seq(sentinels), key = "join_outer")
      .where(col("c_event") >= 0)
      .select(col("c_event"), col("p_event"), col("user_id"),
        col("value").as("purchase_value"))
      // NULLS FIRST pinned on both engines: Spark defaults nulls-first,
      // DuckDB defaults nulls-last — an unpinned sort would hash-mismatch
      .orderBy(col("c_event"), col("p_event").asc_nulls_first)
  }

  /** q_stream_join_full_outer — stream-stream FULL OUTER interval join
    * (r15 verdict ask #3), the two-sided completion of
    * [[streamJoinOuter]]: clicks with no purchase in the following hour
    * emit with NULL purchase columns AND purchases preceded by no click
    * emit with NULL click columns — each only once the watermark proves
    * no match can still arrive. This is the complete-reconciliation view
    * (every click's outcome and every orphaned purchase in one relation)
    * an attribution audit needs; Spark supports it natively and the
    * typed-sentinel two-batch machinery generalizes verbatim. The output
    * key is COALESCED across sides (a purchase-only row carries no click
    * user_id). State per side stays watermark-bounded exactly as in the
    * left-outer variant (~70 min of events); null rows on both sides are
    * emitted by state eviction in the one post-data batch. NULLS FIRST
    * is pinned on BOTH sort keys (Spark defaults nulls-first, DuckDB
    * nulls-last — the left-outer lesson, now needed on c_event too).
    */
  def streamJoinFullOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // typed sentinels, one per branch (the streamJoinOuter doctrine):
    // >60 min apart in 2030 so they can never match each other, negative
    // ids so the final filter drops any row they could ever surface
    val sentinels = Seq(
      Ev(-2L, Instant.parse("2030-01-01T00:00:00Z"), -1L, "click", 0.0),
      Ev(-3L, Instant.parse("2030-06-01T00:00:00Z"), -2L, "purchase", 0.0)).toDF()
    runStagedBatches(s,
      src => {
        val clicks = src.where(col("event_type") === "click")
          .select(col("event_id").as("c_event"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = src.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value"))
          .withWatermark("p_ts", "10 minutes")
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 60 MINUTES"),
          "full_outer")
      },
      d, Seq(sentinels), firstBatchExtra = Seq(sentinels),
      key = "join_full_outer")
      .where(coalesce(col("c_event"), lit(0L)) >= 0 &&
        coalesce(col("p_event"), lit(0L)) >= 0)
      .select(col("c_event"), col("p_event"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("value").as("purchase_value"))
      .orderBy(col("c_event").asc_nulls_first, col("p_event").asc_nulls_first)
  }

  /** Sessionization state function on GroupState (semantics from the
    * shared [[SessionFold]] kernel): sorts the batch's events, extends or
    * closes the open session on each >30-minute gap, emits closed sessions,
    * and keeps the open one in state with an event-time timeout. A session
    * whose close time is STRICTLY behind the watermark can never be
    * extended (a ts == watermark event is not late and an exact-30-minute
    * gap does not break), so it emits immediately; otherwise the timeout
    * is pinned past both the close time and the current watermark (Spark
    * rejects a timeout at or behind the watermark).
    */
  private def sessionize(userId: Long, rows: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    import SessionFold.{closeAtMs, fold, out}
    if (!rows.hasNext) { // timeout fired: wm is strictly past close — emit
      val st = state.get
      state.remove()
      Iterator.single(out(userId, st))
    } else {
      val evs = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      val (closedNow, cur) = fold(userId, evs, state.getOption.orNull)
      val closed = Seq.newBuilder[SessionOut] ++= closedNow
      val wmMs = state.getCurrentWatermarkMs()
      if (closeAtMs(cur) < wmMs) { // already unreachable by any future row
        closed += out(userId, cur)
        state.remove()
      } else {
        state.update(cur)
        state.setTimeoutTimestamp(math.max(closeAtMs(cur), wmMs + 1))
      }
      closed.result().iterator
    }
  }

  /** q_stream_stateful — per-user session totals via flatMapGroupsWithState
    * (custom state, SURVEY.md §2B): 30-minute-gap sessionization with
    * event-time timeouts. Batch-replay equivalent is lag-based gap
    * sessionization in SQL → oracle-checked.
    */
  def streamStateful(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // sentinel advances the watermark past every real session's close time
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
          sessionize)
        .toDF(),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "stateful")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** As-of state fold for one user: buffer arriving clicks and purchases;
    * a purchase FINALIZES once the watermark strictly passes its event
    * time (no click with c_ts ≤ p_ts can still arrive — a ts == watermark
    * row is not late), matching the latest buffered click within the
    * 60-minute horizon (ties to the larger click id); clicks evict once
    * they can no longer match any non-late future purchase
    * (c_ts < wm − 60 min). The timeout path (empty iterator) is the flush:
    * the advanced watermark finalizes everything still pending.
    */
  private def asofFold(userId: Long, rows: Iterator[Ev],
      state: GroupState[AsofState]): Iterator[AsofOut] = {
    import SessionFold.us
    val horizonUs = 3600000000L // 60 minutes
    val st = state.getOption.getOrElse(AsofState(Nil, Nil))
    val evs = if (rows.hasNext) rows.toSeq else Seq.empty
    var clicks = st.clicks ++ evs.filter(_.event_type == "click")
      .map(e => (us(e.ts), e.event_id))
    val pending = st.pending ++ evs.filter(_.event_type == "purchase")
      .map(e => (us(e.ts), e.event_id))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (ready, still) = pending.partition(_._1 < wmUs)
    val out = ready.sortBy(identity).map { case (pts, pid) =>
      val cand = clicks.filter(c => c._1 <= pts && pts - c._1 <= horizonUs)
      if (cand.isEmpty) AsofOut(pid, userId, None, None)
      else {
        val best = cand.maxBy(identity)
        AsofOut(pid, userId, Some(best._2), Some(pts - best._1))
      }
    }
    clicks = clicks.filter(_._1 >= wmUs - horizonUs)
    if (still.isEmpty && clicks.isEmpty) {
      if (state.exists) state.remove()
    } else {
      state.update(AsofState(clicks, still))
      // wake when the watermark can have passed the earliest pending
      // purchase (or at the next watermark advance if only clicks remain)
      setWake(state, still.map(_._1 / 1000L).minOption
        .getOrElse(state.getCurrentWatermarkMs()))
    }
    out.iterator
  }

  /** Event-time timeout for a fold whose state changes once the watermark
    * passes `wakeMs`: fires when the watermark is strictly past it, and
    * never at or behind the current watermark (Spark rejects that).
    */
  private def setWake(state: GroupState[_], wakeMs: Long): Unit =
    state.setTimeoutTimestamp(
      math.max(wakeMs + 1, state.getCurrentWatermarkMs() + 1))

  /** q_stream_join_asof — STREAMING AS-OF JOIN (temporal join, r16 —
    * Flink's temporal-join capability on the Spark state API, the stream
    * face of the batch `q_join_asof_*` family): every purchase is
    * attributed to the LATEST same-user click at-or-before it within 60
    * minutes, and emits EXACTLY ONCE — matched or null — as soon as the
    * watermark proves its answer final (no click with c_ts ≤ p_ts can
    * still arrive once wm > p_ts). Spark's built-in stream-stream joins
    * cannot express "latest preceding" (they emit every edge in the
    * window, and outer variants cannot rank); the custom
    * flatMapGroupsWithState fold buys the argmax with watermark-bounded
    * buffers.
    *
    * Scale: state per user = clicks inside one 60-minute horizon + the
    * purchases inside one watermark delay — O(rate × window), never
    * O(stream); eviction rides the same watermark that drives
    * finalization. The oracle is the batch as-of replay (rank-1 window
    * over the interval join), so streaming-equals-batch is hash-checked.
    */
  def streamJoinAsof(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout)(asofFold)
        .toDF(),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "join_asof")
      .where(col("user_id") =!= -1L)
      .select(col("p_event"), col("user_id"), col("c_event"), col("lag_us"))
      .orderBy("p_event")
  }

  /** Sequential 3-sigma gate over one key's micro-batch slice: prior-stats
    * test THEN state fold, per event in (ts, event_id) order — so an
    * anomaly never contaminates its own threshold but does harden the
    * stream against repeats. Integer-exact: the σ comparison
    * (n·v − S)² > 9·(n·Q − S²) is the 3-sigma rule cleared of divisions,
    * evaluated in BigInt (the squares exceed 2⁶³ for hot keys; the oracle
    * evaluates the same product in HUGEINT).
    */
  private def anomalyFold(key: String, rows: Iterator[Ev],
      state: GroupState[AnomState]): Iterator[AnomOut] = {
    import SessionFold.cents
    var st = state.getOption.getOrElse(AnomState(0L, 0L, 0L))
    val out = Seq.newBuilder[AnomOut]
    rows.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      val c = cents(e.value)
      if (st.n >= 30) {
        val dev = BigInt(st.n) * c - BigInt(st.s)
        val varN = BigInt(st.n) * st.q - BigInt(st.s) * st.s
        if (dev * dev > 9 * varN) out += AnomOut(e.event_id, key, c, st.n)
      }
      st = AnomState(st.n + 1, st.s + c, st.q + c * c)
    }
    state.update(st)
    out.result().iterator
  }

  /** q_stream_anomaly — STREAMING 3-SIGMA ANOMALY DETECTION: per
    * event_type, a running (count, Σcents, Σcents²) state flags each
    * arriving event whose value deviates from the PRIOR stream by more
    * than 3σ (after a 30-event warm-up), emitting only the anomalies.
    * Batch 2 plants three extreme purchases/clicks plus one normal row —
    * the extremes must flash red across the batch boundary (state carried,
    * not recomputed), the normal row must not.
    *
    * Scale: state is THREE LONGS per key — O(keys), never O(events) — and
    * the only shuffle is the groupByKey on the anomaly key. The fixture
    * keys on event_type (5 keys → parallelism 5 at local[32]); a
    * production deployment keys on (entity, metric) — millions of keys —
    * where the same plan distributes evenly; a single globally-hot key
    * would shard by time-bucket with per-shard warm-up. The oracle replays
    * the whole fold as one per-key ordered window pass.
    */
  def streamAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      Ev(2000001L, Instant.parse("2029-06-01T00:00:00Z"), 1L, "purchase", 9999.99),
      Ev(2000002L, Instant.parse("2029-06-01T00:01:00Z"), 2L, "purchase", 1.0),
      Ev(2000003L, Instant.parse("2029-06-01T00:02:00Z"), 3L, "purchase", 9999.99),
      Ev(2000004L, Instant.parse("2029-06-01T00:03:00Z"), 4L, "click", 9999.99)).toDF()
      // ONE part file: the running stream lists the staging dir continuously,
      // so a multi-file append can be picked up in two micro-batches split
      // MID-BATCH — and this fold's "prior stream" is arrival order, so a
      // split that reorders rows 2000001/2000003 changes n_prior (observed
      // flaking once in three runs). A single file is seen whole or not at
      // all; 4 rows, so the coalesce costs nothing.
      .coalesce(1)
    runStagedBatches(s,
      src => src.as[Ev].groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          anomalyFold)
        .toDF(),
      d, Seq(planted), key = "anomaly")
      .orderBy("event_id")
  }

  /** Per-user CEP fold: signup arms the state, each purchase within the
    * 30-minute horizon emits a conversion (the signup is NOT consumed —
    * one signup can convert several purchases; a later signup re-arms).
    */
  private def patternFold(uid: Long, rows: Iterator[Ev],
      state: GroupState[PatState]): Iterator[PatOut] = {
    import SessionFold.us
    var sig = state.getOption.map(_.sigUs).getOrElse(-1L)
    val out = Seq.newBuilder[PatOut]
    rows.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      val t = us(e.ts)
      e.event_type match {
        case "signup" => sig = t
        case "purchase" if sig >= 0 && t - sig <= 1800000000L =>
          out += PatOut(e.event_id, uid, sig, t, t - sig)
        case _ =>
      }
    }
    state.update(PatState(sig))
    out.result().iterator
  }

  /** q_stream_pattern — STREAMING SEQUENCE-PATTERN DETECTION
    * (MATCH_RECOGNIZE-lite / the CEP conversion funnel): per user, detect
    * signup → purchase within 30 minutes of event time and emit the
    * conversion with its wait. Batch 2 plants a signup + one in-horizon
    * purchase (must emit, with state carried across the batch boundary),
    * one out-of-horizon purchase and one signup-less user (must not).
    *
    * Scale: state is ONE LONG per live user (the armed signup), keyed by
    * user — the canonical CEP state bound; emission volume is the match
    * count. The oracle replays the fold as a per-user running
    * last-signup window over the composed event log.
    */
  def streamPattern(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      Ev(2100001L, Instant.parse("2029-06-01T00:00:00Z"), 424242L, "signup", 0.0),
      Ev(2100002L, Instant.parse("2029-06-01T00:10:00Z"), 424242L, "purchase", 42.0),
      Ev(2100003L, Instant.parse("2029-06-01T01:00:00Z"), 424242L, "purchase", 43.0),
      Ev(2100004L, Instant.parse("2029-06-01T00:05:00Z"), 434343L, "purchase", 44.0))
      .toDF()
      .coalesce(1) // single file: arrival order must not split mid-batch
    runStagedBatches(s,
      src => src.as[Ev].groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          patternFold)
        .toDF(),
      d, Seq(planted), key = "pattern")
      .orderBy("event_id")
  }

  /** q_stream_stateful_tws — the SAME 30-minute-gap sessionization on
    * Spark 4's arbitrary-state API ([[StatefulProcessor]] via
    * `transformWithState`): typed ValueState + event-time timers replace
    * flatMapGroupsWithState's GroupState. Cross-validating the two APIs
    * against one lag-gap SQL oracle pins the semantics to the engine, not
    * to either API's quirks. Requires the RocksDB state store (the only
    * provider implementing the new state format) — scoped to this query.
    */
  def streamStatefulTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConfs(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      runStagedBatches(s,
        src => src
          .withWatermark("ts", "10 minutes")
          .as[Ev]
          .groupByKey(_.user_id)
          .transformWithState(new SessionProcessor(),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append())
          .toDF(),
        d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "stateful_tws")
        .where(col("user_id") =!= -1L)
        .select(col("user_id"), expr("timestamp_micros(start_us)").as("session_start"),
          expr("timestamp_micros(end_us)").as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    }
  }

  /** The per-key CDC fold: keep whichever record carries the HIGHEST
    * (ts, event_id) sequence — arrival order (micro-batch index) never
    * decides, so a stale replay delivered last still loses — and emit the
    * key's final state exactly once, when the event-time timer proves no
    * earlier-sequenced record can still arrive. A key whose final record
    * is a tombstone ('error' op) emits NOTHING: the delete is the absence.
    */
  private def cdcFold(userId: Long, rows: Iterator[Ev],
      state: GroupState[CdcState]): Iterator[CdcOut] = {
    import SessionFold.us
    if (!rows.hasNext) { // timer fired: the fold is final
      val st = state.get
      state.remove()
      if (st.lastType == "error") Iterator.empty
      else Iterator.single(
        CdcOut(userId, st.nChanges, st.seqUs, st.lastType, st.lastValue))
    } else {
      var st = state.getOption
        .getOrElse(CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L))
      rows.foreach { e =>
        val t = us(e.ts)
        st =
          if (t > st.seqUs || (t == st.seqUs && e.event_id > st.eventId))
            CdcState(t, e.event_id, e.event_type, e.value, st.nChanges + 1)
          else st.copy(nChanges = st.nChanges + 1)
      }
      state.update(st)
      // fire as soon as the watermark moves past the fold's newest record
      // (never at-or-before the current watermark — Spark rejects that)
      state.setTimeoutTimestamp(
        math.max(st.seqUs / 1000 + 1, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** q_stream_cdc_apply — streaming CHANGELOG APPLICATION: the ordered
    * insert/update/delete fold of `q_cdc_apply`, continuous. The events
    * feed is the changelog (key = user, sequence = (ts, event_id), op =
    * 'error' ⇒ delete tombstone, anything else ⇒ upsert); micro-batch 2
    * then delivers a derived correction wave OUT OF ORDER — per-user
    * stale replays sequenced BEFORE records already applied (they must
    * lose), genuine late corrections sequenced after (they must win), and
    * fresh tombstones (those keys must vanish from the output). State is
    * one fixed-size record per live key — the minimal CDC state bound —
    * evicted on an event-time timer once the watermark proves the key
    * final, so the memory-sink output is append-mode exactly-once.
    *
    * The watermark delay (90 days) is deliberately wider than the feed's
    * whole span: a CDC log's sequence numbers are NOT its arrival times,
    * so correctness must never depend on late-row filtering — the
    * per-key change COUNT in the output turns any silently dropped
    * record into an oracle failure.
    *
    * Scale: per micro-batch one keyed shuffle at changelog grain; state
    * is live-key grain (one small struct per key, the same bound the
    * batch fold's max(struct) carries per group); eviction is
    * watermark-driven. The oracle replays the whole composed changelog in
    * batch SQL: argmax by sequence per key, tombstones filtered.
    */
  /** The derived out-of-order correction wave — ONE definition shared by
    * the streaming CDC fold and the streaming SCD2 materializer (and
    * mirrored verbatim by [[cdcLogSqlCte]]): per-user stale replays
    * sequenced BEFORE records already applied, genuine late corrections
    * sequenced after everything, and fresh tombstones sequenced last.
    */
  private def cdcCorrectionWave(s: SparkSession, d: String): DataFrame = {
    val stats = normalizedEvents(s, d).groupBy("user_id")
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    def wave(cond: org.apache.spark.sql.Column, idBase: Long,
        tsCol: org.apache.spark.sql.Column, tpe: String,
        value: Double) = stats.where(cond)
      .select((lit(idBase) - col("user_id")).as("event_id"), tsCol.as("ts"),
        col("user_id"), lit(tpe).as("event_type"), lit(value).as("value"))
    // stale replays: sequenced before everything already applied
    wave(col("user_id") % 3 === 0, -100L,
      col("mn") - expr("INTERVAL 1 HOUR"), "stale", -999.0)
      // genuine corrections: newest sequence so far
      .unionByName(wave(col("user_id") % 4 === 0, -200L,
        col("mx") + expr("INTERVAL 1 HOUR"), "correction", 123.45))
      // tombstones: delete the key outright (sequenced after the
      // correction, so a user in both waves still deletes)
      .unionByName(wave(col("user_id") % 10 === 7, -300L,
        col("mx") + expr("INTERVAL 2 HOUR"), "error", 0.0))
  }

  def streamCdcApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corrections = cdcCorrectionWave(s, d)
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "90 days")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout)(cdcFold)
        .toDF(),
      d, Seq(corrections.unionByName(sentinelBatch(s))),
      firstBatchExtra = Nil, key = "cdc_apply")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("n_changes"), col("applied_seq_us"),
        col("last_type"), col("last_value"))
      .orderBy("user_id")
  }

  /** The per-key SCD2 fold: BUFFER every changelog record until the
    * event-time timer proves the reorder horizon closed, then rebuild the
    * full version history in sequence order — each record a version,
    * `valid_to` the next version's `valid_from` (NULL = still current).
    * Buffering-then-sorting is what makes the history point-in-time
    * CORRECT under late data: an eager version-splicer would have to
    * rewrite already-emitted rows when a stale replay arrives; the
    * watermark-bounded buffer turns that rewrite into a sort.
    */
  private def scd2Fold(userId: Long, rows: Iterator[Ev],
      state: GroupState[Scd2Buf]): Iterator[Scd2Out] = {
    import SessionFold.us
    if (!rows.hasNext) { // timer: horizon closed, materialize the history
      val recs = state.get.recs.sortBy(r => (r.seqUs, r.eventId))
      state.remove()
      recs.iterator.zipWithIndex.map { case (rec, i) =>
        Scd2Out(userId, i + 1L, rec.seqUs,
          if (i + 1 < recs.length) Some(recs(i + 1).seqUs) else None,
          rec.evType, rec.value)
      }
    } else {
      val prev = state.getOption.map(_.recs).getOrElse(Seq.empty)
      val buf = prev ++ rows.map(e =>
        Scd2Rec(us(e.ts), e.event_id, e.event_type, e.value))
      state.update(Scd2Buf(buf))
      state.setTimeoutTimestamp(
        math.max(buf.iterator.map(_.seqUs).max / 1000 + 1,
          state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** q_stream_scd2 — streaming SLOWLY-CHANGING-DIMENSION history: the
    * other half of the engine's continuous CDC story. `q_stream_cdc_apply`
    * keeps each key's LAST state; this materializes every key's full
    * version HISTORY — (version_no, valid_from, valid_to) intervals in
    * sequence order, the point-in-time-correct table temporal joins and
    * training-data "as-of" reconstruction need (the batch sibling is
    * `q_maintain_scd2`). Fed the same out-of-order correction wave:
    * a stale replay must land at its SEQUENCE position in the history
    * (splitting the interval that covered it), not at its arrival
    * position — the ordering bug the buffered fold makes structurally
    * impossible and an eager splicer gets wrong.
    *
    * Scale: state per key is the records inside the watermark's reorder
    * horizon (not all history — a production run with a finite delay
    * emits periodically as the watermark advances past each span); one
    * keyed shuffle per micro-batch, history emitted exactly once. The
    * oracle replays the composed changelog with one lead() window.
    */
  def streamScd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corrections = cdcCorrectionWave(s, d)
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "90 days")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout)(scd2Fold)
        .toDF(),
      d, Seq(corrections.unionByName(sentinelBatch(s))),
      firstBatchExtra = Nil, key = "scd2")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("version_no"), col("valid_from_us"),
        col("valid_to_us"), col("event_type"), col("value"))
      .orderBy("user_id", "version_no")
  }

  /** q_stream_foreach_upsert — the streaming lake-merge pattern:
    * `foreachBatch` lands each micro-batch into a day-partitioned parquet
    * lake under DYNAMIC partition overwrite, so a batch replaces exactly
    * the days it carries and leaves every other day untouched — the
    * streaming form of `q_upsert_partition` (the reference's per-day
    * `replace=True`, continuous). Batch 1 lands the full feed; batch 2 is
    * a corrected re-extract of the max day only (values doubled), which
    * overwrites that single partition. Idempotence is the production
    * story: a retried micro-batch re-overwrites its own partitions, so
    * at-least-once delivery still yields exactly-once lake state. The
    * re-read aggregate proves old days kept original values and the
    * corrected day carries the fix (same invariant — and oracle — as the
    * batch upsert).
    */
  def streamForeachUpsert(s: SparkSession, d: String): DataFrame = {
    // per-INVOCATION base (exit-cleaned) — same collision-free rationale
    // as streamSinkFiles
    val base = graft.Fixtures.tempDirCleanedAtExit("graft_stream_upsert_")
    val dataDir = base.resolve("data").toString
    val ev = normalizedEvents(s, d)
    // corrected re-extract of the max day only (broadcast one-row scalar)
    val corrected = ev
      .crossJoin(broadcast(ev.agg(max(to_date(col("ts"))).as("mx"))))
      .where(to_date(col("ts")) === col("mx")).drop("mx")
      .withColumn("value", col("value") * 2)
    withStreamParts(s) {
      withStagedFeed(s, d, laterBatches = Seq(corrected),
        firstBatchExtra = Nil) { src =>
        src.writeStream
          .option("checkpointLocation", base.resolve("checkpoint").toString)
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            withConfs(batch.sparkSession, PartitionOverwriteMode -> "dynamic") {
              batch
                .withColumn("day", to_date(col("ts"))).drop("ts")
                .write.mode("overwrite").partitionBy("day").parquet(dataDir)
            }
          }
          .start()
      }
    }
    s.read.parquet(dataDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value"))
      .withColumn("day", col("day").cast("string"))
      .orderBy("day")
  }

  /** q_stream_join_static — STREAM-STATIC ENRICHMENT: the most common
    * production streaming shape (join each arriving event to a broadcast
    * dimension, then window-aggregate) that the stream-stream joins here
    * don't cover. The nation dim joins on a derived key, the join is a
    * per-micro-batch BroadcastHashJoin (the stream side NEVER shuffles for
    * it — asserted on the captured micro-batch plan), and the hourly
    * aggregate flushes append-mode behind the watermark. The flush
    * sentinel flows through join and aggregate (a pre-watermark filter
    * would be pushed below the EventTimeWatermark node and stop the
    * watermark advancing); its far-future window never flushes, so it
    * cannot appear in append-mode output.
    *
    * Scale: the dim re-broadcasts per micro-batch at dim-table cost —
    * fine for true dimensions (KBs–GBs); state is bounded by open hourly
    * windows exactly as in [[streamTumbling]].
    */
  def streamJoinStatic(s: SparkSession, d: String): DataFrame = {
    val dim = broadcast(Tables(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name")))
    runStagedBatches(s,
      src => src
        .withWatermark("ts", "10 minutes")
        .withColumn("nk", pmod(col("user_id"), lit(25L)))
        .join(dim, "nk")
        .groupBy(window(col("ts"), "1 hour"), col("n_name"))
        .agg(count(lit(1)).as("n"), sumExact(col("value"), 2).as("sum_value")),
      d, Seq.empty, firstBatchExtra = Seq(sentinelBatch(s)), key = "join_static")
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("n_name"), col("n"), col("sum_value"))
      .orderBy("win_start", "n_name")
  }

  // ------------------------------------------------------------- contract

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_join_static" -> streamJoinStatic _,
    "q_stream_tumbling" -> streamTumbling _,
    "q_stream_window_distinct" -> streamWindowDistinct _,
    "q_stream_complete_agg" -> streamCompleteAgg _,
    "q_stream_update_agg" -> streamUpdateAgg _,
    "q_stream_topk" -> streamTopk _,
    "q_stream_quantile_sketch" -> streamQuantileSketch _,
    "q_stream_theta_sketch" -> streamThetaSketch _,
    "q_stream_hll_sketch" -> streamHllSketch _,
    "q_stream_sliding_session" -> streamSliding _,
    "q_stream_watermark_late" -> streamWatermarkLate _,
    "q_stream_session_window" -> streamSessionWindow _,
    "q_stream_join_interval" -> streamJoinInterval _,
    "q_stream_join_multiway" -> streamJoinMultiway _,
    "q_stream_join_outer" -> streamJoinOuter _,
    "q_stream_join_full_outer" -> streamJoinFullOuter _,
    "q_stream_join_asof" -> streamJoinAsof _,
    "q_stream_sink_files" -> streamSinkFiles _,
    "q_stream_stateful" -> streamStateful _,
    "q_stream_stateful_tws" -> streamStatefulTws _,
    "q_stream_foreach_upsert" -> streamForeachUpsert _,
    "q_stream_cdc_apply" -> streamCdcApply _,
    "q_stream_scd2" -> streamScd2 _,
    "q_stream_anomaly" -> streamAnomaly _,
    "q_stream_pattern" -> streamPattern _,
    "q_stream_dedup" -> streamDedup _)

  val oracle: Map[String, String] = Map(
    "q_stream_join_static" ->
      ("SELECT date_trunc('hour', ts) AS win_start, " +
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end, n_name, " +
        s"count(*) AS n, ${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events JOIN nation ON n_nationkey = user_id % 25 " +
        "GROUP BY 1, 2, 3 ORDER BY win_start, n_name"),
    "q_stream_quantile_sketch" ->
      // the IDENTICAL SQL as the lake rollup: streaming-maintained
      // partials must reproduce the batch-built sketch bit for bit
      graft.operators.Relational.oracle("q_agg_quantile_sketch_merge"),
    "q_stream_theta_sketch" ->
      // the IDENTICAL SQL as the lake set-algebra readout
      graft.operators.Relational.oracle("q_agg_theta_sketch_diff"),
    "q_stream_hll_sketch" ->
      // the IDENTICAL SQL as the lake union-merge readout
      graft.operators.Relational.oracle("q_agg_sketch_merge"),
    "q_stream_topk" ->
      ("WITH wc AS (SELECT to_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600) " +
        "AS w0, user_id, count(*) AS n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT w0, user_id, n, " +
        "row_number() OVER (PARTITION BY w0 ORDER BY n DESC, user_id) AS rk FROM wc) " +
        "SELECT CAST(w0 AS TIMESTAMP) AS win_start, " +
        "CAST(w0 + INTERVAL 10 MINUTE AS TIMESTAMP) AS win_end, user_id, n, rk " +
        "FROM r WHERE rk <= 3 ORDER BY win_start, rk"),
    "q_stream_tumbling" ->
      ("SELECT date_trunc('minute', ts) AS win_start, " +
        "date_trunc('minute', ts) + INTERVAL 1 MINUTE AS win_end, " +
        s"event_type, count(*) AS n, ${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type"),
    "q_stream_window_distinct" ->
      ("SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS win_start, " +
        "make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 + 1800000000) AS win_end, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start"),
    "q_stream_complete_agg" ->
      (s"SELECT event_type, count(*) AS n, ${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_update_agg" ->
      ("SELECT date_trunc('hour', ts) AS win_start, " +
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end, " +
        "event_type, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type"),
    "q_stream_sliding_session" ->
      ("WITH g AS (SELECT *, to_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT) * 300) AS g5 " +
        "FROM events), " +
        "w AS (SELECT event_type, value, unnest([g5, g5 - INTERVAL 5 MINUTE]) AS win_start FROM g) " +
        "SELECT CAST(win_start AS TIMESTAMP) AS win_start, " +
        "CAST(win_start + INTERVAL 10 MINUTE AS TIMESTAMP) AS win_end, event_type, " +
        s"count(*) AS n, ${sqlSumExact("value", 2)} AS sum_value " +
        "FROM w GROUP BY 1, 2, 3 ORDER BY win_start, win_end, event_type"),
    "q_stream_watermark_late" ->
      ("SELECT date_trunc('hour', ts) AS win_start, " +
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end, " +
        s"event_type, count(*) AS n, ${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type"),
    "q_stream_dedup" ->
      ("SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id"),
    "q_stream_sink_files" ->
      ("SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_distinct, " +
        s"${sqlSumExact("value", 2)} AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_join_interval" ->
      ("SELECT c.event_id AS c_event, p.event_id AS p_event, " +
        "c.user_id AS user_id, p.value AS purchase_value " +
        "FROM events c JOIN events p ON c.user_id = p.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE " +
        "ORDER BY c_event, p_event"),
    // every triple emits when its last row arrives → the staged replay
    // equals the batch 3-way join
    "q_stream_join_multiway" ->
      ("SELECT v.event_id AS v_event, c.event_id AS c_event, " +
        "p.event_id AS p_event, v.user_id AS user_id, " +
        "p.value AS purchase_value " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON c.user_id = v.user_id " +
        "AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR " +
        "JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON p.user_id = v.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR " +
        "ORDER BY v_event, c_event, p_event"),
    "q_stream_join_outer" ->
      ("SELECT c.event_id AS c_event, p.event_id AS p_event, " +
        "c.user_id AS user_id, p.value AS purchase_value " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE " +
        "ORDER BY c_event, p_event NULLS FIRST"),
    // the batch as-of replay: rank-1 window over the interval join, then
    // every purchase carried through a left join (unmatched → nulls)
    "q_stream_join_asof" ->
      ("WITH p AS (SELECT event_id AS p_event, user_id, ts AS p_ts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id AS c_event, user_id, ts AS c_ts " +
        "FROM events WHERE event_type = 'click'), " +
        "m AS (SELECT p.p_event, c.c_event, c.c_ts, " +
        "row_number() OVER (PARTITION BY p.p_event " +
        "ORDER BY c.c_ts DESC, c.c_event DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id " +
        "AND c.c_ts <= p.p_ts AND p.p_ts - c.c_ts <= INTERVAL 60 MINUTE), " +
        "best AS (SELECT p_event, c_event, c_ts FROM m WHERE rn = 1) " +
        "SELECT p.p_event, p.user_id, best.c_event, " +
        "CASE WHEN best.c_event IS NULL THEN NULL " +
        "ELSE epoch_us(p.p_ts) - epoch_us(best.c_ts) END AS lag_us " +
        "FROM p LEFT JOIN best ON best.p_event = p.p_event " +
        "ORDER BY p.p_event"),
    // both unmatched sides in one relation; NULLS FIRST pinned on both
    // sort keys (Spark nulls-first vs DuckDB nulls-last)
    "q_stream_join_full_outer" ->
      ("SELECT c.event_id AS c_event, p.event_id AS p_event, " +
        "coalesce(c.user_id, p.user_id) AS user_id, " +
        "p.value AS purchase_value " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE " +
        "ORDER BY c_event NULLS FIRST, p_event NULLS FIRST"),
    "q_stream_session_window" ->
      ("WITH g AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE " +
        "THEN 1 ELSE 0 END AS brk FROM events), " +
        "sids AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g) " +
        "SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL 30 MINUTE AS session_end, " +
        s"count(*) AS n_events, ${sqlSumExact("value", 2)} AS total_value " +
        "FROM sids GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // both sessionizer queries share ONE oracle: they cross-validate two
    // state APIs against the same committed semantics
    "q_stream_stateful_tws" -> sessionOracleSql,
    // same invariant as the batch upsert: old days original, max day doubled
    "q_stream_foreach_upsert" ->
      ("SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n, " +
        "sum(round(CASE WHEN CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events) " +
        "THEN value * 2 ELSE value END * 100, 0)) / 100 AS sum_value " +
        "FROM events GROUP BY day ORDER BY day"),
    "q_stream_stateful" -> sessionOracleSql,
    // the composed changelog (events + the derived correction wave)
    // replayed in batch: argmax by (ts, event_id) per key, tombstones out
    "q_stream_cdc_apply" ->
      (s"WITH $cdcLogSqlCte, " +
        "lst AS (SELECT user_id, ts, event_id, event_type, value, " +
        "CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) " +
        "AS rn FROM log) " +
        "SELECT user_id, n_changes, epoch_us(ts) AS applied_seq_us, " +
        "event_type AS last_type, value AS last_value " +
        "FROM lst WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),
    // the same composed changelog replayed as version history: one lead()
    // window in sequence order per key
    "q_stream_scd2" ->
      (s"WITH $cdcLogSqlCte " +
        "SELECT user_id, " +
        "CAST(row_number() OVER w AS BIGINT) AS version_no, " +
        "epoch_us(ts) AS valid_from_us, " +
        "lead(epoch_us(ts)) OVER w AS valid_to_us, " +
        "event_type, value FROM log " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, version_no"),
    // full replay of the prior-stats 3-sigma fold (planted batch included):
    // strictly-preceding window moments per event_type, HUGEINT products
    "q_stream_anomaly" ->
      ("WITH ev AS (SELECT event_id, ts, event_type, " +
        "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events " +
        "UNION ALL SELECT CAST(event_id AS BIGINT), CAST(ts AS TIMESTAMP), " +
        "event_type, CAST(cents AS BIGINT) FROM (VALUES " +
        "(2000001, TIMESTAMP '2029-06-01 00:00:00', 'purchase', 999999), " +
        "(2000002, TIMESTAMP '2029-06-01 00:01:00', 'purchase', 100), " +
        "(2000003, TIMESTAMP '2029-06-01 00:02:00', 'purchase', 999999), " +
        "(2000004, TIMESTAMP '2029-06-01 00:03:00', 'click', 999999)" +
        ") v(event_id, ts, event_type, cents)), " +
        "st AS (SELECT event_id, event_type, cents, " +
        "CAST(count(*) OVER w AS BIGINT) AS n_prior, " +
        "CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS s_prior, " +
        "CAST(coalesce(sum(cents * cents) OVER w, 0) AS BIGINT) AS q_prior " +
        "FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_id, event_type, cents, n_prior FROM st " +
        "WHERE n_prior >= 30 AND " +
        "CAST(n_prior * cents - s_prior AS HUGEINT) * " +
        "CAST(n_prior * cents - s_prior AS HUGEINT) > " +
        "9 * (CAST(n_prior AS HUGEINT) * CAST(q_prior AS HUGEINT) - " +
        "CAST(s_prior AS HUGEINT) * CAST(s_prior AS HUGEINT)) " +
        "ORDER BY event_id"),
    // per-user running last-signup window over the composed log (fixture
    // plus the planted conversion wave), horizon-filtered at the purchases
    "q_stream_pattern" ->
      ("WITH ev AS (SELECT event_id, ts, user_id, event_type FROM events " +
        "UNION ALL SELECT CAST(event_id AS BIGINT), CAST(ts AS TIMESTAMP), " +
        "CAST(user_id AS BIGINT), event_type FROM (VALUES " +
        "(2100001, TIMESTAMP '2029-06-01 00:00:00', 424242, 'signup'), " +
        "(2100002, TIMESTAMP '2029-06-01 00:10:00', 424242, 'purchase'), " +
        "(2100003, TIMESTAMP '2029-06-01 01:00:00', 424242, 'purchase'), " +
        "(2100004, TIMESTAMP '2029-06-01 00:05:00', 434343, 'purchase')" +
        ") v(event_id, ts, user_id, event_type)), " +
        "w AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, " +
        "last_value(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sig_us FROM ev) " +
        "SELECT event_id, user_id, sig_us AS signup_us, us AS purchase_us, " +
        "us - sig_us AS wait_us FROM w " +
        "WHERE event_type = 'purchase' AND sig_us IS NOT NULL " +
        "AND us - sig_us <= 1800000000 ORDER BY event_id"))

  /** The composed-changelog CTE (events + the correction wave) — the SQL
    * mirror of [[cdcCorrectionWave]], shared by the CDC-apply and SCD2
    * oracles so the two replays cannot drift apart.
    */
  private lazy val cdcLogSqlCte: String =
    "ustats AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx " +
      "FROM events GROUP BY user_id), " +
      "log AS (SELECT event_id, ts, user_id, event_type, value FROM events " +
      "UNION ALL SELECT -100 - user_id, mn - INTERVAL 1 HOUR, user_id, " +
      "'stale', CAST(-999.0 AS DOUBLE) FROM ustats WHERE user_id % 3 = 0 " +
      "UNION ALL SELECT -200 - user_id, mx + INTERVAL 1 HOUR, user_id, " +
      "'correction', CAST(123.45 AS DOUBLE) FROM ustats WHERE user_id % 4 = 0 " +
      "UNION ALL SELECT -300 - user_id, mx + INTERVAL 2 HOUR, user_id, " +
      "'error', CAST(0.0 AS DOUBLE) FROM ustats WHERE user_id % 10 = 7)"

  private lazy val sessionOracleSql: String =
    "WITH g AS (SELECT user_id, ts, event_id, value, " +
      "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
      "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE " +
      "THEN 1 ELSE 0 END AS brk FROM events), " +
      "sids AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g) " +
      "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, " +
      s"count(*) AS n_events, ${sqlSumExact("value", 2)} AS total_value " +
      "FROM sids GROUP BY user_id, sid ORDER BY user_id, session_start"
}
