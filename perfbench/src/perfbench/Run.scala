package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one execution of an item produced. A failed item has no time. */
final case class Outcome(id: String, buildS: Double, execS: Double, error: Option[String],
    mismatch: Option[String], verified: Boolean) {
  def ok: Boolean = error.isEmpty && mismatch.isEmpty
  def totalS: Double = buildS + execS
}

/** One benchmark run of one workload; see [[Harness]] for the phases. */
final case class Run(opts: Map[String, String]) {
  private val workload = opts("workload")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val minPasses = opts.getOrElse("passes", "1").toInt
  private val data = opts("data")
  private val work = Paths.get(opts("work"))
  private val digests = Harness.readDigests(Paths.get(opts("digests")))
  private val observed = opts.get("observed").map(Paths.get(_))

  private val observedDigests = mutable.ArrayBuffer[(String, String)]()

  private def digestCheck(id: String)(df: DataFrame): Option[String] = {
    val got = Harness.digest(df)
    observedDigests += ((id, got))
    digests.get(id).filter(_ != got).map(want => s"digest $got, stored $want")
  }

  private def keyItem(id: String, build: SparkSession => DataFrame): Item =
    Item(id, if (id.startsWith("q_")) Harness.moduleOf(id) else "sources", build, digestCheck(id),
      digests.contains(id))

  /** Runs one item in a fresh session. Timed passes materialise the whole
    * result with a noop write; set-up passes compute the digest instead,
    * which reads every row and column just the same.
    */
  def run1(spark: SparkSession, tracer: Tracer, it: Item, verify: Boolean): Outcome = {
    val s = spark.newSession()
    tracer.span("item", it.id, it.module) {
      tracer.watch(s)
      try {
        val t0 = System.nanoTime()
        val df = tracer.span("build", it.id, it.module)(it.build(s))
        val t1 = System.nanoTime()
        val mismatch =
          if (verify) it.check(df)
          else { tracer.span("exec", it.id, it.module)(df.write.format("noop").mode("overwrite").save()); None }
        val o = Outcome(it.id, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None, mismatch,
          verify && it.reference)
        System.err.println(f"[perfbench] item ${it.id} ${it.module} build ${o.buildS}%.3f exec ${o.execS}%.3f s")
        o
      } catch {
        case e: Throwable =>
          Outcome(it.id, 0, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), None, false)
      }
    }
  }

  private def shuffled(items: Seq[Item], pass: Int): Seq[Item] =
    new scala.util.Random(seed * 7919L + pass).shuffle(items)

  /** One timed pass in the seeded order. An item that threw or mismatched
    * in set-up still runs, but counts as failed and gets no time.
    */
  def timedPass(spark: SparkSession, tracer: Tracer, items: Seq[Item], pass: Int,
      setupFailed: Set[String]): Seq[Outcome] =
    shuffled(items, pass).map { it =>
      val o = run1(spark, tracer, it, verify = false)
      if (o.ok && setupFailed(it.id)) o.copy(mismatch = Some("failed in set-up")) else o
    }

  def main(): Unit = {
    LiveHeap.install()
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)
    val spark = Harness.session(work)
    val tracer = new Tracer(spark.sparkContext)
    if (traced) tracer.install()
    val keys = Keys.frozen(opts("keys"), workload)
    val landing = if (workload == "landing")
      Some(new Landing(Paths.get(opts("landing")), data, work, seed, keys, tracer, keyItem)) else None
    val items: Seq[Item] = landing.map(_.items).getOrElse(
      keys.map(k => keyItem(k, graft.SparkEntry.queries(k)(_, data))))
    try {
      val baseS = (System.currentTimeMillis() - launchMs) / 1000.0

      // set-up: one untimed pass that verifies every output, against a
      // fresh tmpdir, so every staged artifact is built inside it
      val tmp = work.resolve("tmp-setup")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      val s0 = System.nanoTime()
      val firstTouch = shuffled(items, -1).map(run1(spark, tracer, _, verify = true))
      val setupPassS = (System.nanoTime() - s0) / 1e9
      val setupS = baseS + setupPassS
      System.err.println(f"[perfbench] base $baseS%.3f s, set-up pass $setupPassS%.3f s")
      val setupFailedIds = firstTouch.filterNot(_.ok).map(_.id).toSet

      // timed passes, closed loop, one client
      val passes = mutable.ArrayBuffer[(Boolean, Double, Seq[Outcome])]()
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < (if (traced) 2 * minPasses else minPasses) || (System.nanoTime() - t0) / 1e9 < seconds) {
        tracer.enabled = traced && pass % 2 == 1
        val p0 = System.nanoTime()
        val outs = {
          def go = timedPass(spark, tracer, items, pass, setupFailedIds)
          landing.filter(_ => tracer.enabled).map(_.countCalls(go)).getOrElse(go)
        }
        passes += ((tracer.enabled, (System.nanoTime() - p0) / 1e9, outs))
        tracer.enabled = false
        pass += 1
      }
      // traced runs end with a warm verifying pass, so that first-touch
      // cost compares the set-up pass with the same action run warm
      val warm = if (traced) shuffled(items, -2).map(run1(spark, tracer, _, verify = true)) else Nil
      tracer.drain()

      val timed = passes.filter(p => !traced || !p._1).flatMap(_._3)
      val okTimes = Run.timesOf(timed.toSeq)
      val mismatches = (firstTouch ++ warm).filter(_.mismatch.nonEmpty).distinctBy(_.id)
      val setupFailed = firstTouch.filter(_.error.nonEmpty)
      val metrics = mutable.LinkedHashMap[String, (Double, String)]()
      val untracedPass = Harness.median(passes.filter(!_._1).map(_._2).toSeq)
      if (!traced) {
        metrics("setup_s") = (setupS, "s")
        metrics("pass_s") = (untracedPass, "s")
        metrics("item_p50_s") = (Harness.quantile(okTimes.toSeq, 0.5), "s")
        metrics("item_p90_s") = (Harness.quantile(okTimes.toSeq, 0.9), "s")
        metrics("peak_live_heap_mb") = (LiveHeap.peakBytes / 1e6, "MB")
      } else {
        val tracedPasses = passes.filter(_._1)
        metrics ++= layerMetrics(tracer, tracedPasses.size, landing)
        val warmS = warm.filter(_.ok).map(o => o.id -> o.totalS).toMap
        metrics("Fixtures.staged_dirs") = (stagedDirs(tmp).toDouble, "count")
        metrics("Fixtures.staged_mb") = (Harness.dirBytes(tmp) / 1e6, "MB")
        metrics("Fixtures.first_touch_s") = (firstTouch.filter(_.ok).flatMap(o =>
          warmS.get(o.id).map(o.totalS - _)).sum, "s")
        metrics("trace_overhead") =
          (Harness.median(tracedPasses.map(_._2).toSeq) / untracedPass, "ratio")
        tracer.writeJsonl(work.resolve(s"trace-$workload-$seed.jsonl"))
        // self time per span layer (item, build, exec, DAG stages), per pass
        val self = tracer.selfTimes
        tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
          println(f"self_s $name ${ss.map(s => self(s.id)).sum / tracedPasses.size}%.4f s")
        }
      }
      observed.foreach { p =>
        Files.write(p, observedDigests.map { case (id, d) => s"$id\t$d" }
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      }

      val verified = firstTouch.count(_.verified)
      println(s"items ${items.size} verified_in_setup $verified passes ${passes.size} " +
        s"timed_items ${timed.size} ok_items ${okTimes.size}")
      setupFailed.foreach(o => println(s"failed_item ${o.id} ${o.error.get.takeWhile(_ != '\n')}"))
      mismatches.foreach(o => println(s"mismatch ${o.id} ${o.mismatch.get}"))
      if (timed.nonEmpty)
        println(f"failed_ratio ${timed.count(!_.ok).toDouble / timed.size}%.6f ratio " +
          s"(${timed.count(!_.ok)} of ${timed.size} timed items)")
      metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
      val json = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
      val correct = mismatches.isEmpty && okTimes.nonEmpty
      println(s"""RESULT {"correct":$correct,"attempted":${timed.size},"failed":${timed.count(!_.ok)},"metrics":{$json}}""")
    } finally {
      landing.foreach(_.stub.stop())
      spark.stop()
    }
  }

  private def stagedDirs(tmp: Path): Long = {
    val st = Files.walk(tmp)
    try st.filter(_.getFileName.toString == "_COMPLETE").count() finally st.close()
  }

  /** Per-module counters per traced pass, from spans and listeners. */
  private def layerMetrics(tracer: Tracer, nPasses: Int,
      landing: Option[Landing]): Seq[(String, (Double, String))] = {
    val n = math.max(1, nPasses).toDouble
    val byId = tracer.spans.map(s => s.id -> s).toMap
    def itemOf(id: Int): Option[Span] =
      byId.get(id).flatMap(s => if (s.name == "item") Some(s) else itemOf(s.parent))
    val acc = Harness.Modules.map(_ -> new Counters).toMap
    tracer.spans.foreach { s =>
      if (s.name == "build") acc(s.module).add("build_s", s.durS)
      if (s.name == "exec") acc(s.module).add("exec_s", s.durS)
    }
    tracer.bySpan.forEach { (id, c) =>
      itemOf(id).foreach(it => c.v.foreach { case (k, x) => acc(it.module).add(k, x) })
    }
    // driver gap: item span time not covered by any of its jobs
    val jobsByItem = mutable.Map[Int, mutable.Buffer[(Double, Double)]]()
    tracer.jobs.values.forEach { case (s, a, b) =>
      itemOf(s).foreach(it => jobsByItem.getOrElseUpdate(it.id, mutable.Buffer()) += ((a, if (b.isNaN) a else b)))
    }
    tracer.spans.filter(_.name == "item").foreach { it =>
      val covered = tracer.union(jobsByItem.getOrElse(it.id, Nil).toSeq, it.startMs, it.endMs)
      acc(it.module).add("driver_gap_s", it.durS - covered / 1000)
    }
    val perModule = Seq("build_s" -> "s", "exec_s" -> "s", "plan_s" -> "s", "driver_gap_s" -> "s",
      "jobs" -> "count", "tasks" -> "count", "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
      "scan_mb" -> "MB", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "kernel_calls" -> "count",
      "fallback_exprs" -> "count")
    val streams = Seq("batches" -> "count", "batch_s" -> "s", "state_commit_s" -> "s", "state_rows" -> "count")
    val out = Harness.Modules.flatMap(m => perModule.map { case (k, u) => (s"$m.$k", (acc(m).v(k) / n, u)) }) ++
      streams.map { case (k, u) => (s"Streams.$k", (acc("Streams").v(k) / n, u)) }
    val st = landing.map(_.stages.v).getOrElse(mutable.Map[String, Double]().withDefaultValue(0.0))
    val sources = Seq("rest_s", "sensor_s", "transfer_s", "ingest_s", "backfill_s").map(k => (s"sources.$k", (st(k) / n, "s"))) ++
      Seq("rest_calls" -> "count", "retries" -> "count", "bytes_in_mb" -> "MB", "bytes_written_mb" -> "MB")
        .map { case (k, u) => (s"sources.$k", (st(k) / n, u)) } ++
      Seq("sources.write_amp" -> (if (st("bytes_in_mb") > 0) st("bytes_written_mb") / st("bytes_in_mb") else 0.0),
        "sources.valid_row_ratio" -> (if (st("rows") > 0) st("valid_rows") / st("rows") else 0.0))
        .map { case (k, v) => (k, (v, "ratio")) }
    out ++ sources
  }
}

object Run {
  /** Latencies of the outcomes that count: failed items have no time. */
  def timesOf(outs: Seq[Outcome]): Seq[Double] = outs.filter(_.ok).map(_.totalS)
}
