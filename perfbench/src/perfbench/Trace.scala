package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of the harness. `parent` is 0 for a root span. */
final case class Span(id: Int, name: String, parent: Int, item: String, module: String,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000
}

/** Counters summed per layer; every field is a plain total. */
final class Counters {
  val v = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = synchronized { v(k) = v(k) + x }
}

/** Spans around the harness's calls into each module, plus counters from
  * Spark's own listeners. Spark jobs are tagged with the innermost open
  * span through a local property; listener events arrive asynchronously
  * and are attributed through that tag, so reads happen only after the
  * listener bus is drained.
  */
final class Tracer(sc: SparkContext) {
  private val Tag = "perfbench.span"
  private val nsToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + nsToEpochMs

  val spans = mutable.ArrayBuffer[Span]()
  private var next = 0
  private var current = 0
  @volatile var enabled = false

  /** Per-span counters from listeners, keyed by span id. */
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)
  /** Job intervals (epoch ms) by innermost span. */
  val jobs = new ConcurrentHashMap[Int, (Int, Double, Double)]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def span[A](name: String, item: String, module: String)(body: => A): A =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = current
      current = id
      sc.setLocalProperty(Tag, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, name, parent, item, module, t0, nowMs)
        current = parent
        sc.setLocalProperty(Tag, if (parent == 0) null else parent.toString)
      }
    }

  /** Starts counting jobs and tasks; a traced run calls it once. */
  def install(): Unit = sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).map(_.toInt).foreach { s =>
        jobs.put(e.jobId, (s, e.time.toDouble, Double.NaN))
        e.stageIds.foreach(stageSpan.put(_, s))
        counters(s).add("jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { case (s, t0, _) => jobs.put(e.jobId, (s, t0, e.time.toDouble)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = counters(s)
        c.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          c.add("task_run_s", m.executorRunTime / 1e3)
          c.add("task_cpu_s", m.executorCpuTime / 1e9)
          c.add("gc_s", m.jvmGCTime / 1e3)
          c.add("shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          c.add("spill_mb", m.diskBytesSpilled / 1e6)
        }
      }
  })

  /** Registers the per-session listeners that attribute planning time,
    * plan contents and streaming progress to the span open at call time.
    * Each item runs in its own session, so these never see another item.
    */
  def watch(s: SparkSession): Unit = if (enabled) {
    val span = current
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val c = counters(span)
        c.add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
        val nodes = Tracer.planNodes(qe.executedPlan)
        val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
        c.add("kernel_calls", exprs.count(_.prettyName.startsWith("graft_")))
        c.add("fallback_exprs", exprs.count(_.isInstanceOf[CodegenFallback]))
        // task bytesRead misses Parquet's vectored reads (it counted only
        // footers), so scans are measured by the files they read
        c.add("scan_mb", nodes.collect { case f: FileSourceScanExec =>
          f.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum / 1e6)
      }
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val c = counters(span)
        c.add("batches", 1)
        c.add("batch_s", e.progress.batchDuration / 1e3)
        e.progress.stateOperators.foreach { op =>
          c.add("state_commit_s", op.commitTimeMs / 1e3)
          c.add("state_rows", op.numRowsTotal.toDouble)
        }
      }
    })
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Self time of a span: its duration minus the union of its children. */
  def selfTimes: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq, s.startMs, s.endMs)
      s.id -> (s.durS - covered / 1000)
    }.toMap
  }

  /** Total length (ms) of the union of `iv`, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = spans.sortBy(_.id).map { s =>
      val c = Option(bySpan.get(s.id)).map(_.v.map { case (k, x) => s""","$k":$x""" }.mkString).getOrElse("")
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"item":"${s.item}","module":"${s.module}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_s":${self(s.id)}%.6f$c}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Every node of an executed plan, descending into adaptive stages,
    * command children and subqueries, but not into reused exchanges, whose
    * plan ran once where it was first used.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val below: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c } ++ p.subqueries
    }
    p +: below.flatMap(planNodes)
  }
}
