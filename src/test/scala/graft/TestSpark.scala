package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for all suites (SURVEY.md §5: one session per
  * suite via lazy val; getOrCreate makes it one per JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("graft-test", 4)

  val sf: String = "/root/testdata/sf0.001"

  /** What a block ran: its jobs, the stages those jobs executed (skipped
    * stages excluded), the executed plan of every query it ran on `s`, the
    * generated classes Janino compiled meanwhile with their compile time
    * (JVM-wide counters, so they also count other threads), and each job's
    * long call site (the stack that started it). */
  final case class Ran(jobs: Int, stages: Int, plans: Seq[String], compiles: Long,
      compileMs: Double, callSites: Seq[String])

  /** Runs `body` on session `s` and reports what it ran, read after the
    * listener bus has delivered every event. Jobs are matched by a local
    * property of the calling thread, so other threads' jobs never count. */
  def ran(s: SparkSession)(body: => Unit): Ran = {
    val sc = s.sparkContext
    val key = "graft.test.ran"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val callSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) {
          jobs.incrementAndGet()
          e.stageInfos.headOption.foreach(st => callSites.add(st.details))
          e.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
    sc.setLocalProperty(key, tag)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.setLocalProperty(key, null)
      s.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    import scala.jdk.CollectionConverters._
    Ran(jobs.get, stages.get, plans.asScala.toSeq, compiles, compileMs, callSites.asScala.toSeq)
  }
}
