package graft

import org.apache.spark.sql.{DataFrame, SessionArtifacts, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every session the engine runs in shares one executor class loader, so
  * a fresh session reuses the classes an earlier one generated. A fresh
  * session here starts with artifact isolation on, as a default Spark 4
  * session does; the engine's entry points must turn it off.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  private def isolatedSession(): SparkSession = {
    val f = s.newSession()
    f.conf.set(Isolation, "true")
    f
  }

  /** Compiles of `q` run in each of two fresh isolated sessions. */
  private def compilesInFreshSessions(q: (SparkSession, String) => DataFrame): Seq[Long] = {
    val runs = Seq.fill(2) {
      val f = isolatedSession()
      TestSpark.ran(f)(q(f, TestSpark.sf).collect())
    }
    info(runs.map(r => f"${r.compiles} compiles, ${r.compileMs}%.0f ms").mkString(" then "))
    runs.map(_.compiles)
  }

  test("a newSession() of a GraftSession.build session shares the class loader with no adopt") {
    val f = s.newSession()
    assert(f.conf.get(Isolation) === "false")
    f.range(3).collect()
    assert(!SessionArtifacts.isolated(f))
  }

  test("fresh sessions share generated classes through SparkEntry.queries") {
    val viaEntry = compilesInFreshSessions(SparkEntry.queries("q_graph_bfs"))
    assert(viaEntry(1) === 0L,
      s"second fresh session recompiled generated classes: $viaEntry")
    // control: the operator called directly keeps each session isolated,
    // so every fresh session compiles its classes again
    val direct = compilesInFreshSessions(operators.Analytics.queries("q_graph_bfs"))
    assert(direct.forall(_ > 0), s"isolated sessions compiled nothing: $direct")
  }
}
