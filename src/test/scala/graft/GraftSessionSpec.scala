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

  // a registered key the test session sets explicitly, and one it never
  // sets (reads its default) — both runtime-modifiable
  private val Preset = GraftSession.ShufflePartitions
  private val Unset = GraftSession.PartitionOverwriteMode

  /** `k`'s value if it is set on `f`, `None` if it reads its default. */
  private def state(f: SparkSession, k: String): Option[String] = f.conf.getAll.get(k)

  test("withConfs restores a preset key and unsets a key that was not set") {
    val f = s.newSession()
    val before = (state(f, Preset), state(f, Unset))
    assert(before._1.isDefined && before._2.isEmpty, s"fixture keys: $before")
    val seen = GraftSession.withConfs(f, Preset -> "7", Unset -> "dynamic") {
      (f.conf.get(Preset), f.conf.get(Unset))
    }
    assert(seen === (("7", "dynamic")))
    assert((state(f, Preset), state(f, Unset)) === before)
  }

  test("withConfs restores both keys when the body throws") {
    val f = s.newSession()
    val before = (state(f, Preset), state(f, Unset))
    val e = intercept[IllegalStateException] {
      GraftSession.withConfs(f, Preset -> "7", Unset -> "dynamic") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert((state(f, Preset), state(f, Unset)) === before)
  }

  test("nested withConfs calls restore innermost first") {
    val f = s.newSession()
    val before = (state(f, Preset), state(f, Unset))
    GraftSession.withConfs(f, Preset -> "7", Unset -> "dynamic") {
      GraftSession.withConfs(f, Preset -> "9", Unset -> "static") {
        assert((f.conf.get(Preset), f.conf.get(Unset)) === (("9", "static")))
      }
      assert((state(f, Preset), state(f, Unset)) === ((Some("7"), Some("dynamic"))))
    }
    assert((state(f, Preset), state(f, Unset)) === before)
  }

  test("an iteration's sizing count that throws leaves the session untouched") {
    val f = s.newSession()
    val keys = Seq(GraftSession.AdaptiveEnabled, GraftSession.ShufflePartitions)
    val before = keys.map(state(f, _))
    def edgeCount: Long = throw new IllegalStateException("staged build failed")
    intercept[IllegalStateException] {
      operators.Analytics.withIterationConfs(f, edgeCount) {
        fail("the body ran although its sizing count failed")
      }
    }
    assert(keys.map(state(f, _)) === before)
  }
}
