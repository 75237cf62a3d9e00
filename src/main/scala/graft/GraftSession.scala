package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one Spark session configuration of the engine. Bench, Verify, Plans,
  * `PipelineMain` and the test suites all build their session here, so a
  * plan dump, a timing and an oracle comparison describe the same planner.
  *
  * Every session the engine runs in shares one executor class loader.
  * Spark 4 gives each classic session its own artifact state unless
  * `spark.sql.artifact.isolation.enabled` is false, and the executor then
  * builds that session its own class loader. Janino-generated classes are
  * cached per (class loader, code), so every fresh session would recompile
  * every generated class its tasks load. Isolation only guards artifacts
  * registered on one session (`addArtifact`, session-scoped jars and
  * files); the engine registers none, so it is switched off: by [[build]]
  * for every session of a context it builds, and by [[adopt]] for a
  * session the engine is handed.
  */
object GraftSession {

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Cores of a local run: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` unless a master is already configured (spark-submit or
    * `-Dspark.master`), which is a deployment choice and wins. Shuffles use
    * `cores` partitions; AQE with skew-join splitting stays pinned on, as
    * docs/SCALING.md prescribes for the large-volume posture. Artifact
    * isolation is off in the builder's conf, so every `newSession()` of
    * the result inherits the shared class loader without an [[adopt]].
    */
  def build(appName: String, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(ArtifactIsolation, "false")
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cores]")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Opts `s` out of per-session artifact isolation and returns it. Every
    * public entry point that takes a session calls this first.
    *
    * Spark reads the key once, at the session's first SQL execution, and
    * fixes the session's class loader then. On a fresh session this takes
    * effect; on a session that has already run a query it changes nothing
    * the session does. The key is left set, not restored after the call:
    * once the session has run, a restored value would misreport which
    * class loader it uses. Safe because the engine never adds an artifact
    * to a session, so a private loader would hold nothing the shared one
    * lacks.
    */
  def adopt(s: SparkSession): SparkSession = {
    s.conf.set(ArtifactIsolation, "false")
    s
  }
}
