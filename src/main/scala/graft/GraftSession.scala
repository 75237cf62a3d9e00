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

  /** Session confs the engine pins for one block through [[withConfs]]. */
  val AdaptiveEnabled = "spark.sql.adaptive.enabled"
  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val PartitionOverwriteMode = "spark.sql.sources.partitionOverwriteMode"

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
      .config(ShufflePartitions, cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(AdaptiveEnabled, "true")
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

  /** Runs `body` with every `(key, value)` of `pins` set on `s`, then
    * restores each key as it was before the call, also when `body` throws:
    * a key set on the session gets its value back, a key that was not set
    * (it read its default) is unset again. This is the engine's one way to
    * change a session conf for the length of a block; nested calls restore
    * innermost first.
    *
    * The pins are evaluated before anything is set, so a sizing argument
    * that throws leaves the session untouched. For sequential use within
    * one session: a session conf is shared state, so a query planned on
    * another thread of the same session while `body` runs sees the pins
    * too. A lazy frame returned past the call is physically planned at its
    * action, under the confs the session holds then.
    */
  def withConfs[T](s: SparkSession, pins: (String, String)*)(body: => T): T = {
    val current = s.conf.getAll
    val was = pins.map { case (k, _) => k -> current.get(k) }
    try {
      pins.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally was.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
