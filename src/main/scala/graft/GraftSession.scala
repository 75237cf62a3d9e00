package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one Spark session configuration of the engine. Bench, Verify, Plans,
  * `PipelineMain` and the test suites all build their session here, so a
  * plan dump, a timing and an oracle comparison describe the same planner.
  */
object GraftSession {

  /** Cores of a local run: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` unless a master is already configured (spark-submit or
    * `-Dspark.master`), which is a deployment choice and wins. Shuffles use
    * `cores` partitions; AQE with skew-join splitting stays pinned on, as
    * docs/SCALING.md prescribes for the large-volume posture.
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
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cores]")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
