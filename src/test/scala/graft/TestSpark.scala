package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5: one session per
  * suite via lazy val; getOrCreate makes it one per JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("graft-test", 4)

  val sf: String = "/root/testdata/sf0.001"
}
