package org.apache.spark.sql

/** Whether a session's jobs carry an artifact state of their own, which
  * gives them their own class loader on the executor (the artifact manager
  * is `private[sql]`, hence this package). Spark fixes this at the
  * session's first query, or here, whichever comes first.
  */
object SessionArtifacts {
  def isolated(s: SparkSession): Boolean =
    s.asInstanceOf[classic.SparkSession].artifactManager.state != null
}
