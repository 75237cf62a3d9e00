package graft

import org.apache.spark.sql.SparkSession

/** One value per live Spark session, made by `init` on first use. Keys are
  * weak, and every access also drops the sessions whose context has
  * stopped: cached values (DataFrames, a staged sentinel) reference their
  * session, so a weak key alone would never clear and a stopped session
  * would stay pinned for the JVM's life. Sessions made by
  * `newSession()` are distinct keys.
  */
private[graft] final class PerSession[V <: AnyRef](init: SparkSession => V) {
  private val values = new java.util.WeakHashMap[SparkSession, V]()

  def apply(s: SparkSession): V = values.synchronized {
    values.keySet.removeIf(_.sparkContext.isStopped)
    var v = values.get(s)
    if (v == null) {
      v = init(s)
      values.put(s, v)
    }
    v
  }

  /** Removes `s`'s value and returns it, if it had one. */
  def remove(s: SparkSession): Option[V] = values.synchronized(Option(values.remove(s)))
}
