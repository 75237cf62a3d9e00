package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.execution.LogicalRDD

/** The iterative operators' fixpoint loop, and the release of the lineage
  * cuts (eager local checkpoints) their rounds leave behind. */
object Loop {

  /** Frees the blocks of `df`, whose plan root must be a local checkpoint.
    * `Dataset.unpersist` frees nothing on one: the blocks belong to the RDD
    * under the plan's `LogicalRDD`, which this unpersists. Any other frame,
    * a projection of a checkpoint included, is rejected, not silently kept.
    * A later read of `df` fails on a missing checkpoint block.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => GraftSqlShim.unpersistRDD(r.rdd)
    case p => throw new IllegalArgumentException(
      s"release takes a local checkpoint, not a ${p.nodeName} plan")
  }

  /** Runs `step` from `start` until `converged` says stop, and returns the
    * last state with its signature. Each round cuts the new state's
    * lineage eagerly, so its plan stays constant-size (a cached-only loop
    * nests every prior round's plan in the next, and stopped planning
    * after ~25 rounds), hands (old state, old signature, new state) to
    * `converged`, and releases the old state. `start` must be a local
    * checkpoint the caller hands over, with its signature `sig`, so a
    * known start costs no job. Needing more than `maxRounds` rounds fails,
    * naming the loop.
    */
  def fixpoint[S](name: String, maxRounds: Long, start: DataFrame, sig: S)(
      step: (DataFrame, S) => DataFrame)(
      converged: (DataFrame, S, DataFrame) => (S, Boolean)): (DataFrame, S) = {
    @tailrec def round(k: Long, state: DataFrame, sig: S): (DataFrame, S) = {
      require(k <= maxRounds, s"$name did not converge in $maxRounds rounds")
      val next = step(state, sig).localCheckpoint(true)
      val (nextSig, done) = converged(state, sig, next)
      release(state)
      if (done) (next, nextSig) else round(k + 1, next, nextSig)
    }
    round(1, start, sig)
  }
}
