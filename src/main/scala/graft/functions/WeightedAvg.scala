package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregate (`q_agg_custom_typed`, SURVEY.md §2B): weighted
  * average of a value column with explicit weights, as an
  * `Aggregator[IN, BUF, OUT]` exposed through `functions.udaf` so it
  * participates in hash aggregation with map-side partial aggregation like
  * any built-in.
  *
  * Determinism at scale: the value is scaled to integer cents in `reduce`
  * (exact for |v*100| < 2^53), so partial sums are exact integers and the
  * result is independent of partitioning / merge order — required for the
  * DuckDB oracle hash-match, and a practice worth copying for any monetary
  * aggregate on a 1000-executor cluster.
  *
  * PRECONDITION — integer-valued weights: the order-independence argument
  * needs `cents * weight` to stay an exact integer, which holds only when
  * the weight itself is integral (the q_agg_custom_typed caller passes
  * l_quantity, which is). A fractional weight (0.1, say) makes the partial
  * sum an ordinary floating sum whose value depends on merge order —
  * round or rescale such weights to integers before reusing this
  * aggregator.
  */
case class WeightedAvgBuf(var weightedCents: Double, var weightSum: Double)

object WeightedAvg extends Aggregator[(Double, Double), WeightedAvgBuf, Double] {
  type Buf = WeightedAvgBuf

  override def zero: Buf = WeightedAvgBuf(0.0, 0.0)

  override def reduce(b: Buf, in: (Double, Double)): Buf = {
    val (value, weight) = in
    b.weightedCents += Round0Expr.round0(value * 100) * weight
    b.weightSum += weight
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    a.weightedCents += b.weightedCents
    a.weightSum += b.weightSum
    a
  }

  override def finish(b: Buf): Double =
    if (b.weightSum == 0.0) Double.NaN else b.weightedCents / 100 / b.weightSum

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** DuckDB-equivalent SQL (same scaling, same division order). */
  def sql(value: String, weight: String): String =
    s"sum(round(($value) * 100, 0) * ($weight)) / 100 / sum($weight)"
}
