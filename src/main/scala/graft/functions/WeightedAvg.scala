package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF showcase (SURVEY.md §2.3 E13): exact weighted average of a
  * money column (2-decimal doubles) weighted by an integral-double weight.
  *
  * The buffer holds integer cents so partial aggregates merge exactly in
  * any order — the property that makes the aggregate safe under Spark's
  * partial/final two-phase execution at any partition count (the same
  * trick as graft.ops.Det but as a reusable Aggregator).
  */
object WeightedAvg {

  case class In(price: Double, weight: Double)
  case class Buf(sumCentsW: Long, sumW: Long)

  val aggregator: Aggregator[In, Buf, Double] =
    new Aggregator[In, Buf, Double] {
      override def zero: Buf = Buf(0L, 0L)
      override def reduce(b: Buf, in: In): Buf = {
        val cents = math.round(in.price * 100) // exact: 2-decimal money
        val w = math.round(in.weight)          // exact: integral weight
        Buf(b.sumCentsW + cents * w, b.sumW + w)
      }
      override def merge(a: Buf, b: Buf): Buf =
        Buf(a.sumCentsW + b.sumCentsW, a.sumW + b.sumW)
      override def finish(b: Buf): Double =
        if (b.sumW == 0) 0.0
        else {
          val exact = b.sumCentsW.toDouble / 100.0 / b.sumW
          math.rint(exact * 1e6) / 1e6 // round 6, half-even like ROUND
        }
      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
}
