package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable HyperLogLog sketch as a TypedImperativeAggregate (SURVEY.md
  * §4.3 stretch: a persistable/mergeable distinct-count sketch, the shape
  * `approx_count_distinct` uses internally but with an explicit buffer the
  * caller could store and re-merge across days of a 100 TB pipeline).
  *
  * p=12 → 4096 byte registers (4 KB buffer); standard bias-corrected
  * estimator with linear-counting small-range correction. Input values are
  * hashed with SplitMix64 — deterministic, seed-free, so partial sketches
  * built on different executors/days merge consistently.
  */
object Hll {
  val P = 12
  val M: Int = 1 << P

  def hash64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hashBytes(b: Array[Byte]): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < b.length) { h = hash64(h ^ b(i)); i += 1 }
    h
  }

  def add(reg: Array[Byte], h: Long): Unit = {
    val idx = (h >>> (64 - P)).toInt
    val w = h << P
    val rank = (if (w == 0) 64 - P else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > reg(idx)) reg(idx) = rank.toByte
  }

  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
  }

  def estimate(reg: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += 1.0 / (1L << reg(i))
      if (reg(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * M * M / sum
    val corrected =
      if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
      else raw
    math.round(corrected)
  }
}

case class HllAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hll"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v match {
        case l: Long        => Hll.hash64(l)
        case i: Int         => Hll.hash64(i.toLong)
        case s: UTF8String  => Hll.hashBytes(s.getBytes)
        case d: Double      => Hll.hash64(java.lang.Double.doubleToLongBits(d))
        case other          => Hll.hashBytes(other.toString.getBytes("UTF-8"))
      }
      Hll.add(buf, h)
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    Hll.merge(a, b); a
  }

  override def eval(buf: Array[Byte]): Any = Hll.estimate(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllAgg =
    copy(child = newChildren.head)
}
