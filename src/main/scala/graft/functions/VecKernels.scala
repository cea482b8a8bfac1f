package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Codegen-fast kernels for the vector tier's fixed-point arithmetic.
  *
  * The IVF/PQ/graph serving paths score candidates with HOF
  * expression shapes — `aggregate(zip_with(a, b, (x, y) -> x*y), 0, +)`
  * for the exact integer dot, and per-subspace
  * `array_max(transform(filter(cbs, ...), struct(dot, -cid)))` chains
  * for PQ encode/ADC — which evaluate interpreted with one boxed Long
  * per element and a fresh zipped/filtered array per row and subspace.
  * These expressions compute the identical arithmetic in one tight
  * loop per row (the ArrayDot discipline: interpreted eval calls the
  * SAME static kernel as the generated code).
  *
  * Exactness notes:
  *  - `int_dot` mirrors aggregate(zip_with(...)): NULL when lengths
  *    differ (zip_with pads the shorter side with null, nulling the
  *    whole fold) or when an element is null; 64-bit wrap semantics
  *    are Java's, identical to the HOF fold.
  *  - `double_dot` mirrors the float×double fold: ascending-index
  *    summation in IEEE double, same null semantics.
  *  - `pq_encode` mirrors the per-subspace
  *    `-array_max(transform(filter(cbs, c -> c.sub = m),
  *       c -> struct(int_dot(slice(sv, m·SUB+1, SUB), c.cs) AS d,
  *                   -c.cid AS nc))).nc`
  *    argmax: max d, ties to the SMALLEST cid; a subspace with no
  *    codebook entry yields a null code (array_max over empty).
  *  - `adc_codes` mirrors the ADC sum over stored codes: per
  *    subspace, the cs of the unique (sub, cid) struct dotted with
  *    the query slice; a missing struct or null code nulls the sum
  *    (element_at(filter(...), 1) semantics).
  */
object VecKernels {

  /** long-array dot with zip_with/aggregate null semantics. */
  def intDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  private def getD(a: ArrayData, i: Int, t: Int): Double = t match {
    case 0 => a.getFloat(i).toDouble
    case 1 => a.getDouble(i)
    case _ => a.getLong(i).toDouble
  }

  /** double dot (ascending IEEE fold) with the same null semantics;
    * ta/tb: 0=float, 1=double, 2=long element type.
    */
  def doubleDot(a: ArrayData, ta: Int, b: ArrayData, tb: Int)
      : java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += getD(a, i, ta) * getD(b, i, tb)
      i += 1
    }
    acc
  }

  /** Subspace dot of sv[off..off+sub) with cs with slice semantics:
    * slice(sv, off+1, sub) may be SHORTER than sub near the end, and a
    * length mismatch with cs nulls the dot. Returns boxed null then.
    */
  private def subDot(sv: ArrayData, off: Int, sub: Int, cs: ArrayData)
      : java.lang.Long = {
    val avail = math.max(math.min(sv.numElements() - off, sub), 0)
    if (cs.numElements() != avail) return null
    var acc = 0L
    var i = 0
    while (i < avail) {
      if (sv.isNullAt(off + i) || cs.isNullAt(i)) return null
      acc += sv.getLong(off + i) * cs.getLong(i)
      i += 1
    }
    acc
  }

  /** PQ codes for all M subspaces in one pass over cbs. */
  def pqEncode(sv: ArrayData, cbs: ArrayData, m: Int, sub: Int)
      : ArrayData = {
    val out = new Array[Any](m)
    val bestD = new Array[Long](m)
    val bestCid = new Array[Long](m)
    val hasBest = new Array[Boolean](m)
    val nullD = new Array[Boolean](m) // a null-d struct seen for sub j
    val nullCid = new Array[Long](m) // min cid among null-d structs
    val n = cbs.numElements()
    var i = 0
    while (i < n) {
      val row = cbs.getStruct(i, 3)
      val j = row.getInt(0)
      if (j >= 0 && j < m) {
        val cid = row.getLong(1)
        val d = subDot(sv, j * sub, sub, row.getArray(2))
        if (d == null) {
          if (!nullD(j) || cid < nullCid(j)) { nullD(j) = true; nullCid(j) = cid }
        } else if (!hasBest(j) || d > bestD(j) ||
            (d == bestD(j) && cid < bestCid(j))) {
          hasBest(j) = true
          bestD(j) = d
          bestCid(j) = cid
        }
      }
      i += 1
    }
    var j = 0
    while (j < m) {
      // struct ordering puts null d FIRST, so any non-null d wins the
      // array_max; when EVERY entry's d is null the HOF falls through
      // the equal null d fields to max(-cid) = the smallest cid — the
      // kernel matches that; an empty subspace leaves a null code
      out(j) = if (hasBest(j)) java.lang.Long.valueOf(bestCid(j))
        else if (nullD(j)) java.lang.Long.valueOf(nullCid(j))
        else null
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC sum over stored codes against the query slices. */
  def adcCodes(qs: ArrayData, cbs: ArrayData, codes: ArrayData, sub: Int)
      : java.lang.Long = {
    val m = codes.numElements()
    var total = 0L
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val cj = codes.getLong(j)
      var found: ArrayData = null
      val n = cbs.numElements()
      var i = 0
      while (i < n && found == null) {
        val row = cbs.getStruct(i, 3)
        if (row.getInt(0) == j && row.getLong(1) == cj)
          found = row.getArray(2)
        i += 1
      }
      if (found == null) return null
      val d = subDot(qs, j * sub, sub, found)
      if (d == null) return null
      total += d
      j += 1
    }
    total
  }
}

/** `int_dot(a, b)`: exact integer dot over BIGINT arrays. */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot expects bigint arrays, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.intDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("v")
      s"""
         |java.lang.Long $v = graft.functions.VecKernels.intDot($a, $b);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

/** `double_dot(a, b)`: IEEE ascending-fold dot over numeric arrays. */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression {
  private def tOf(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _)  => 0
    case ArrayType(DoubleType, _) => 1
    case _                        => 2
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType | LongType, _) => true
      case _                                               => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_dot expects float/double/bigint arrays, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "double_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.doubleDot(a.asInstanceOf[ArrayData], tOf(left),
      b.asInstanceOf[ArrayData], tOf(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("v")
      s"""
         |java.lang.Double $v = graft.functions.VecKernels.doubleDot(
         |  $a, ${tOf(left)}, $b, ${tOf(right)});
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v.doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleDot =
    copy(left = newLeft, right = newRight)
}

/** `pq_encode(sv, cbs)`: all M PQ codes in one cbs pass. */
case class PqEncodeExpr(left: Expression, right: Expression, m: Int, sub: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(_: StructType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects (array<bigint>, array<struct>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.pqEncode(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], m, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.pqEncode($a, $b, $m, $sub)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeExpr =
    copy(left = newLeft, right = newRight)
}

/** `adc_codes(qs, cbs, codes)`: ADC sum over stored codes. */
case class AdcCodes(first: Expression, second: Expression,
    third: Expression, sub: Int) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(_: StructType, _),
          ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"adc_codes expects (array<bigint>, array<struct>, " +
          s"array<bigint>), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString})")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_codes"
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VecKernels.adcCodes(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val v = ctx.freshName("v")
      s"""
         |java.lang.Long $v = graft.functions.VecKernels.adcCodes(
         |  $a, $b, $c, $sub);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AdcCodes =
    copy(first = newFirst, second = newSecond, third = newThird)
}
