package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: Jaccard similarity of two string-token
  * arrays in one hash-set pass —
  * `|distinct(a) ∩ distinct(b)| / |distinct(a) ∪ distinct(b)|`,
  * semantically identical to
  * `size(array_intersect(a,b)) / size(array_distinct(concat(a,b)))`
  * (cf. q46's oracle) but without materializing the three intermediate
  * arrays per comparison. On the blocked all-pairs joins of the dedup
  * family (q46, q114) this expression is evaluated once per CANDIDATE
  * pair — far more often than it survives the threshold — so the
  * allocation-free inner loop is the hot path. Returns 0.0 when the
  * union is empty (the composed form yields null; callers filter
  * `>= threshold`, so both behave identically downstream — and the gate
  * arrays are never empty).
  */
case class TokenJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_jaccard expects string arrays, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "token_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val setA = new java.util.HashSet[Any]()
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) setA.add(x.getUTF8String(i)); i += 1
    }
    val setB = new java.util.HashSet[Any]()
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      if (!y.isNullAt(i)) {
        val t = y.getUTF8String(i)
        if (setB.add(t) && setA.contains(t)) inter += 1
      }
      i += 1
    }
    val union = setA.size() + setB.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val setA = ctx.freshName("setA")
      val setB = ctx.freshName("setB")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      s"""
         |java.util.HashSet<Object> $setA = new java.util.HashSet<Object>();
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  if (!$x.isNullAt($i)) $setA.add($x.getUTF8String($i));
         |}
         |java.util.HashSet<Object> $setB = new java.util.HashSet<Object>();
         |int $inter = 0;
         |for (int $j = 0; $j < $y.numElements(); $j++) {
         |  if (!$y.isNullAt($j)) {
         |    Object $t = $y.getUTF8String($j);
         |    if ($setB.add($t) && $setA.contains($t)) $inter++;
         |  }
         |}
         |int $union = $setA.size() + $setB.size() - $inter;
         |${ev.value} = ($union == 0) ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenJaccard =
    copy(left = newLeft, right = newRight)
}
