package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: Jaccard similarity of two SORTED
  * distinct string-token arrays by merge-intersection — the same value
  * as [[TokenJaccard]] on the same token sets, at a fraction of the
  * per-pair cost.
  *
  * [[TokenJaccard]] builds two hash sets per evaluation: every token of
  * both arrays is hashed and boxed once per PAIR. On a blocked
  * candidate join each document participates in thousands of pairs
  * (q238's dup-heavy sf1 corpus: 75M banded pairs over 50k documents),
  * so the same tokens re-hash millions of times. Sorting each
  * document's distinct tokens ONCE upstream (array_sort is per-doc,
  * not per-pair) turns the per-pair kernel into a zero-allocation
  * two-pointer merge over binary-comparable UTF8Strings.
  *
  * Inputs MUST be sorted and duplicate-free (array_sort ∘
  * array_distinct); the union size is then |a| + |b| − |a ∩ b| without
  * any set bookkeeping. Null elements are not expected from the
  * split-produced arrays this serves (a null element would violate the
  * sorted-distinct contract upstream, not here). Returns 0.0 when both
  * arrays are empty, matching [[TokenJaccard]].
  */
case class TokenJaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_jaccard_sorted expects string arrays, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "token_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val c = ctx.freshName("c")
      val union = ctx.freshName("union")
      s"""
         |int $n = $x.numElements();
         |int $m = $y.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $n && $j < $m) {
         |  int $c = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |int $union = $n + $m - $inter;
         |${ev.value} = ($union == 0) ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenJaccardSorted =
    copy(left = newLeft, right = newRight)
}
