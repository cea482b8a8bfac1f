package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-fast kernels for the repo's polynomial text hashes.
  *
  * Every dedup/similarity/governance gate derives token and gram
  * signatures from three HOF expression shapes (rolling-131 char fold
  * per token, rolling-131 fold of a W-token window, per-function
  * MinHash min) — see Dedup.sparkTokenHashes,
  * Round11Ops.sparkPosTokenHashes and Round12Ops.sparkPosGrams.
  * Spark's higher-order functions do not participate in whole-stage
  * codegen and evaluate the lambda per ELEMENT with boxed Longs and a
  * fresh intermediate array per step (`split(t, '')` alone allocates
  * one single-char String per character; `slice(th, i+1, w)` one
  * array per gram position). These expressions compute the identical
  * integer polynomials in one tight pass per row — same math, same
  * nulls, no per-element dispatch — and they participate in
  * whole-stage codegen via a single static call per row (the
  * ArrayDot discipline; interpreted eval calls the SAME static
  * method, so the two paths cannot diverge).
  *
  * Exactness notes (oracle parity is bit-for-bit, so these are load
  * bearing):
  *  - `split(text, ' ')` splits on every single space with Java
  *    limit -1 semantics: leading/consecutive/trailing spaces yield
  *    empty tokens, which fold to the bare seed (7).
  *  - `ascii(c)` over the single-"character" strings produced by
  *    `split(t, '')` is the Unicode CODE POINT of the element (regex
  *    zero-width splits do not break surrogate pairs), so the kernels
  *    iterate code points, not UTF-16 units.
  *  - All folds are exact in 64-bit: operands stay < 2^31, so
  *    a·mult + b < 2^63 with room to spare.
  *  - The W-gram kernel uses the modular-inverse-free rolling update
  *    g' = ((g − t·131^(W−1)) · 131 + t_new) mod M, algebraically
  *    identical to re-folding the window (M = 1e9+7 is prime but no
  *    inverse is needed in this direction).
  */
object TextHashKernels {
  val M: Long = 1000000007L

  /** (seed ·mult + cp)·… fold over the code points of `s`, mod M. */
  def charFold(s: UTF8String, seed: Long, mult: Long): Long = {
    val str = s.toString
    var h = seed
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % M
      i += Character.charCount(cp)
    }
    h
  }

  private def hashToken(str: String, from: Int, until: Int): Long = {
    var h = 7L
    var i = from
    while (i < until) {
      val cp = str.codePointAt(i)
      h = (h * 131L + cp) % M
      i += Character.charCount(cp)
    }
    h
  }

  /** Positional per-token hashes of a space-separated string —
    * `transform(split(text, ' '), t -> fold)`.
    */
  def tokenHashesPos(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var ntok = 1
    var k = 0
    while (k < n) { if (str.charAt(k) == ' ') ntok += 1; k += 1 }
    val out = new Array[Long](ntok)
    var ti = 0
    var start = 0
    k = 0
    while (k <= n) {
      if (k == n || str.charAt(k) == ' ') {
        out(ti) = hashToken(str, start, k)
        ti += 1
        start = k + 1
      }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** First-occurrence-ordered distinct-token hashes —
    * `transform(array_distinct(split(text, ' ')), t -> fold)`.
    * Distinctness is by token STRING (array_distinct semantics), not
    * by hash, so a hash collision between different tokens keeps both.
    */
  def tokenHashesDistinct(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val seen = new java.util.HashSet[String]()
    val out = new java.util.ArrayList[java.lang.Long]()
    var start = 0
    var k = 0
    while (k <= n) {
      if (k == n || str.charAt(k) == ' ') {
        val tok = str.substring(start, k)
        if (seen.add(tok)) out.add(hashToken(str, start, k))
        start = k + 1
      }
      k += 1
    }
    val arr = new Array[Long](out.size)
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  /** Positional W-gram hashes over a token-hash array —
    * `transform(sequence(0, size(th) - w), i ->
    *    aggregate(slice(th, i + 1, w), 0L, (a, b) -> (a*131 + b) % M))`
    * for size(th) >= w (every caller guards on that; for shorter
    * arrays the HOF original walks a DESCENDING sequence with
    * negative slice indexes — this kernel returns an empty array and
    * must not replace an unguarded call site).
    */
  def posGrams(th: ArrayData, w: Int): ArrayData = {
    val n = th.numElements()
    if (n < w) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    // null elements propagate exactly like the HOF original: the
    // aggregate's (a*131 + b) % M accumulator goes (and stays) null the
    // moment a null element enters the fold, so a W-window containing
    // any null yields a null gram. The null-free fast path below is
    // what every production caller hits (their th columns are kernel
    // outputs, containsNull=false).
    var hasNull = false
    var k = 0
    while (!hasNull && k < n) { hasNull = th.isNullAt(k); k += 1 }
    if (hasNull) {
      val out = new Array[Any](n - w + 1)
      var i = 0
      while (i <= n - w) {
        var g = 0L
        var ok = true
        var j = i
        while (ok && j < i + w) {
          if (th.isNullAt(j)) ok = false
          else g = (g * 131L + th.getLong(j) % M) % M
          j += 1
        }
        out(i) = if (ok) java.lang.Long.valueOf(g) else null
        i += 1
      }
      return new GenericArrayData(out)
    }
    val out = new Array[Long](n - w + 1)
    // 131^(w-1) mod M
    var pw = 1L
    var j = 0
    while (j < w - 1) { pw = (pw * 131L) % M; j += 1 }
    var g = 0L
    j = 0
    while (j < w) { g = (g * 131L + th.getLong(j) % M) % M; j += 1 }
    out(0) = g
    var i = 1
    while (i <= n - w) {
      val drop = (th.getLong(i - 1) % M) * pw % M
      g = ((g - drop + M) % M * 131L + th.getLong(i + w - 1) % M) % M
      out(i) = g
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The q47/q238 8-function MinHash signature —
    * `transform(sequence(0, 7), i ->
    *    array_min(transform(th, h -> ((2i+1)·h + 7919·i) % M)))`.
    * An empty th yields 8 null mins, matching array_min([]).
    */
  def minHashSig(th: ArrayData): ArrayData = {
    val n = th.numElements()
    // null elements propagate exactly like the HOF original: transform
    // maps null -> null and array_min SKIPS nulls, so the mins fold
    // over the non-null elements only (all-null behaves like empty)
    var m = 0
    val vals = new Array[Long](n)
    var k = 0
    while (k < n) {
      if (!th.isNullAt(k)) { vals(m) = th.getLong(k); m += 1 }
      k += 1
    }
    if (m == 0)
      return new GenericArrayData(Array.fill[Any](8)(null))
    val out = new Array[Long](8)
    var i = 0
    while (i < 8) {
      val a = 2L * i + 1L
      val b = 7919L * i
      var mn = Long.MaxValue
      var j = 0
      while (j < m) {
        val v = (a * vals(j) + b) % M
        if (v < mn) mn = v
        j += 1
      }
      out(i) = mn
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `char_fold(str)`: rolling polynomial fold of str's code points. */
case class CharFold(child: Expression, seed: Long, mult: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_fold expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "char_fold"
  override def nullSafeEval(s: Any): Any =
    TextHashKernels.charFold(s.asInstanceOf[UTF8String], seed, mult)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.charFold($c, ${seed}L, ${mult}L)")
  override protected def withNewChildInternal(newChild: Expression): CharFold =
    copy(child = newChild)
}

/** `token_hashes_pos(text)`: positional per-token char-fold hashes. */
case class TokenHashesPos(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_hashes_pos expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes_pos"
  override def nullSafeEval(s: Any): Any =
    TextHashKernels.tokenHashesPos(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.tokenHashesPos($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenHashesPos =
    copy(child = newChild)
}

/** `token_hashes(text)`: distinct-token char-fold hashes. */
case class TokenHashesDistinct(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_hashes expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"
  override def nullSafeEval(s: Any): Any =
    TextHashKernels.tokenHashesDistinct(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.tokenHashesDistinct($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenHashesDistinct =
    copy(child = newChild)
}

/** `pos_grams(th, w)`: positional W-gram rolling hashes (size >= w). */
case class PosGrams(child: Expression, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pos_grams expects array<bigint>, got ${t.simpleString}")
  }
  // output grams are nullable exactly when input elements can be null
  // (a null element nulls every window covering it, matching the HOF
  // fold); production callers feed containsNull=false kernel outputs,
  // so their schemas are unchanged
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true // unresolved/invalid child; checkInputDataTypes rejects
    })
  override def prettyName: String = "pos_grams"
  override def nullSafeEval(a: Any): Any =
    TextHashKernels.posGrams(a.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.posGrams($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): PosGrams =
    copy(child = newChild)
}

/** `minhash_sig(th)`: the 8-function MinHash signature. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(a: Any): Any =
    TextHashKernels.minHashSig(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.minHashSig($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Column-level constructors (no SQL registration required); the SQL
  * forms are in [[Functions]].
  */
object TextHash {
  def charFold(c: Column, seed: Long, mult: Long): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(CharFold(org.apache.spark.sql.GraftPlanBridge.expressionOf(c), seed, mult))
  def tokenHashesPos(c: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(TokenHashesPos(org.apache.spark.sql.GraftPlanBridge.expressionOf(c)))
  def tokenHashesDistinct(c: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(TokenHashesDistinct(org.apache.spark.sql.GraftPlanBridge.expressionOf(c)))
  def posGrams(c: Column, w: Int): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(PosGrams(org.apache.spark.sql.GraftPlanBridge.expressionOf(c), w))
  def minHashSig(c: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(MinHashSig(org.apache.spark.sql.GraftPlanBridge.expressionOf(c)))
}
