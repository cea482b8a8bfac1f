package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (SURVEY.md
  * §2.3 E8/E13 — the canonicalization step a text pipeline runs before
  * hashing or deduplicating: "é" and "e"+COMBINING ACUTE are the same
  * text but different bytes, so every md5-keyed dedup/scrub gate is
  * wrong on un-normalized input).
  *
  * Spark ships no normalization builtin; this wraps the JDK's
  * `java.text.Normalizer` (the Unicode-standard NFC implementation,
  * matching DuckDB's utf8proc-backed `nfc_normalize` byte for byte) as
  * a codegen-capable UnaryExpression, so it runs inside whole-stage
  * codegen like any builtin — no UDF boundary, no row-at-a-time
  * serialization. Interpreted path and generated code share the same
  * static call.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects a string, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

object NfcNormalize {

  /** Shared by the interpreted and generated paths. Fast path: NFC
    * checks are cheap for already-normalized (ASCII-dominated) text,
    * so probe before allocating a normalized copy.
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(
        str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      str, java.text.Normalizer.Form.NFC))
  }
}
