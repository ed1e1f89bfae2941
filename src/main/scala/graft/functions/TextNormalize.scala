package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a Catalyst expression — the
  * normalize-before-hash step every real corpus pipeline runs before
  * dedup: visually-identical strings differing only in composition
  * (é as U+00E9 vs e + U+0301) must land in the same fingerprint class,
  * or near-dup detection silently treats them as distinct documents.
  *
  * Cross-engine: java.text.Normalizer (NFC) and DuckDB's
  * `nfc_normalize` both implement Unicode Normalization Form C, so
  * normalized bytes — and therefore md5 fingerprints — agree (q77's
  * oracle relies on this; the spec pins the composed/decomposed cases).
  * Codegen emits one static call, keeping the expression inside
  * whole-stage codegen. ASCII input is returned as-is by the underlying
  * quick-check, so the common case costs a scan, not a rewrite. */
object TextNormalize {
  def nfc(c: Column): Column =
    ColumnBridge.column(NormalizeNfc(ColumnBridge.expression(c)))

  // static entry point referenced from generated code
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
}

case class NormalizeNfc(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc"

  override def nullSafeEval(input: Any): Any =
    TextNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeNfc =
    copy(child = newChild)
}
