package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[NfcNormalizeExpr]] (same doctrine as
  * [[ExtractKernels]]: codegen calls the static forwarder directly).
  */
object TextNormalizeKernels {

  /** Unicode NFC canonical composition (java.text.Normalizer — the
    * JDK's ICU-derived implementation; NFC for assigned code points is
    * stabilized by Unicode policy, so engines on different Unicode
    * versions agree on any corpus of assigned characters).
    *
    * Fast path: Normalizer.isNormalized is a cheap quick-check scan,
    * and real corpora are overwhelmingly already-NFC — skipping the
    * composition allocation for those keeps this a near-free gate.
    */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization as a native codegen expression — the first
  * step of every text-cleaning pipeline (mojibake-adjacent combining
  * sequences, width/compat variants arrive en masse from web text).
  * A UDF here would put a closure-dispatch island in the middle of the
  * per-document cleaning projection; this stays in the codegen span.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression with CostlyKernel {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextNormalizeKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextNormalizeKernels.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}
