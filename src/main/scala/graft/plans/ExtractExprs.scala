package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels the generated code calls directly (Scala top-level
  * object methods compile to static forwarders, so codegen emits a plain
  * `graft.plans.ExtractKernels.xxx(...)` call — no boxing, no encoder,
  * no ScalaUDF closure dispatch).
  */
object ExtractKernels {

  /** Per-JVM count of MemGuard breaches on the default (null-returning)
    * extraction path, so silent nulls are observable at scale: executors
    * expose it via [[memGuardBreaches]] and each breach is also logged
    * (first few per executor at WARN). Callers wanting the per-row
    * breach REASON use [[graft.functions.Web.extractPlainTextGuarded]].
    */
  private val breachCount = new java.util.concurrent.atomic.AtomicLong
  def memGuardBreaches: Long = breachCount.get

  /** decode -> parse -> extract_plain_text; null on a MemGuard breach
    * (counted + logged — see [[memGuardBreaches]]).
    */
  def extractPlainText(body: Array[Byte], charset: UTF8String,
      mainContent: Boolean, maxNodes: Int): UTF8String = {
    try {
      val cs = if (charset == null) null else charset.toString
      val html = graft.html.HtmlTree.decodeForParse(body, cs)
      UTF8String.fromString(graft.html.Html2Text.extractFromHtml(html,
        graft.html.Html2Text.Options(mainContent = mainContent, maxNodes = maxNodes)))
    } catch {
      case e: graft.core.MemGuardException =>
        val n = breachCount.incrementAndGet()
        if (n <= 5)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"extract_plain_text mem-guard breach #$n (row -> null): ${e.getMessage}")
        null
    }
  }

  /** detect_fast over a string -> (lang, rank) as an InternalRow. */
  def detectLang(text: UTF8String): InternalRow = {
    val (l, r) = graft.core.LangDetect.detectFast(text.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(l), r))
  }
}

/** Native Catalyst expression for the flagship compound operator
  * (decode -> HTML parse -> classify -> serialize,
  * resiliparse-py/resiliparse/extract/html2text.pyx:736-933).
  *
  * Exists because the UDF form broke whole-stage codegen in the w13/w19
  * plans (a `UDF(http_body, http_charset)` island): this stays inside the
  * codegen span, skips ScalaUDF's closure + encoder dispatch on a
  * binary->string hot path, and short-circuits null bodies without
  * evaluating the charset child.
  *
  * Null semantics: body null -> null; charset null -> still extracts
  * (charset auto-detection), matching `parse_from_bytes(data, None)` —
  * so this is NOT null-intolerant on the right child and overrides
  * eval/doGenCode wholesale instead of using nullSafeEval.
  */
case class ExtractPlainTextExpr(body: Expression, charset: Expression,
    mainContent: Boolean, maxNodes: Int) extends Expression with CostlyKernel {

  override def children: Seq[Expression] = Seq(body, charset)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_plain_text"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (body.dataType == BinaryType && charset.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, string), got " +
          s"(${body.dataType}, ${charset.dataType})")

  override def eval(input: InternalRow): Any = {
    val b = body.eval(input)
    if (b == null) null
    else ExtractKernels.extractPlainText(b.asInstanceOf[Array[Byte]],
      charset.eval(input).asInstanceOf[UTF8String], mainContent, maxNodes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val bodyGen = body.genCode(ctx)
    val csGen = charset.genCode(ctx)
    ev.copy(code =
      code"""
        ${bodyGen.code}
        boolean ${ev.isNull} = true;
        UTF8String ${ev.value} = null;
        if (!${bodyGen.isNull}) {
          ${csGen.code}
          ${ev.value} = graft.plans.ExtractKernels.extractPlainText(
            ${bodyGen.value}, ${csGen.isNull} ? null : ${csGen.value},
            $mainContent, $maxNodes);
          ${ev.isNull} = (${ev.value} == null);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExtractPlainTextExpr =
    copy(body = newChildren(0), charset = newChildren(1))
}

/** Native `detect_fast` (lang.pyx:111-175) expression:
  * struct<lang:string, rank:int> without the UDF island the w16/t04 plans
  * had (the compiled vectorizer kernel is the cost; this removes the
  * per-row closure + struct encoder overhead around it).
  */
case class DetectLangExpr(child: Expression) extends UnaryExpression with CostlyKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "detect_lang"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    ExtractKernels.detectLang(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExtractKernels.detectLang($c)")

  override protected def withNewChildInternal(newChild: Expression): DetectLangExpr =
    copy(child = newChild)
}
