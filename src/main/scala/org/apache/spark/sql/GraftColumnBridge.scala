package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to private[sql] helpers: the Column<->Expression converters —
  * the standard extension-library pattern for exposing native Catalyst
  * expressions (graft.plans.*) through the public Column API — and
  * Spark's own error constructors.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Convert through the active session's ColumnNode converter when one
    * exists: `ExpressionUtils.expression` merely WRAPS the column's node
    * tree (ColumnNodeExpression, Unevaluable), which the analyzer only
    * unwraps on the DataFrame path — an expression injected through the
    * FunctionRegistry (GraftExtensions) would reach codegen still
    * wrapped and fail. The converter yields the real (possibly
    * unresolved) Catalyst tree, valid on both paths.
    */
  def expression(c: Column): Expression =
    SparkSession.getActiveSession match {
      case Some(s: classic.SparkSession) => s.expression(c)
      case _ => classic.ExpressionUtils.expression(c)
    }

  /** Spark's own PATH_NOT_FOUND analysis error, the one parquet raises. */
  def dataPathNotExistError(path: String): Throwable =
    errors.QueryCompilationErrors.dataPathNotExistError(path)
}
