package graft.functions

import graft.core.LogDateFormat

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}

/** Codegen-friendly epoch-millis → formatted-string expression backing
  * `format_log_date`. Equivalent of the reference's Pig `DateFormatter`
  * EvalFunc (src/com/blackberry/logdriver/pig/DateFormatter.java) but runs
  * inside whole-stage codegen instead of a per-row reflective UDF call.
  */
case class FormatLogDate(child: Expression, formatName: String, zoneId: String)
    extends UnaryExpression {

  private lazy val fmt: LogDateFormat = LogDateFormat(formatName, zoneId)

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "format_log_date"

  override def nullSafeEval(input: Any): Any = fmt.formatUtf8(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fmtRef = ctx.addReferenceObj("logDateFmt", fmt, classOf[LogDateFormat].getName)
    defineCodeGen(ctx, ev, c => s"$fmtRef.formatUtf8($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): FormatLogDate =
    copy(child = newChild)

}

/** Σ weights(bks(i)) over a long-array bucket column — the per-document
  * prediction of a hashed linear model. The weight vector rides as a PLAN
  * REFERENCE OBJECT (ctx.addReferenceObj), not a literal: an iterative
  * solver ([[graft.ops.Curation.linearProbe]]) then re-runs a structurally
  * IDENTICAL plan every round — identical generated source, so Spark's
  * codegen cache serves one compiled class for all iterations and only the
  * referenced array's values change. A B-element `typedLit` instead makes
  * each round a fresh ~B-node literal tree: new analysis, new codegen —
  * the measured per-iteration overhead at iters ≫ 4.
  */
object BucketWeightOps {
  def dot(bks: org.apache.spark.sql.catalyst.util.ArrayData, w: Array[Long]): Long = {
    var s = 0L
    val n = bks.numElements()
    var i = 0
    while (i < n) { s += w(bks.getLong(i).toInt); i += 1 }
    s
  }
}

case class BucketWeightSum(child: Expression, weights: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "bucket_weight_sum"

  override def nullSafeEval(input: Any): Any =
    BucketWeightOps.dot(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketWeights", weights, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketWeightOps.dot($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketWeightSum =
    copy(child = newChild)

}

object functions {
  /** Format an epoch-millis long column with a named log-date format
    * (RFC822 | RFC822_SEC_UTC | RFC3164 | RFC5424) or a raw pattern.
    */
  def format_log_date(c: Column, format: String, zoneId: String = "UTC"): Column =
    ColumnBridge.column(FormatLogDate(ColumnBridge.expression(c), format, zoneId))

  /** Hashed-linear-model prediction: Σ weights(bk) over a bucket-id array
    * column (see [[BucketWeightSum]] — weights as a reference object for
    * compiled-plan reuse across solver iterations).
    */
  def bucket_weight_sum(bks: Column, weights: Array[Long]): Column =
    ColumnBridge.column(BucketWeightSum(ColumnBridge.expression(bks), weights))
}
