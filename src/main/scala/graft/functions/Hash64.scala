package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit string hash as a native codegen expression, defined as the
  * lower 64 bits of md5 (digest bytes 8..15, little-endian) — EXACTLY
  * DuckDB's `md5_number_lower`, so any operator keyed on it (stratified
  * splits, salted bucketing, sharding) is oracle-reproducible bit for
  * bit. Shares the [[SimHash.md5Lower64]] kernel.
  */
object Hash64 {

  def md5Lower64(s: UTF8String): Long = {
    val bytes = s.getBytes
    SimHash.md5Lower64(bytes, 0, bytes.length)
  }

  /** Column API: md5lower64(s). */
  def md5lower64(c: Column): Column = Natives.call("md5lower64", c)
}

case class Md5Lower64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5lower64 requires a string argument, got ${child.dataType.sql}")
  override def nullSafeEval(input: Any): Any =
    Hash64.md5Lower64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash64.md5Lower64($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Lower64Expr =
    copy(child = newChild)
  override def prettyName: String = "md5lower64"
}
