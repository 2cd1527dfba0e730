package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native integer-vector kernels for the similarity operators — a
  * whole-stage-codegen `Expression` (like [[SimHash64Expr]]) replacing the
  * `aggregate(zip_with(...))` higher-order-function form: HOFs are
  * interpreted per element (no codegen), which made the 64-dim dot product
  * the hot path of q30–q32 (3 dots per cosine, 48 per LSH bucketing).
  * The kernel is one tight `long` loop the JIT vectorizes.
  *
  * Semantics identical to `aggregate(zip_with(a, b, _ * _), 0L, _ + _)`
  * on equal-length null-free arrays (the quantized-embedding contract).
  */
object VecOps {

  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  /** Per-vector int8 max-abs quantization kernel: scale exact integer
    * components to [-127, 127] by the vector's own max magnitude, with
    * round-HALF-AWAY-FROM-ZERO computed in EXACT INTEGER arithmetic:
    * round(127*a/m) = floor((254*|a| + m) / (2*m)) with the sign
    * re-applied — no floating point anywhere, so there is no
    * `floor(x+0.5)` double-rounding edge (an FP x+0.5 can round UP at
    * values like 0.49999999999999994) and the result is exactly the
    * half-away-from-zero rounding of the rational 127*a/m. Matches
    * Spark's and DuckDB's `round()` over the embedding domain (their
    * double division 127.0*a/m errs by well under the >= 1/(2m) gap any
    * non-half rational keeps from .5, and exact halves are exact in FP).
    * Precondition |a_i| <= Long.MaxValue/254 (~3.6e16) — any physical
    * integer-quantized embedding domain. One pass, no per-element
    * re-derivation of the max (the HOF form evaluates the max
    * subexpression PER ELEMENT once projection collapse inlines it —
    * O(d^2) interpreted per joined pair, measured ~9x slower). */
  def quant8(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var m = 0L
    var i = 0
    while (i < n) {
      val v = math.abs(a.getLong(i))
      if (v > m) m = v
      i += 1
    }
    val out = new Array[Long](n)
    if (m != 0L) {
      i = 0
      while (i < n) {
        val v = a.getLong(i)
        val q = (254L * math.abs(v) + m) / (2L * m)
        out(i) = if (v >= 0) q else -q
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Column API: dotq(a, b). */
  def dotq(a: Column, b: Column): Column = Natives.call("dotq", a, b)

  /** Column API: quant8(a). */
  def quant8(a: Column): Column = Natives.call("quant8", a)
}

case class Quant8Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"quant8 requires array<bigint>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any = VecOps.quant8(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecOps.quant8($a)")
  override protected def withNewChildInternal(newChild: Expression): Quant8Expr =
    copy(child = newChild)
  override def prettyName: String = "quant8"
}

case class DotQExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"dotq requires array<bigint> args, got ${l.sql}, ${r.sql}")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dotLong($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotQExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dotq"
}
