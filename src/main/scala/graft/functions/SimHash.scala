package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over whitespace tokens — a native Catalyst expression
  * with whole-stage codegen (`doGenCode` emits a call into the static
  * kernel below), the preferred extension shape when built-in functions
  * can't express an operator's inner loop without exploding rows.
  *
  * Used for near-duplicate detection: documents whose SimHashes differ in
  * <= k bits are near-dup candidates (pair by hamming-ball buckets or by
  * sorted rotations at corpus scale).
  *
  * The token hash is md5-lower-64 (DuckDB `md5_number_lower` parity) so
  * the q27 oracle reproduces the hash bit-for-bit; [[fnv1a64]] is the
  * faster swap-in when cross-engine verification is not needed.
  */
object SimHash {

  /** FNV-1a 64-bit over a token's bytes — fast, dependency-free, stable.
    * The pure-speed token hash; not reproducible in DuckDB SQL (checked
    * 64-bit multiply overflow), so [[simhash64]] defaults to [[md5Lower64]]
    * for oracle parity. Swap the call inside simhash64 for this when
    * cross-engine verification is not required. */
  def fnv1a64(bytes: Array[Byte], start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Lower 64 bits of md5 over a byte range: digest bytes 8..15 read
    * little-endian — exactly DuckDB's `md5_number_lower`, making every
    * token hash (and thus the SimHash) reproducible in the oracle. */
  def md5Lower64(bytes: Array[Byte], start: Int, end: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, start, end - start)
    val d = md.digest()
    var h = 0L
    var i = 15
    while (i >= 8) {
      h = (h << 8) | (d(i) & 0xffL)
      i -= 1
    }
    h
  }

  /** SimHash kernel: per token, add +/-1 per bit position of the token's
    * hash; final bit = sign. Static so generated code can call it. */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val weights = new Array[Int](64)
    var i = 0
    var tokenStart = -1
    while (i <= bytes.length) {
      val isSpace = i == bytes.length || bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' || bytes(i) == '\r'
      if (!isSpace && tokenStart < 0) tokenStart = i
      if (isSpace && tokenStart >= 0) {
        val h = md5Lower64(bytes, tokenStart, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
          b += 1
        }
        tokenStart = -1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (weights(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Column API: simhash64(text); the expression participates in
    * analysis/codegen like a builtin. */
  def simhash(c: Column): Column = Natives.call("simhash64", c)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string argument, got ${child.dataType.sql}"
      )
  override def nullSafeEval(input: Any): Any =
    SimHash.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}
