package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Grok-style named-capture extraction as a native codegen expression
  * (SURVEY §7.3): `grok_extract(text, pattern)` compiles the Java-regex
  * pattern ONCE on the driver, derives the output STRUCT schema from the
  * pattern's named groups at analysis time, and extracts every field in
  * one matcher pass — where the equivalent `regexp_extract` chain runs
  * one full matcher per field (the reference's rule machinery matches
  * each source attribute separately, custom_attribute.go:79-100; grok
  * collapses a fixed-layout line to a single pass).
  *
  * Null-safe: NULL input -> NULL struct; no match -> NULL struct; a named
  * group that did not participate in the match -> NULL field. Invalid
  * pattern or a pattern without named groups fails at expression
  * construction (driver side), mirroring Config.Validate() fail-fast.
  */
object Grok {

  /** Named groups of a Java regex, in pattern order. `(?<name>` only —
    * lookbehind `(?<=` / `(?<!` does not match (a group name must start
    * with a letter). */
  def groupNamesOf(pattern: String): Seq[String] =
    "\\(\\?<([A-Za-z][A-Za-z0-9]*)>".r.findAllMatchIn(pattern).map(_.group(1)).toSeq

  /** Column API: grok_extract(c, pattern). */
  def grokExtract(c: Column, pattern: String): Column =
    Natives.call("grok_extract", c, org.apache.spark.sql.functions.lit(pattern))
}

case class GrokExtract(child: Expression, pattern: String) extends UnaryExpression {

  /** schema is fixed at analysis time by the pattern's named groups */
  val groupNames: Seq[String] = Grok.groupNamesOf(pattern)
  require(groupNames.nonEmpty, s"grok pattern has no named groups: $pattern")

  // fail fast on an invalid pattern, at construction (driver side)
  @transient private lazy val compiled: Pattern = Pattern.compile(pattern)
  compiled

  override def dataType: DataType =
    StructType(groupNames.map(n => StructField(n, StringType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"grok_extract requires a string argument, got ${child.dataType.sql}")

  /** One matcher pass; called from both interpreted and generated code. */
  def extract(s: UTF8String): InternalRow = {
    val m = compiled.matcher(s.toString)
    if (!m.find()) null
    else {
      val values = new Array[Any](groupNames.length)
      var i = 0
      while (i < groupNames.length) {
        val v = m.group(groupNames(i))
        values(i) = if (v == null) null else UTF8String.fromString(v)
        i += 1
      }
      new GenericInternalRow(values)
    }
  }

  override def nullSafeEval(input: Any): Any =
    extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("grok", this, classOf[GrokExtract].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.extract($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): GrokExtract =
    copy(child = newChild)
  override def prettyName: String = "grok_extract"
}
