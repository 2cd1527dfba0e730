package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.StringType

/** The engine's native SQL functions, registered in one place.
  *
  * [[register]] adds only the names a session's function registry lacks,
  * so it is safe to call before every use: the Column helpers
  * (`Hash64.md5lower64`, `SimHash.simhash`, `VecOps.dotq`/`quant8`,
  * `Grok.grokExtract`, `Bloom.build`/`probe`) go through [[call]], which
  * registers on the active session, and operators never register
  * anything themselves. A repeat call replaces nothing, so it logs no
  * "replaced a previously registered function" warning.
  */
object Natives {

  private type Builder = Seq[Expression] => Expression

  /** SQL name -> expression builder. */
  private val builders: Seq[(String, Builder)] = Seq(
    "md5lower64" -> (exprs => Md5Lower64Expr(exprs.head)),
    "simhash64" -> (exprs => SimHash64Expr(exprs.head)),
    "dotq" -> (exprs => DotQExpr(exprs.head, exprs(1))),
    "quant8" -> (exprs => Quant8Expr(exprs.head)),
    // the pattern must be a foldable string (a literal): the output
    // struct's fields come from its named groups at analysis time
    "grok_extract" -> { exprs =>
      require(exprs.length == 2, "grok_extract(text, pattern) takes two arguments")
      val pat = exprs(1)
      require(pat.foldable && pat.dataType == StringType,
        "grok_extract pattern must be a string literal")
      val p = pat.eval()
      require(p != null, "grok_extract pattern must not be null")
      GrokExtract(exprs.head, p.toString)
    },
    "bloom_build" -> (exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))),
    "bloom_probe" -> (exprs => new BloomFilterMightContain(exprs(0), exprs(1)))
  )

  val names: Seq[String] = builders.map(_._1)

  /** Register every native the session does not already have. */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** A call of the native `name`, registered on the active session first. */
  def call(name: String, args: Column*): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}
