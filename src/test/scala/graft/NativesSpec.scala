package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.{Bloom, Grok, Hash64, Natives, SimHash, VecOps}
import graft.operators.{Dedup, Similarity}

/** The native-function registry: registration is idempotent and quiet,
  * every name resolves in SQL, and every Column helper and operator
  * registers what it needs on a session that lacks it. */
class NativesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val replaced = "replaced a previously registered function"

  private def registry = spark.sessionState.functionRegistry

  private def dropAll(): Unit =
    Natives.names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))

  /** Messages logged through the root logger while `f` runs. */
  private def logged(f: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("natives-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = seen.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    try f
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender("natives-spec")
      ctx.updateLoggers()
      appender.stop()
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  test("registering twice replaces nothing and logs no re-registration warning") {
    // control: the appender does see the warning a plain re-registration logs
    val probe = "natives_spec_probe"
    val control = logged {
      registry.createOrReplaceTempFunction(probe, _ => Literal(1), "built-in")
      registry.createOrReplaceTempFunction(probe, _ => Literal(1), "built-in")
    }
    registry.dropFunction(FunctionIdentifier(probe))
    assert(control.count(_.contains(replaced)) == 1)

    dropAll()
    val msgs = logged {
      Natives.register(spark)
      Natives.register(spark)
    }
    assert(msgs.count(_.contains(replaced)) == 0, msgs.mkString("\n"))
  }

  test("every registered name resolves in SQL") {
    Natives.register(spark)
    assert(Natives.names.toSet ==
      Set("md5lower64", "simhash64", "dotq", "quant8", "grok_extract", "bloom_build", "bloom_probe"))
    Natives.names.foreach(n => assert(registry.functionExists(FunctionIdentifier(n)), n))
    val r = spark.sql(
      """SELECT md5lower64('abc'), simhash64('a b c'),
        |  dotq(array(1L, 2L), array(3L, 4L)), quant8(array(127L, -254L)),
        |  grok_extract('dur=12ms', 'dur=(?<ms>[0-9]+)ms').ms""".stripMargin).collect().head
    assert(r.getLong(2) == 11L)
    assert(r.getSeq[Long](3) == Seq(64L, -127L))
    assert(r.getString(4) == "12")
    val bits = spark.sql("SELECT bloom_build(xxhash64(id), 100L, 8192L) FROM range(10)")
      .collect().head.getAs[Array[Byte]](0)
    val hex = bits.map(b => f"$b%02X").mkString
    val hit = spark.sql(s"SELECT bloom_probe(X'$hex', xxhash64(3L))").collect().head.getBoolean(0)
    assert(hit)
  }

  test("Column helpers register the natives a session lacks") {
    val df = spark.range(1).select(
      lit("a b").as("text"), array(lit(1L), lit(2L)).as("v"), col("id"))
    val uses = Seq(
      "md5lower64" -> (() => df.select(Hash64.md5lower64(col("text")))),
      "simhash64" -> (() => df.select(SimHash.simhash(col("text")))),
      "dotq" -> (() => df.select(VecOps.dotq(col("v"), col("v")))),
      "quant8" -> (() => df.select(VecOps.quant8(col("v")))),
      "grok_extract" -> (() => df.select(Grok.grokExtract(col("text"), "(?<a>a)"))),
      "bloom_build" -> (() => df.agg(Bloom.build(col("id"), 10L, 1024L))),
      "bloom_probe" -> (() => df.select(Bloom.probe(Array[Byte](0, 0, 0, 1), col("id"))))
    )
    uses.foreach { case (name, use) =>
      dropAll()
      use()
      assert(registry.functionExists(FunctionIdentifier(name)), name)
    }
  }

  test("operators using each native build and run on a session that lacks them") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val ops = Seq[(String, () => Long)](
      "md5lower64" -> (() => Dedup.winnowingFingerprints(docs).count()),
      "simhash64" -> (() => Dedup.simhashes(docs).count()),
      "dotq/quant8" -> (() => Similarity.int8TopK(embs, embs.filter(col("vec_id") < 3), k = 2).count()),
      "grok_extract" -> (() => SparkEntry.queries("q16_grok_parse")(spark, sf).count()),
      "bloom_*" -> (() => Dedup.bloomDecontamination(docs).count())
    )
    ops.foreach { case (name, op) =>
      dropAll()
      assert(op() >= 0, name)
    }
    Natives.names.foreach(n => assert(registry.functionExists(FunctionIdentifier(n)), n))
  }
}
