package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.functions.{Grok, GrokExtract}
import org.apache.spark.sql.catalyst.expressions.Literal

/** GrokExtract: one-pass named-capture extraction (SURVEY §7.3) —
  * codegen path, null-safety, fail-fast validation, and the generative
  * equivalence with the per-field regexp_extract chain.
  */
class GrokSpec extends SparkTestBase {
  import spark.implicits._

  private val pat =
    "call=(?<svc>[a-z-]+)\\.(?<method>m[0-9]) status=(?<status>[0-9]+)"

  test("named fields from one pass; no-match and NULL input give NULL struct") {
    val df = Seq(
      ("a", "call=web.m1 status=200 tail"),
      ("b", "unstructured"),
      ("c", null)
    ).toDF("id", "text")
    val rows = df
      .select(col("id"), Grok.grokExtract(col("text"), pat).as("g"))
      .select("id", "g.svc", "g.method", "g.status", "g")
      .orderBy("id")
      .collect()
    assert(rows(0).getString(1) == "web" && rows(0).getString(2) == "m1"
      && rows(0).getString(3) == "200")
    assert(rows(1).isNullAt(4) && rows(2).isNullAt(4))
  }

  test("non-participating optional group yields a NULL field") {
    val e = GrokExtract(Literal.create("x=1"), "x=(?<x>[0-9]+)(?: y=(?<y>[0-9]+))?")
    val r = e.extract(UTF8String.fromString("x=1"))
    assert(r.getUTF8String(0).toString == "1" && r.isNullAt(1))
  }

  test("fail-fast: invalid pattern and pattern without named groups") {
    intercept[IllegalArgumentException](GrokExtract(Literal.create("x"), "status=([0-9]+)"))
    intercept[java.util.regex.PatternSyntaxException] {
      val g = GrokExtract(Literal.create("x"), "(?<a>unclosed")
      g.extract(UTF8String.fromString("x")) // compile is lazy; force it
    }
  }

  test("interpreted eval == codegen path") {
    val e = GrokExtract(Literal.create("call=db.m3 status=404"), pat)
    val interpreted = e.extract(UTF8String.fromString("call=db.m3 status=404"))
    val viaQuery = Seq("call=db.m3 status=404").toDF("text")
      .select(Grok.grokExtract(col("text"), pat).as("g"))
      .select("g.svc", "g.method", "g.status").collect().head
    assert(interpreted.getUTF8String(0).toString == viaQuery.getString(0))
    assert(interpreted.getUTF8String(2).toString == viaQuery.getString(2))
  }

  test("property: grok == regexp_extract chain on random lines") {
    val unnamed = pat.replaceAll("\\(\\?<[A-Za-z][A-Za-z0-9]*>", "(")
    val genLine: Gen[String] = Gen.oneOf(
      for {
        svc <- Gen.oneOf("web", "api-server", "db")
        m <- Gen.choose(0, 9)
        st <- Gen.oneOf(200, 404, 503)
        tail <- Gen.oneOf("", " dur=5ms", " x")
      } yield s"call=$svc.m$m status=$st$tail",
      Gen.oneOf("garbage", "call=web. status=", "", "status=200")
    )
    val prop = Prop.forAll(Gen.nonEmptyListOf(genLine).map(_.take(12))) { lines =>
      val df = lines.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      val got = df
        .select(
          col("id"),
          Grok.grokExtract(col("text"), pat).as("g"),
          when(col("text").rlike(unnamed), regexp_extract(col("text"), unnamed, 1)).as("e1"),
          when(col("text").rlike(unnamed), regexp_extract(col("text"), unnamed, 2)).as("e2"),
          when(col("text").rlike(unnamed), regexp_extract(col("text"), unnamed, 3)).as("e3")
        )
        .select("id", "g.svc", "g.method", "g.status", "e1", "e2", "e3")
        .collect()
      got.forall { r =>
        Option(r.getString(1)) == Option(r.getString(4)) &&
        Option(r.getString(2)) == Option(r.getString(5)) &&
        Option(r.getString(3)) == Option(r.getString(6))
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20).withWorkers(1)
        .withInitialSeed(Seed(7L)),
      prop)
    assert(res.passed, s"property failed: ${res.status}")
  }
}
