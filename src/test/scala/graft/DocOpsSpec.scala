package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Training-data operators over documents / embeddings. */
class DocOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  private def docDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))

  test("exact dedup: identical normalized text collapses to the lowest doc_id") {
    val d = docDf(
      (1L, "the quick brown fox"),
      (2L, "the  quick   brown fox"), // whitespace-normalized duplicate
      (3L, "something else")
    )
    val r = Dedup.exact(d).collect().map(x =>
      x.getAs[Long]("doc_id") -> (x.getAs[Long]("canonical_doc_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(r(1L) == (1L, false))
    assert(r(2L) == (1L, true))
    assert(r(3L) == (3L, false))
  }

  test("exact dedup: NULL-text docs are kept and grouped together (oracle PARTITION BY semantics)") {
    val d = Seq[(Long, String)]((1L, "a b"), (2L, null), (3L, "a  b"), (4L, null))
      .toDF("doc_id", "text")
    val r = Dedup.exact(d).collect().map(x =>
      x.getAs[Long]("doc_id") ->
        (x.getAs[String]("fingerprint"), x.getAs[Long]("canonical_doc_id"),
          x.getAs[Long]("group_size"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r(2L) == ((null, 2L, 2L, false)))
    assert(r(4L) == ((null, 2L, 2L, true)))
    assert(r(3L)._2 == 1L && r(3L)._3 == 2L && r(3L)._4)
  }

  test("shingles: w-grams of tokens; short docs fall back to whole text") {
    val d = docDf((1L, "a b c d"), (2L, "a b"))
    val sh = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("a b"))
  }

  test("ngram jaccard: near-identical docs score near 1, disjoint docs absent") {
    val d = docDf(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"), // differs in last token
      (3L, "x1 x2 x3 x4 x5")
    )
    val pairs = Dedup.ngramJaccardPairs(d, 3, 0.05).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    // 7 common of (8+8-7)=9 union
    assert(math.abs(p.getAs[Double]("jaccard") - 7.0 / 9.0) < 1e-12)
  }

  test("hot-shingle DF cap drops stop-phrase buckets from the jaccard join") {
    // 25 docs share one stop phrase (every shared shingle has DF = 25) but
    // have otherwise-unique text: with the cap the quadratic bucket
    // disappears entirely; without it, C(25,2) candidate pairs survive.
    val d = docDf((1L to 25L).map(i =>
      i -> s"the quick brown fox u$i v$i w$i x$i y$i z$i"): _*)
    val capped = Dedup.ngramJaccardPairs(d, 3, minJaccard = 0.01, maxDocFreq = 20)
    assert(capped.count() == 0)
    val uncapped = Dedup.ngramJaccardPairs(d, 3, minJaccard = 0.01, maxDocFreq = 1000)
    assert(uncapped.count() == 25L * 24 / 2)
  }

  test("shingleDf equals the expression form's exploded shingle sets") {
    val d = docDf(
      (1L, "a b c d e"),
      (2L, "a b"),
      (3L, "x y z x y z x y z") // repeated grams -> distinct matters
    )
    val viaDf = Dedup.shingleDf(d, 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val viaExpr = d.select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaDf == viaExpr)
  }

  test("minhash LSH finds the planted near-duplicates found by exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicates")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${lsh.size}, exact ${exact.size})")
  }

  test("minhash estimate approximates exact jaccard on high-sim pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.7)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).as[(Long, Long, Double)].collect().toMap2
    val est = Dedup.minhashLshPairs(docs, 3, 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard")).as[(Long, Long, Double)].collect().toMap2
    exact.foreach { case (pair, j) =>
      est.get(pair).foreach(e => assert(math.abs(e - j) < 0.45))
    }
  }

  implicit class Tuples3[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("winnowing fingerprints: near-dup docs overlap heavily, disjoint docs do not") {
    val d = docDf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"), // tail edit
      (3L, "entirely different content with no shared character runs here")
    )
    val fps = Dedup.winnowingFingerprints(d, k = 8, w = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]) = a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(fps(1L), fps(2L)) > 0.5, s"near-dups overlap ${jac(fps(1L), fps(2L))}")
    assert(jac(fps(1L), fps(3L)) < 0.1, s"disjoint overlap ${jac(fps(1L), fps(3L))}")
    // guarantee: identical docs -> identical fingerprint sets
    val dupd = docDf((7L, "xyz content"), (8L, "xyz content"))
    val f2 = Dedup.winnowingFingerprints(dupd, 8, 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(f2(7L) == f2(8L))
  }

  test("duplicate clusters: transitive chains collapse to the min doc id") {
    // edges form a chain 1-2, 2-3 (1 and 3 never pair directly) plus an
    // isolated pair 10-11 and a singleton 20
    val d = docDf((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"), (20L, "f"))
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(d, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false)))
    assert(got(3L) == ((1L, false))) // transitive: reached via 2
    assert(got(10L) == ((10L, true)) && got(11L) == ((10L, false)))
    assert(got(20L) == ((20L, true)))
  }

  test("train split: deterministic, stable under corpus growth, ~90/5/5") {
    val splits = Dedup.trainSplit(docs).cache()
    val again = Dedup.trainSplit(docs)
    assert(splits.except(again).count() == 0) // deterministic
    // a document's split never changes when the corpus grows
    val half = Dedup.trainSplit(docs.filter(col("doc_id") < 250))
    val full = splits.filter(col("doc_id") < 250)
    assert(half.except(full).count() == 0)
    val byCat = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = byCat.values.sum.toDouble
    assert(byCat("train") / n > 0.8 && byCat("train") / n < 0.97)
    assert(byCat.keySet == Set("train", "validation", "test"))
    splits.unpersist()
  }

  test("simhash: identical text -> distance 0; near-dup text -> small distance") {
    val d = docDf(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 zz"),
      (4L, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j10 k11 l12")
    )
    val h = Dedup.simhashes(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(graft.functions.SimHash.hamming(h(1L), h(3L)) <= 16)
    assert(graft.functions.SimHash.hamming(h(1L), h(4L)) > 16)
    val pairs = Dedup.simhashPairs(d, maxHamming = 16)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("simhash finds the planted near-duplicates on the corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, maxHamming = 12)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(sim).size.toDouble / exact.size
    assert(recall >= 0.7, s"simhash recall $recall (|exact|=${exact.size}, |sim|=${sim.size})")
  }

  test("token stats and quality gates") {
    val d = docDf(
      (1L, "the cat sat on the mat and it was good for all of us"), // clean
      (2L, "1 2 3 4 5 6 7 8 9 10 11 12") // digit soup
    )
    val q = TextAnalysis.qualityScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passes_quality")).toMap
    assert(q(1L))
    assert(!q(2L))
  }

  test("language id picks the language with most marker hits") {
    val d = docDf(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de la calle que es"),
      (3L, "zzz qqq xxx")
    ).withColumn("lang", lit("meta"))
    val got = TextAnalysis.languageId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "und")
  }

  test("brute-force ANN: self excluded, ranks ordered by cosine desc") {
    val top = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 3), 5).cache()
    val rows = top.collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r.getAs[Long]("q_id") == r.getAs[Long]("n_id")))
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    top.unpersist()
  }

  test("bucketed cosine near-dup pairs: subset of exact; true duplicates found with recall 1.0") {
    // identical vectors land in identical buckets in every table, so
    // exact duplicates are guaranteed candidates — recall 1.0 by
    // construction, the property that matters for dedup
    val dups = embs.limit(20).withColumn("vec_id", col("vec_id") + 10000L)
    val corpus = embs.unionByName(dups)
    val found = Similarity.nearDupPairs(corpus, threshold = 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = embs.limit(20).select("vec_id").collect()
      .map(_.getLong(0)).map(id => (id, id + 10000L)).toSet
    assert(expected.subsetOf(found), s"missed ${expected.diff(found)}")

    // at a weak-similarity threshold recall is the documented geometry
    // trade-off (~0.4 expected for 6 planes x 8 tables at cosine 0.4);
    // candidates are exact-verified so no false positives ever
    val threshold = 0.4
    val exact = Similarity.nearDupPairsExact(embs, threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairs(embs, threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain cosine pairs at 0.4")
    assert(lsh.subsetOf(exact))
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.2, s"bucketed near-dup recall $recall (|exact|=${exact.size})")
  }

  test("semantic clusters: CC over the near-dup edge set matches a union-find model") {
    // model: union-find over the SAME edge relation the operator uses
    val edges = Similarity.nearDupPairs(embs, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture should contain cosine pairs at 0.4")
    val ids = embs.select("vec_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = Similarity.semanticClusters(embs, threshold = 0.4).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(got.size == ids.length)
    ids.foreach { i =>
      assert(got(i)._1 == expected(i), s"vec $i: cluster ${got(i)._1} != model ${expected(i)}")
      assert(got(i)._2 == (expected(i) == i))
    }
    // at least one non-trivial cluster exists in the fixture
    assert(got.values.exists(!_._2))
  }

  test("source overlap: shared winnowing fps across sources; df cap drops boilerplate") {
    val copied = "the quick brown fox jumps over the lazy dog again"
    val d = Seq(
      (1L, copied, "web"),
      (2L, copied, "books"),                       // near-verbatim cross-source copy
      (3L, "zq xv wk jm pf unrelated words qqq", "wiki") // no shared content
    ).toDF("doc_id", "text", "source")
    val r = graft.operators.Corpus.sourceOverlap(d).collect()
      .map(x => (x.getAs[String]("source_a"), x.getAs[String]("source_b")) ->
        x.getAs[Long]("n_shared_fingerprints")).toMap
    assert(r.keySet == Set(("books", "web")))
    assert(r(("books", "web")) > 0)
    // hot-fp cap: with maxDocFreq = 1 every shared fp (df = 2) is dropped
    assert(graft.operators.Corpus.sourceOverlap(d, maxDocFreq = 1).count() == 0)
  }

  test("token budget: bucket-decomposed cumsum equals the naive per-lang hash-order scan") {
    val budget = 2000L
    val got = graft.operators.Corpus.tokenBudgetSample(docs, budgetTokens = budget)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Boolean]("kept"))).toMap
    // naive model: same hash, one global (h, doc_id) order per lang
    val h = graft.functions.Hash64
      .md5lower64(concat(col("doc_id").cast("string"), lit(":budget")))
      .bitwiseAND(lit(Long.MaxValue))
    val rows = docs
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"), h.as("h"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("h")))
    val model = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
      var cum = 0L
      rs.sortBy(r => (r._4, r._1)).toSeq.map { r => cum += r._3; r._1 -> (cum, cum <= budget) }
    }.toMap
    assert(got == model)
    // the budget binds: both kept and dropped docs exist in every language
    val byLang = rows.map(r => r._1 -> r._2).toMap
    docs.select("lang").distinct().collect().map(_.getString(0)).foreach { l =>
      val ks = got.collect { case (id, (_, k)) if byLang(id) == l => k }
      assert(ks.exists(identity) && ks.exists(!_), s"budget should bind for lang $l")
    }
  }

  test("length percentiles: integer-exact disc selection over the per-lang histogram") {
    val en = (1 to 10).map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" "), "en"))
    val de = Seq(11L -> 2, 12L -> 2, 13L -> 2, 14L -> 4).map { case (id, n) =>
      (id, (1 to n).map(i => s"d$i").mkString(" "), "de")
    }
    val d = (en ++ de).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.lengthPercentiles(d).collect()
      .map(x => x.getAs[String]("lang") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("p50_tokens"), x.getAs[Long]("p90_tokens"),
         x.getAs[Long]("p99_tokens"), x.getAs[Long]("min_tokens"), x.getAs[Long]("max_tokens"))).toMap
    assert(r("en") == (10L, 5L, 9L, 10L, 1L, 10L))
    assert(r("de") == (4L, 2L, 4L, 4L, 2L, 4L))
  }

  test("IVF ANN: probing more lists increases recall; nProbe=all is exact") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val got = Similarity.ivfTopK(embs, queries, 5, nCentroids = 16, nProbe = nProbe)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r8 >= r2, s"recall must not drop with more probes ($r2 -> $r8)")
    // probing ALL lists scans the whole corpus -> exact top-k
    assert(recallAt(16) == 1.0)
  }

  test("LSH ANN recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(embs, queries, 5, nPlanes = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // 4 planes -> 16 buckets over 500 vecs; nearest neighbors mostly share
    // the query's bucket. This pins the plumbing, not state-of-the-art recall.
    assert(recall >= 0.3, s"LSH recall $recall unexpectedly low")
    assert(approx.nonEmpty)
  }

  test("duplicate passages: planted 8-token passage shared by two docs is located; unique text is not") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docDf(
      (1L, s"unique one two three $shared tail tokens here"),
      (2L, s"$shared completely different remainder of this doc"),
      (3L, "nothing in common with the others at all whatsoever today")
    )
    val r = TextAnalysis.duplicatePassages(d, w = 8).collect()
    // every reported passage occurs in >= 2 docs by construction
    assert(r.forall(_.getAs[Long]("n_docs") >= 2))
    val byDoc = r.groupBy(_.getAs[Long]("doc_id"))
    // doc 3 shares nothing
    assert(!byDoc.contains(3L))
    // docs 1 and 2 share the planted passage at the right positions
    assert(byDoc(1L).exists(_.getAs[Int]("pos") == 4))
    assert(byDoc(2L).exists(_.getAs[Int]("pos") == 0))
    // the planted passage hash is identical across the two docs
    val h1 = byDoc(1L).filter(_.getAs[Int]("pos") == 4).head.getAs[String]("passage_hash")
    val h2 = byDoc(2L).filter(_.getAs[Int]("pos") == 0).head.getAs[String]("passage_hash")
    assert(h1 == h2)
  }

  test("vocab stats: tf sums to the corpus token count and df <= tf, df <= n_docs") {
    val v = TextAnalysis.vocabStats(docs).collect()
    val totalTf = v.map(_.getAs[Long]("tf")).sum
    val totalToks = TextAnalysis.tokenStats(docs)
      .agg(sum(col("n_tokens"))).collect().head.getLong(0)
    assert(totalTf == totalToks)
    val nDocs = docs.count()
    assert(v.forall(r => r.getAs[Long]("df") <= r.getAs[Long]("tf")))
    assert(v.forall(r => r.getAs[Long]("df") <= nDocs))
  }

  test("int8 ANN: high recall vs exact brute force; scores bounded") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val q8 = Similarity.int8TopK(embs, queries, k = 5).collect()
    assert(q8.forall(r => math.abs(r.getAs[Double]("cosine_q8")) <= 1.0 + 1e-9))
    val approx = q8.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // int8 max-abs keeps the ranking nearly intact on these vectors
    assert(recall >= 0.8, s"int8 recall $recall")
  }

  test("IVF+int8 ANN: recall vs brute force; probing all lists equals the int8 full scan") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val got = Similarity.ivfInt8TopK(embs, queries, k = 5, nCentroids = 16, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.8, s"ivf+int8 recall $recall")
    // probing EVERY list degenerates to the int8 full scan — identical
    // rows, proving the only extra approximation vs int8TopK is the probe
    val full = Similarity.int8TopK(embs, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"), r.getAs[Int]("rank"))).toSet
    val allProbe = Similarity.ivfInt8TopK(embs, queries, k = 5, nCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"), r.getAs[Int]("rank"))).toSet
    assert(allProbe == full)
  }

  test("sessionize: 30-min gap splits sessions; exact-gap boundary event merges (inclusive end)") {
    val s2 = spark
    import s2.implicits._
    def us(min: Long) = min * 60L * 1000000L
    val ev = Seq(
      (1L, us(0)), (1L, us(10)), (1L, us(50)),   // user 1: [0,10] then [50]
      (2L, us(0)), (2L, us(30)),                 // user 2: exact 30-min gap -> MERGED (end inclusive)
      (3L, us(0)), (3L, us(29))                  // user 3: 29-min gap -> one session
    ).toDF("user_id", "us")
      .select(col("user_id"), expr("timestamp_micros(us)").as("ts"))
    val r = graft.operators.Sessions.sessionize(ev, gapMinutes = 30)
      .collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("session_start_us"),
                 x.getAs[Long]("session_end_us"), x.getAs[Long]("n_events")))
      .toSet
    assert(r == Set(
      (1L, us(0), us(40), 2L),   // end = last event + gap
      (1L, us(50), us(80), 1L),
      (2L, us(0), us(60), 2L),   // boundary event IS merged: session end is inclusive
      (3L, us(0), us(59), 2L)
    ))
  }

  test("duplicate spans: overlapping dup windows merge into one maximal span; separated spans stay apart") {
    // docs 1 and 2 share a 10-token prefix (3 overlapping 8-windows at
    // pos 0,1,2 -> ONE span [0,9]) and a separate 8-token suffix starting
    // after unique middles of different lengths
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val tailSeq = (1 to 8).map(i => s"e$i").mkString(" ")
    val d = docDf(
      (1L, s"$shared m1 m2 m3 $tailSeq"),
      (2L, s"$shared n1 n2 n3 n4 n5 $tailSeq"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    )
    val spans = TextAnalysis.duplicateSpans(d, w = 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
                 r.getAs[Int]("span_end"), r.getAs[Long]("n_windows"), r.getAs[Int]("span_tokens")))
      .toSet
    // doc 1: prefix span pos 0..2 -> [0, 9]; suffix at pos 13 -> [13, 20]
    // doc 2: prefix [0, 9]; suffix at pos 15 -> [15, 22]; doc 3: nothing
    assert(spans == Set(
      (1L, 0, 9, 3L, 10),
      (1L, 13, 20, 1L, 8),
      (2L, 0, 9, 3L, 10),
      (2L, 15, 22, 1L, 8)
    ))
  }

  test("duplicate spans: adjacent windows (gap == w) merge; gap > w splits") {
    // one 8-window at pos 0 and another at pos 8: covered ranges [0,7] and
    // [8,15] touch -> one span. At pos 17 the range [17,24] leaves token 16
    // uncovered -> separate span.
    val blockA = (1 to 8).map(i => s"a$i").mkString(" ")
    val blockB = (1 to 8).map(i => s"b$i").mkString(" ")
    val blockC = (1 to 8).map(i => s"c$i").mkString(" ")
    val d = docDf(
      (1L, s"$blockA $blockB x $blockC"),      // dup windows at 0, 8, 17
      (2L, s"$blockA $blockB y yy $blockC"),   // same blocks, different gaps
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")
    )
    val spans = TextAnalysis.duplicateSpans(d, w = 8)
      .filter(col("doc_id") === 1L).collect()
      .map(r => (r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
      .toSet
    // windows 0 and 8 merge ([0,15]); 17 is its own span ([17,24])
    assert(spans == Set((0, 15), (17, 24)))
  }

  test("bloom decontamination equals the exact decontamination summary (no false negatives)") {
    val exact = Dedup.decontaminationPairs(docs)
      .groupBy("train_doc_id")
      .agg(countDistinct("test_doc_id").as("n_test_docs"), max("n_shared").as("max_shared"))
      .collect()
      .map(r => (r.getAs[Long]("train_doc_id"), r.getAs[Long]("n_test_docs"), r.getAs[Long]("max_shared")))
      .toSet
    val bloomed = Dedup.bloomDecontamination(docs).collect()
      .map(r => (r.getAs[Long]("train_doc_id"), r.getAs[Long]("n_test_docs"), r.getAs[Long]("max_shared")))
      .toSet
    assert(bloomed == exact)
    // an aggressively undersized bloom (high FP rate) still yields the
    // exact output — false positives die in the verify join
    val tiny = Dedup.bloomDecontamination(docs, estItems = 8L, numBits = 64L).collect()
      .map(r => (r.getAs[Long]("train_doc_id"), r.getAs[Long]("n_test_docs"), r.getAs[Long]("max_shared")))
      .toSet
    assert(tiny == exact)
  }

  test("tfidf top-k: ranks bounded, scores non-increasing, rare term outranks ubiquitous term") {
    val common = "alpha"
    val d = docDf(
      (1L, s"$common rareword $common"), // alpha tf=2 df=4 -> 2.0; rareword tf=1 df=1 -> 2.5
      (2L, s"$common other1 other2"),
      (3L, s"$common other3 other4"),
      (4L, s"$common other5 other6")
    )
    val r = TextAnalysis.tfidfTopK(d, k = 3).collect()
    val byDoc = r.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // rareword (df=1) beats alpha (df=4) in doc 1 despite equal tf
    val doc1 = byDoc(1L).sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("token"))
    assert(doc1.indexOf("rareword") < doc1.indexOf(common))
  }

  test("duplicate-span removal: spans cut, unique docs pass through normalized, idempotent") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val tailSeq = (1 to 8).map(i => s"e$i").mkString(" ")
    val d = docDf(
      (1L, s"$shared m1 m2 m3 $tailSeq"),   // 21 tokens, spans [0,9]+[13,20] -> keep m1 m2 m3
      (2L, s"$shared n1 n2 n3 n4 n5 $tailSeq"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    )
    val r = TextAnalysis.removeDuplicateSpans(d, w = 8).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("clean_text"), x.getAs[Long]("n_tokens"),
         x.getAs[Long]("n_tokens_kept"), x.getAs[Long]("n_tokens_removed"))).toMap
    assert(r(1L) == ("m1 m2 m3", 21L, 3L, 18L))
    assert(r(2L) == ("n1 n2 n3 n4 n5", 23L, 5L, 18L))
    assert(r(3L) == ("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 10L, 10L, 0L))
    // idempotence: the cleaned corpus has no duplicated spans left
    val cleaned = r.toSeq.map { case (id, (t, _, _, _)) => (id, t) }
    val again = TextAnalysis.removeDuplicateSpans(docDf(cleaned: _*), w = 8)
    assert(again.filter(col("n_tokens_removed") > 0).count() == 0)
  }

  test("corpus report: totals line up with the per-doc decisions") {
    val report = graft.operators.Corpus.corpusReport(docs).collect()
    val decisions = graft.operators.Corpus.corpusFilter(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .join(TextAnalysis.tokenStats(docs).select("doc_id", "n_tokens"), Seq("doc_id"))
      .cache()
    assert(report.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(report.map(_.getAs[Long]("n_kept_docs")).sum ==
      decisions.filter(col("kept")).count())
    val tokSum = decisions.agg(sum(col("n_tokens").cast("long"))).head().getLong(0)
    assert(report.map(_.getAs[Long]("n_tokens")).sum == tokSum)
    decisions.unpersist()
  }

  test("top n-grams: counts all occurrences, ordered by frequency then gram, capped at k") {
    val d = docDf(
      (1L, "a b c a b c a b c"), // "a b c" x3 (+ "b c a" x2, "c a b" x2)
      (2L, "a b c x y z"),
      (3L, "x y z q")
    )
    val r = TextAnalysis.topNgrams(d, w = 3, k = 3).collect()
      .map(x => (x.getAs[String]("gram"), x.getAs[Long]("n")))
    assert(r.length == 3)
    assert(r.head == ("a b c", 4L)) // 3 in doc 1 + 1 in doc 2
    // remaining two both have n=2; tie broken by gram ascending
    assert(r(1) == ("b c a", 2L) && r(2) == ("c a b", 2L))
  }

  test("corpus filter: exact dups and non-train docs are dropped; decisions line up with components") {
    val r = graft.operators.Corpus.corpusFilter(docs).cache()
    assert(r.count() == docs.count()) // one decision per document
    // no kept doc may be a duplicate, fail quality, be contaminated, or sit outside train
    assert(r.filter(col("kept") &&
      (col("is_exact_dup") || !col("passes_quality") ||
        col("is_contaminated") || col("split") =!= "train")).count() == 0)
    // every train doc passing all gates is kept
    assert(r.filter(!col("kept") && col("split") === "train" && col("passes_quality") &&
      !col("is_exact_dup") && !col("is_contaminated")).count() == 0)
    // cross-check the contamination flag against the pair operator
    val contam = Dedup.decontaminationPairs(docs)
      .select(col("train_doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val flagged = r.filter(col("is_contaminated")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flagged == contam)
    r.unpersist()
  }
}
