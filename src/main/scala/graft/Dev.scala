package graft

import org.apache.spark.sql.functions._
import graft.model.PipelineConfig
import graft.operators.{Assemble, Corpus, Dedup, Similarity, TextAnalysis}
import graft.sources.{DocGen, TranscriptGen, Transcripts}

/** Dev harness: the non-graded measurements behind BENCH/BASELINE.md and
  * OPTIMIZATION_r06.md, one mode per measurement, every timing through
  * [[Bench.timed]]. The graded mains ([[Bench]], [[Verify]]) are separate.
  *
  * Usage: `dev/run.sh graft.Dev <mode> [args]` (see [[usage]]).
  */
object Dev {

  val usage: String =
    """usage: graft.Dev <mode> [args]
      |  pipeline                 per-output pipeline breakdown over the 2.2M-turn generated table
      |  pipeline-sf              the same over the sf-derived table
      |  noop <query>...          each SparkEntry query written to the noop sink
      |  sqlaudit                 WindowGroupLimit audit of the SQL table functions
      |  explain [query] [sfDir] [cores]
      |                           AQE-final plan of one query, with exchange and codegen counts
      |  docscale [nDocs] [cores] the document and embedding operators on a generated corpus
      |  scaling-arm <cores> <nConvs> <turnsPerConv> <repeats>
      |                           one taskset-pinned arm of dev/scaling.sh
      |pipeline, pipeline-sf, noop and sqlaudit read SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS.""".stripMargin

  val modes: Map[String, Array[String] => Unit] =
    Seq("pipeline", "pipeline-sf", "noop", "sqlaudit").map(m => m -> parts(m) _).toMap ++ Map(
      "explain" -> explain _,
      "docscale" -> docScale _,
      "scaling-arm" -> scalingArm _
    )

  /** Run the mode named by `args.head` on the remaining arguments; an
    * unknown or missing mode prints [[usage]] and returns a non-zero
    * exit code without starting a session. */
  def run(args: Array[String]): Int =
    args.headOption.flatMap(modes.get) match {
      case Some(mode) =>
        mode(args.tail)
        0
      case None =>
        Console.err.println(usage)
        2
    }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  private def json(results: collection.Map[String, Double]): String =
    results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The per-part modes: each part timed under its own job description,
    * then one JSON line of part seconds. The noop sink isolates a query's
    * computation from any sink cost. */
  private def parts(mode: String)(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def record[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val (a, sec) = Bench.timed(f)
      results(name) = sec
      spark.sparkContext.setJobDescription(null)
      a
    }

    mode match {
      case "pipeline" | "pipeline-sf" =>
        val turns =
          if (mode == "pipeline-sf") Transcripts.fromEvents(spark, sfDir)
          else TranscriptGen.synthetic(spark, nConvs = 390000L, turnsPerConv = 5,
            hotConvs = 5, hotFactor = 10000)
        // Pipeline.run itself performs the eager conv cache fill, so its
        // construction is a recorded part: totals stay comparable with
        // Bench's timed(forceAll(Pipeline.run(...)))
        val out = record("run.construct")(Pipeline.run(spark, turns, PipelineConfig.default))
        record("enriched.count")(out.enriched.count())
        record("routing.count")(out.routing.count())
        record("routedTurns.count")(out.routedTurns.count())
        record("traceCounts.count")(out.traceCounts.count())
        record("sampledTraceCounts.count")(out.sampledTraceCounts.count())
        record("spanCounts.count")(out.spanCounts.count())
        record("sampledSpanCounts.count")(out.sampledSpanCounts.count())
        record("redRollup.count")(out.redRollup.count())
        record("latencyHistogram.count")(out.latencyHistogram.count())
        record("unpersistAll")(out.unpersistAll())
      case "sqlaudit" =>
        // do the unthresholded ranked views behind the SQL table functions
        // still execute the function's rank filter as a WindowGroupLimit
        // (bounded per-partition heaps), or does graft_ann_topk(3) rank the
        // entire corpus per query?
        SqlSurface.registerDocOps(spark, sfDir)
        Seq(
          "ann_topk" -> "SELECT * FROM graft_ann_topk(3)",
          "tfidf_topk" -> "SELECT * FROM graft_tfidf_topk(3)",
          "minhash_at" -> "SELECT * FROM graft_minhash_pairs_at(0.7)"
        ).foreach { case (name, sql) =>
          val df = spark.sql(sql)
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          val wgl = plan.linesIterator.count(_.contains("WindowGroupLimit"))
          val win = plan.linesIterator.count(_.contains("Window ["))
          println(s"[sqlaudit] $name WindowGroupLimit=$wgl Window=$win")
        }
      case "noop" =>
        args.foreach { q =>
          record(q)(SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
    }

    println(s"""{"metric":"dev","mode":"$mode","total":${results.values.sum},"parts":${json(results)}}""")
    CacheBook.release()
    spark.stop()
  }

  /** Execute one SparkEntry query and print its final (AQE-resolved)
    * physical plan: the plan-audit loop for exchange reuse, pushdown and
    * codegen spans. */
  private def explain(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q04_routing")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.local(if (args.length > 2) args(2).toInt else 4)
    val df = SparkEntry.queries(name)(spark, sfDir)
    val n = df.collect().length // materialize THIS plan so AQE finalizes it
    val plan = df.queryExecution.executedPlan.toString
    println(s"=== $name rows=$n ===")
    println(s"ReusedExchange nodes: ${plan.linesIterator.count(_.contains("ReusedExchange"))}")
    println(s"Exchange nodes: ${plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))}")
    println(s"WholeStageCodegen spans: ${"\\*\\(\\d+\\)".r.findAllIn(plan).map(_.toString).toSet.size}")
    println(plan)
    spark.stop()
  }

  /** Scale run of the document operators: a generated corpus far beyond
    * the sf tables (ground-truth near-dup groups, no files), each bucketed
    * operator timed by forcing its count, candidate counters via the
    * telemetry listener. */
  private def docScale(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = Session.local(if (args.length > 1) args(1).toInt else 32)
    val telemetry = Telemetry.register(spark)

    val docs = DocGen.synthetic(spark, nDocs).cache()
    val nd = docs.count() // generation outside the timed ops

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def t(name: String)(f: => Long): Unit = {
      val (n, sec) = Bench.timed(f)
      results(name) = sec
      System.err.println(f"[docscale] $name: $n rows in $sec%.2fs")
    }

    t("exact_dedup") { Dedup.exact(docs).filter(col("is_duplicate")).count() }
    // mega-duplicate-group skew case: plant ONE fingerprint group holding
    // half the corpus (the 10^8x-duplicated boilerplate page of a real
    // crawl). The groupBy+join-back form must stay flat — a raw-row
    // window over `fingerprint` funnels the whole group through a single
    // task.
    t("exact_dedup_megagroup") {
      val planted = docs.withColumn(
        "text",
        when(pmod(col("doc_id"), lit(2)) === 0, lit("same boilerplate page"))
          .otherwise(col("text")))
      Dedup.exact(planted).filter(col("is_duplicate")).count()
    }
    t("minhash_pairs") { Dedup.minhashLshPairs(docs, w = 3, minEstimate = 0.5).count() }
    t("simhash_pairs") { Dedup.simhashPairs(docs, maxHamming = 6).count() }
    t("jaccard_pairs") { Dedup.ngramJaccardPairs(docs, w = 3, minJaccard = 0.5, maxDocFreq = 50).count() }
    t("winnowing") { Dedup.winnowingFingerprints(docs).count() }
    t("dup_clusters") {
      Dedup.duplicateClusters(docs, Dedup.minhashLshPairs(docs, w = 3, minEstimate = 0.5))
        .filter(!col("is_canonical")).count()
    }
    t("decontam") { Dedup.decontaminationPairs(docs, maxDocFreq = 50).count() }
    t("pack") { Assemble.packSequences(docs).count() }
    t("chunks") { Assemble.chunk(docs).count() }
    t("token_stats") { TextAnalysis.tokenStats(docs).count() }
    t("dup_span_removal") {
      TextAnalysis.removeDuplicateSpans(docs).filter(col("n_tokens_removed") > 0).count()
    }
    t("top_ngrams") { TextAnalysis.topNgrams(docs).count() }
    t("len_percentiles") { TextAnalysis.lengthPercentiles(docs).count() }
    t("token_budget") {
      Corpus.tokenBudgetSample(docs, budgetTokens = nDocs * 40L).filter(col("kept")).count()
    }
    // planted near-dup groups span sources (consecutive doc_ids, mod-20
    // source) so cross-source shared fingerprints exist by construction
    val srcDocs = docs.withColumn(
      "source", concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string")))
    t("source_overlap") { Corpus.sourceOverlap(srcDocs, maxDocFreq = 50).count() }

    // embedding-side operators at the same scale (planted-group vectors)
    val embs = DocGen.syntheticEmbeddings(spark, nDocs).cache()
    embs.count()
    val queries = embs.filter(col("vec_id") < 50)
    // bucket count must track corpus size: nPlanes ~ log2(n) keeps the
    // expected bucket occupancy (and so the candidate volume) flat — the
    // default 6 planes = 64 buckets is a test-scale setting
    val nPlanes = math.max(6, (math.log(nDocs.toDouble / 10) / math.log(2)).ceil.toInt)
    t("ann_lsh_topk") { Similarity.lshTopK(embs, queries, k = 5).count() }
    t("ann_ivf_topk") { Similarity.ivfTopK(embs, queries, k = 5).count() }
    t("cosine_pairs") { Similarity.nearDupPairs(embs, threshold = 0.9, nPlanes = nPlanes).count() }
    t("semantic_clusters") {
      Similarity.semanticClusters(embs, threshold = 0.9, nPlanes = nPlanes)
        .filter(!col("is_canonical")).count()
    }

    println(
      s"""{"metric":"doc_scale","n_docs":$nd,"ops_sec":${json(results)},"telemetry":${telemetry.toJson}}"""
    )
    spark.stop()
  }

  /** One arm of `dev/scaling.sh`: the full job (pipeline plus every sink)
    * at `cores` parallelism, a warm-up then `repeats` timed jobs, min
    * reported. The script pins the whole JVM, worker threads AND GC, to
    * `cores` CPUs with taskset, which models an N-core executor: in-JVM
    * parallelism alone lets a low-parallelism run borrow the idle cores'
    * memory bandwidth and GC threads and overstate its throughput.
    * Shuffle, spill and sink output go to Spark's local dirs
    * (`SPARK_LOCAL_DIRS`). */
  private def scalingArm(args: Array[String]): Unit = {
    val Array(cores, nConvs, turnsPerConv, repeats) = args
    val spark = Session.local(cores.toInt)
    // returns the turn count and a cleanup thunk (unpersist + output
    // delete), so teardown stays OUT of the timed window
    def job(): (Long, () => Unit) = {
      val gen = TranscriptGen.synthetic(spark, nConvs.toLong, turnsPerConv.toInt,
        hotConvs = 5, hotFactor = 1000, partitions = Some(cores.toInt))
      val dir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory()), "graft_scale")
      val out = Pipeline.run(spark, gen)
      Pipeline.writeSinks(out, dir.toString, lineage = false)
      // turn count from the observation riding the enriched scan — no
      // extra count action
      val turns = out.observation.get("turns_enriched").asInstanceOf[Long]
      (turns, () => {
        out.unpersistAll()
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      })
    }
    try {
      job()._2.apply() // warm-up
      val runs = (1 to repeats.toInt).map { _ =>
        val ((turns, cleanup), sec) = Bench.timed(job())
        cleanup()
        (turns, sec)
      }
      val turns = runs.head._1
      val sec = runs.map(_._2).min
      println(f"""{"arm":${cores.toInt},"turns":$turns,"sec":$sec%.2f,"turns_per_sec":${(turns / sec).toLong}}""")
    } finally spark.stop()
  }
}
