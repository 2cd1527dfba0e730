package graft

import org.apache.spark.sql.SparkSession
import graft.model.PipelineConfig
import graft.operators.{Aggregates, Dedup, Enrich, Route, Similarity, TextAnalysis}
import graft.sources.Transcripts

/** SQL-facing surface: register the engine's relations as temp views and
  * its native expressions as SQL functions, so every operator composes
  * from `spark.sql(...)` — the "query the processor's tables" surface the
  * reference exposes through its Prometheus endpoint and sink topics
  * (reference: assertsprocessor/metrics_exporter.go:22-56, the sinks of
  * sampler.go:215-276), re-expressed as Spark SQL catalog objects.
  *
  * Views are LAZY logical plans: registration costs nothing until a view
  * is queried, and Catalyst prunes/pushes through them exactly as through
  * the DataFrame API — `SELECT service FROM graft_enriched WHERE ...`
  * reads the same columns/filters a hand-built plan would. On a real
  * cluster these become permanent views (or Iceberg tables) in the
  * catalog; `local` temp views are the sandbox stand-in.
  */
object SqlSurface {

  /** Register the native expressions under their SQL names
    * ([[graft.functions.Natives]]). */
  def registerFunctions(spark: SparkSession): Unit =
    graft.functions.Natives.register(spark)

  /** Register the transcript-side pipeline relations over `sfDir` as
    * `graft_*` temp views (turns, enriched, routing, metric tables). */
  def registerPipeline(
      spark: SparkSession,
      sfDir: String,
      cfg: PipelineConfig = PipelineConfig.default
  ): Unit = {
    // re-registration over a new dir orphans the previous dir's view
    // plans — drop the internal operator caches they pinned (they refill
    // lazily if an old plan is still queried)
    graft.CacheBook.release()
    registerFunctions(spark)
    val turns = Transcripts.fromEvents(spark, sfDir)
    val enriched = Enrich.enriched(turns, spark, cfg)
    val routing = Route.convRouting(enriched, cfg)
    val rollup = Aggregates.fineRollup(enriched, cfg)
    turns.createOrReplaceTempView("graft_turns")
    enriched.createOrReplaceTempView("graft_enriched")
    Route.convDims(enriched).createOrReplaceTempView("graft_conversations")
    routing.createOrReplaceTempView("graft_routing")
    Route.routedTurns(turns, routing).createOrReplaceTempView("graft_sink_rows")
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("graft_events")
    graft.operators.Sessions
      .sessionize(spark.table("graft_events"))
      .createOrReplaceTempView("graft_sessions")
    // parameterized form: SELECT * FROM graft_sessionize(45) — a SQL TABLE
    // FUNCTION (Spark 4 SQL UDF), so the gap is a query-time argument
    // instead of a registration-time constant. The body is the
    // gaps-and-islands formulation (lag + strict-> gap flag + running sum)
    // rather than native session_window: MEASURED limitation — inside a
    // SQL function body the analyzer cannot resolve session_window's
    // output attribute (UNRESOLVED session_window.start; the aliased
    // subquery form trips MISSING_AGGREGATION), while the same SQL works
    // standalone. Semantics are pinned identical to Sessions.sessionize
    // (inclusive boundary: an exact-gap event merges — strict > here, and
    // SqlSurfaceSpec cross-checks the whole relation against the API).
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_sessionize(gap_minutes INT)
        |RETURNS TABLE (user_id BIGINT, session_start_us BIGINT, session_end_us BIGINT, n_events BIGINT)
        |RETURN SELECT user_id, min(tus) AS session_start_us,
        |  max(tus) + gap_minutes * 60000000L AS session_end_us,
        |  count(1) AS n_events
        |FROM (
        |  SELECT user_id, tus,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM (
        |    SELECT user_id, tus,
        |      CASE WHEN prev IS NULL OR tus - prev > gap_minutes * 60000000L THEN 1 ELSE 0 END AS new_s
        |    FROM (
        |      SELECT user_id, unix_micros(cast(ts AS timestamp)) AS tus,
        |        lag(unix_micros(cast(ts AS timestamp))) OVER (
        |          PARTITION BY user_id ORDER BY unix_micros(cast(ts AS timestamp))) AS prev
        |      FROM graft_events
        |    )
        |  )
        |) GROUP BY user_id, sid
        |""".stripMargin)
    Aggregates.redRollupFrom(rollup).createOrReplaceTempView("graft_red")
    Aggregates.latencyHistogramFrom(rollup).createOrReplaceTempView("graft_histogram")
    Aggregates
      .prometheusText(
        Aggregates.prometheusTable(
          Aggregates.traceCounts(Route.convDims(enriched)),
          Aggregates.sampledTraceCounts(routing),
          Aggregates.spanCounts(enriched),
          Aggregates.redRollupFrom(rollup),
          Aggregates.latencyHistogramFrom(rollup),
          Aggregates.sampledSpanCounts(enriched, routing)
        )
      )
      .createOrReplaceTempView("graft_prom_text")
  }

  /** Register the training-data operator relations over the documents /
    * embeddings tables of `sfDir` as `graft_*` temp views. */
  def registerDocOps(spark: SparkSession, sfDir: String): Unit = {
    registerFunctions(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    docs.createOrReplaceTempView("graft_documents")
    embs.createOrReplaceTempView("graft_embeddings")
    Dedup.exact(docs).createOrReplaceTempView("graft_dedup_exact")
    Dedup.minhashLshPairs(docs).createOrReplaceTempView("graft_minhash_pairs")
    Dedup
      .duplicateClusters(docs, Dedup.minhashLshPairs(docs))
      .createOrReplaceTempView("graft_dup_clusters")
    Dedup.trainSplit(docs).createOrReplaceTempView("graft_train_split")
    Dedup.decontaminationPairs(docs).createOrReplaceTempView("graft_decontam")
    TextAnalysis.tokenStats(docs).createOrReplaceTempView("graft_token_stats")
    TextAnalysis.duplicatePassages(docs).createOrReplaceTempView("graft_dup_passages")
    TextAnalysis.vocabStats(docs).createOrReplaceTempView("graft_vocab")
    TextAnalysis.qualityScore(docs).createOrReplaceTempView("graft_quality")
    TextAnalysis.languageId(docs).createOrReplaceTempView("graft_langid")
    Similarity
      .nearDupPairs(embs, threshold = 0.4)
      .createOrReplaceTempView("graft_cosine_pairs")
    TextAnalysis.duplicateSpans(docs).createOrReplaceTempView("graft_dup_spans")
    TextAnalysis.removeDuplicateSpans(docs).createOrReplaceTempView("graft_dedup_clean")
    TextAnalysis.topNgrams(docs).createOrReplaceTempView("graft_top_ngrams")
    graft.operators.Corpus.corpusFilter(docs).createOrReplaceTempView("graft_corpus_filter")
    graft.operators.Corpus.corpusReport(docs).createOrReplaceTempView("graft_corpus_report")
    graft.operators.Corpus.sourceOverlap(docs).createOrReplaceTempView("graft_source_overlap")
    TextAnalysis.lengthPercentiles(docs).createOrReplaceTempView("graft_len_percentiles")
    Similarity
      .semanticClusters(embs, threshold = 0.4)
      .createOrReplaceTempView("graft_semantic_clusters")
    // (bloom decontamination is deliberately NOT a view: its build step
    // runs a job at registration time, against the lazy-view contract —
    // SQL users get the same relation from graft_decontam_at)
    // tf-idf: the full ranked view + a query-time k cut
    TextAnalysis.tfidfTopK(docs, k = Int.MaxValue)
      .createOrReplaceTempView("graft_tfidf_ranked")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_tfidf_topk(k INT)
        |RETURNS TABLE (doc_id BIGINT, token STRING, tf BIGINT, df BIGINT, score DOUBLE, rank INT)
        |RETURN SELECT doc_id, token, tf, df, score, rank
        |FROM graft_tfidf_ranked WHERE rank <= k
        |""".stripMargin)

    // ---- parameterized table functions over the doc/embedding operators:
    // the UNTHRESHOLDED relation is registered as a lazy view and a SQL
    // table function applies the query-time argument, so the SQL surface
    // is no longer frozen at registration constants ----
    // minhash pairs: view keeps every banded candidate (estimate >= 0);
    // graft_minhash_pairs_at(0.7) filters at query time
    Dedup.minhashLshPairs(docs, minEstimate = 0.0)
      .createOrReplaceTempView("graft_minhash_scored")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_minhash_pairs_at(min_estimate DOUBLE)
        |RETURNS TABLE (doc_a BIGINT, doc_b BIGINT, est_jaccard DOUBLE)
        |RETURN SELECT doc_a, doc_b, est_jaccard
        |FROM graft_minhash_scored WHERE est_jaccard >= min_estimate
        |""".stripMargin)
    // decontamination: view keeps every overlapping (test, train) pair;
    // graft_decontam_at(3) sets the evidence bar at query time
    Dedup.decontaminationPairs(docs, minShared = 1)
      .createOrReplaceTempView("graft_decontam_scored")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_decontam_at(min_shared BIGINT)
        |RETURNS TABLE (test_doc_id BIGINT, train_doc_id BIGINT, n_shared BIGINT)
        |RETURN SELECT test_doc_id, train_doc_id, n_shared
        |FROM graft_decontam_scored WHERE n_shared >= min_shared
        |""".stripMargin)
    // ANN top-k: the ranked view carries every (query, neighbor, rank);
    // graft_ann_topk(3) cuts at query time. (At corpus scale the ranked
    // view would be capped at the max supported k; the rank filter stays
    // a WindowGroupLimit either way.)
    Similarity.bruteForceTopK(embs, embs.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
        k = Int.MaxValue)
      .createOrReplaceTempView("graft_ann_ranked")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_ann_topk(k INT)
        |RETURNS TABLE (q_id BIGINT, n_id BIGINT, rank INT, cosine DOUBLE)
        |RETURN SELECT q_id, n_id, rank, cosine
        |FROM graft_ann_ranked WHERE rank <= k
        |""".stripMargin)
    // token budget: the cumulative-tokens relation is budget-independent
    // (kept = cum <= budget), so the budget is a pure query-time argument
    graft.operators.Corpus.tokenBudgetSample(docs, budgetTokens = Long.MaxValue)
      .createOrReplaceTempView("graft_token_cum")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_token_budget(budget BIGINT)
        |RETURNS TABLE (doc_id BIGINT, lang STRING, n_tokens BIGINT, cum_tokens BIGINT, kept BOOLEAN)
        |RETURN SELECT doc_id, lang, n_tokens, cum_tokens, cum_tokens <= budget AS kept
        |FROM graft_token_cum
        |""".stripMargin)
  }
}
