package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus selection: the single call that composes
  * the quality gate ([[TextAnalysis.qualityScore]]), exact dedup
  * ([[Dedup.exact]]), the deterministic split ([[Dedup.trainSplit]]) and
  * benchmark decontamination ([[Dedup.decontaminationPairs]]) into the
  * final keep/drop decision per document — the decision table a corpus
  * build materializes before tokenization (reference analogue: the
  * sampler's multi-signal keep/drop routing, sampler.go:215-276, applied
  * to documents instead of traces).
  *
  * kept = in the train split AND passes quality AND not an exact
  * duplicate (non-canonical copy) AND not contaminated by test-split
  * overlap. Every input is a projection or an equi-join on doc_id; the
  * decontamination drop list is tiny (benchmark-sized) so its join back
  * broadcasts at any corpus scale.
  */
object Corpus {

  def corpusFilter(docs: DataFrame, minShared: Long = 2): DataFrame = {
    val qual = TextAnalysis.qualityScore(docs).select(col("doc_id"), col("passes_quality"))
    val dup = Dedup.exact(docs).select(col("doc_id"), col("is_duplicate").as("is_exact_dup"))
    val split = Dedup.trainSplit(docs).select(col("doc_id"), col("split"))
    val contam = Dedup
      .decontaminationPairs(docs, minShared = minShared)
      .select(col("train_doc_id").as("doc_id"))
      .distinct()
      .withColumn("contam_hit", lit(true))
    docs
      .select(col("doc_id"))
      .join(split, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(dup, Seq("doc_id"))
      .join(broadcast(contam), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("split"),
        col("passes_quality"),
        col("is_exact_dup"),
        coalesce(col("contam_hit"), lit(false)).as("is_contaminated"),
        (col("split") === "train" && col("passes_quality") &&
          !col("is_exact_dup") && coalesce(col("contam_hit"), lit(false)) === false)
          .as("kept")
      )
  }

  /** Corpus-build report: per (lang, split) document and token counts
    * before and after [[corpusFilter]]'s gates — the rollup a corpus
    * build publishes as its data card. One equi-join of two per-doc
    * relations on doc_id, then a partial-aggregable groupBy over a
    * (langs x 3)-row result; at 100 TB this is the cheapest query in
    * the family (pure map-side combine into a tiny key space).
    */
  /** Cross-source content-overlap matrix: for each unordered source
    * pair, how many distinct winnowing fingerprints
    * ([[Dedup.winnowingFingerprints]]) occur in BOTH sources — the
    * "which crawls near-verbatim copy each other" diagnostic that
    * decides source priority before dedup canonicalization. Fingerprints
    * seen in more than `maxDocFreq` documents are dropped first (the
    * same hot-content cap [[Dedup.decontaminationPairs]] uses), so
    * boilerplate and stop-phrases don't make every pair look similar.
    *
    * Scale shape: winnowing is per-doc bounded; the df cap is one
    * partial-aggregable groupBy whose hot list anti-joins the
    * fingerprint relation; the matrix itself is a self-equi-join of the
    * distinct (source, fp) relation ON THE FINGERPRINT — per-key fan-out
    * bounded by n_sources, never doc×doc — folded map-side into an at
    * most n_sources^2-row result.
    */
  def sourceOverlap(docs: DataFrame, maxDocFreq: Long = 20): DataFrame = {
    val fps = Dedup.winnowingFingerprints(docs)
    val hot = fps
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("fp")
    // cached: the distinct (source, fp) relation feeds BOTH self-join
    // sides — uncached, the winnowing DAG would derive twice more
    // (tiny rows: source + 64-bit fp; released via CacheBook)
    val srcFps = graft.CacheBook.cached(
      fps
        .join(broadcast(hot), Seq("fp"), "left_anti")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select("source", "fp")
        .distinct()
    )
    srcFps.as("a")
      .join(
        srcFps.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source")
      )
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_fingerprints"))
  }

  /** Deterministic per-language token-budget cap: keep documents in
    * md5-hash order (hash of doc_id — stable under re-partitioning and
    * re-runs, uncorrelated with any data property) until each
    * language's cumulative token count reaches `budgetTokens` — the
    * "give me N tokens per language, reproducibly" selection every
    * training-mix build ends with.
    *
    * Scale shape: a naive implementation is a PER-LANGUAGE GLOBAL SORT
    * + running sum — a window over raw rows partitioned by the
    * low-cardinality lang key, the one shape this codebase bans.
    * Instead the hash's TOP BYTE pre-buckets each language into 256
    * ordered slices: per-(lang, bucket) token sums fold map-side into a
    * tiny aggregate, a cumulative scan over that aggregate yields each
    * bucket's starting offset, and the per-row running sum then windows
    * by (lang, bucket) — 256× the parallelism, identical global
    * cumulative order because bucket = top bits of the very hash the
    * intra-bucket order uses. The offset dim broadcasts.
    */
  def tokenBudgetSample(
      docs: DataFrame,
      budgetTokens: Long,
      salt: String = "budget"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.Hash64
      .md5lower64(concat(col("doc_id").cast("string"), lit(":" + salt)))
      .bitwiseAND(lit(Long.MaxValue))
    val base = docs.select(
      col("doc_id"),
      col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
      h.as("h")
    ).withColumn("bucket", shiftright(col("h"), 55))
    val offsets = base
      .groupBy("lang", "bucket")
      .agg(sum("n_tokens").as("btok"))
      .withColumn(
        "offset",
        coalesce(
          sum("btok").over(
            Window.partitionBy("lang").orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))
      )
      .select("lang", "bucket", "offset")
    val intra = Window.partitionBy("lang", "bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_tokens", col("offset") + sum("n_tokens").over(intra))
      .withColumn("kept", col("cum_tokens") <= budgetTokens)
      .select("doc_id", "lang", "n_tokens", "cum_tokens", "kept")
  }

  def corpusReport(docs: DataFrame): DataFrame = {
    val decisions = corpusFilter(docs)
    val tokens = TextAnalysis.tokenStats(docs).select(col("doc_id"), col("n_tokens"))
    decisions
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .join(tokens, Seq("doc_id"))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(when(col("kept"), col("n_tokens").cast("long")).otherwise(0L)).as("n_kept_tokens")
      )
  }
}
