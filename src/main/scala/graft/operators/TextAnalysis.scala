package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over a
  * `documents(doc_id, text, lang, source, n_chars)` table: token counting,
  * quality scoring, language identification, document fingerprinting.
  *
  * All pure Catalyst expressions (codegen'd, no UDFs): at 100 TB these run
  * as a single projection over the scan with full column pruning — no
  * shuffle at all until an aggregation keyed on their outputs.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped (robust to leading/trailing/
    * repeated whitespace; identical semantics in the DuckDB oracle). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token statistics: counts + length aggregates per document. */
  /** BPE-style pre-tokenizer pattern: letter runs, digit runs, single
    * other-symbol — the GPT-2 pre-tokenizer shape reduced to DISJOINT
    * character classes, so Java regex (Spark) and RE2 (DuckDB) agree
    * exactly (no alternation-ambiguity, no lookahead, which RE2 lacks). */
  val bpeTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"

  def tokenStats(docs: DataFrame): DataFrame =
    // tokenize ONCE into a materialized column: higher-order functions are
    // interpreted (no codegen subexpression elimination), so the inline
    // form re-ran the whitespace split per consuming expression. The
    // two-step projection survives CollapseProject because the alias is
    // non-cheap and referenced more than once.
    docs
      .select(col("doc_id"), col("n_chars"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        // BPE-ish subword estimate: ~1 token per 4 chars, word-boundary capped
        greatest(size(col("toks")), floor(length(col("text")) / lit(4)).cast("int"))
          .as("n_tokens_bpe_est"),
        // BPE-ish regex token count (the pre-tokenizer pass of a real BPE)
        size(regexp_extract_all(col("text"), lit(bpeTokenPattern), lit(0))).as("n_tokens_re")
      )

  /** Common-English stopwords used by the quality heuristics. */
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for", "with", "as", "at", "by")

  /** Quality scoring: length, punctuation/digit/space ratios, stopword
    * ratio, repetition — the usual pre-training quality gates (C4/Gopher
    * style rules), deterministic arithmetic only.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    // tokenize and regex-strip ONCE each into materialized columns (the
    // inline form re-evaluated the interpreted token split 4x and each
    // regexp_replace 2x per row); arithmetic over the counts is identical
    // expression-for-expression, so outputs are bit-equal. The stacked
    // projections survive CollapseProject (non-cheap aliases, multi-use).
    val counted = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks_i"),
        size(filter(col("toks"), t => t.isin(stopwordsEn: _*))).cast("double").as("n_stop"),
        length(col("text")).cast("double").as("n_chars_d"),
        (length(col("text")).cast("double") -
          length(regexp_replace(col("text"), "[.,;:!?'\"]", ""))).cast("double").as("n_punct"),
        (length(col("text")).cast("double") -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("double").as("n_digit"),
        size(array_distinct(col("toks"))).as("n_distinct_i")
      )
    val nToks = col("n_toks_i").cast("double")
    val distinctRatio = col("n_distinct_i").cast("double") / nToks
    counted.select(
      col("doc_id"),
      col("n_toks_i").as("n_tokens"),
      (col("n_stop") / nToks).as("stopword_ratio"),
      (col("n_punct") / col("n_chars_d")).as("punct_ratio"),
      (col("n_digit") / col("n_chars_d")).as("digit_ratio"),
      distinctRatio.as("distinct_token_ratio"),
      // gates: enough tokens, some stopwords, not digit/punct soup, not repetitive
      (col("n_toks_i") >= 10 && col("n_stop") / nToks > 0.01 &&
        col("n_punct") / col("n_chars_d") < 0.2 && col("n_digit") / col("n_chars_d") < 0.2 &&
        distinctRatio > 0.1).as("passes_quality")
    )
  }

  /** Tiny per-language marker wordlists for the n-gram/stopword language-ID
    * heuristic. Real deployments plug in fastText-style models via the same
    * column contract.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur")
  )

  /** Language ID: argmax of marker-word hit counts, deterministic tie-break
    * by language code; "und" (undetermined) when nothing matches.
    */
  def languageId(docs: DataFrame): DataFrame = {
    // one materialized token split shared by all four marker counters
    // (same single-tokenize shape as tokenStats/qualityScore)
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(col("toks"), t => t.isin(words: _*)))
    }
    val withScores = docs
      .select(col("doc_id"), col("lang").as("lang_meta"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id") +: col("lang_meta") +:
          scored.map { case (lang, cnt) => cnt.as(s"score_$lang") }: _*
      )
    withScores
      .withColumn(
        "lang_pred",
        when(
          greatest(scored.map(s => col(s"score_${s._1}")): _*) === 0,
          "und"
        ).otherwise(pickArgmax(scored.map(_._1)))
      )
      .select("doc_id", "lang_meta", "lang_pred")
  }

  /** Deterministic argmax over score_<lang> columns: highest score wins,
    * first language in (alphabetical) order wins ties. */
  private def pickArgmax(langs: Seq[String]): Column = {
    val maxScore = greatest(langs.map(l => col(s"score_$l")): _*)
    langs.foldRight(lit(null).cast("string")) { (lang, acc) =>
      when(col(s"score_$lang") === maxScore, lang).otherwise(acc)
    }
  }

  /** Document fingerprint: hash of whitespace-normalized lowercase text —
    * the canonical key for exact dedup and incremental re-ingest. md5 so
    * the DuckDB oracle reproduces it byte-for-byte.
    */
  /** Deterministic stratified sampling: per-language keep rates applied
    * through a stable hash bucket (md5lower64, the cross-engine hash),
    * so the sample is reproducible under re-runs, repartitioning, and
    * corpus growth — the rebalancing step a multilingual training mix
    * needs (downsample the head language, keep the tail). Languages not
    * in `rates` keep everything. Pure projection, no shuffle.
    */
  def stratifiedSample(
      docs: DataFrame,
      rates: Map[String, Double],
      salt: String = "strat"
  ): DataFrame = {
    val bucket = pmod(
      graft.functions.Hash64
        .md5lower64(concat(col("doc_id").cast("string"), lit(":" + salt)))
        .bitwiseAND(lit(Long.MaxValue)),
      lit(1000L)
    )
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs.select(
      col("doc_id"),
      col("lang"),
      bucket.as("bucket"),
      rate.as("sample_rate"),
      // round() on both engines: a truncating cast disagrees with the
      // oracle's rounding CAST whenever rate*1000 is not exactly integral
      (bucket < round(rate * 1000.0).cast("long")).as("kept")
    )
  }

  /** Intra-document repetition statistics (the Gopher-style repetition
    * signal): total vs distinct w-gram counts and the repeated-gram
    * ratio. Uses the one-pass posexplode+lead gram derivation (no
    * interpreted HOF re-tokenization); documents shorter than w tokens
    * have zero grams and ratio 0.
    */
  def repetitionStats(docs: DataFrame, w: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok"))
    )
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until w).foldLeft(toks) { (df, o) =>
      df.withColumn(s"t$o", lead(col("tok"), o).over(win))
    }
    val grams = leads
      .filter(col(s"t${w - 1}").isNotNull)
      .select(
        col("doc_id"),
        concat_ws(" ", col("tok") +: (1 until w).map(o => col(s"t$o")): _*).as("gram")
      )
    val stats = grams
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct("gram").as("n_distinct_grams")
      )
    docs
      .select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(
            lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams").cast("double")
          )
          .as("rep_ratio")
      )
  }

  /** PII-ish pattern detection + scrubbing — the redaction pass a
    * training corpus runs before anything else. Patterns are kept to
    * RE2-compatible syntax (no lookaround, no backreferences) so the
    * Java-regex (Spark) and RE2 (DuckDB oracle) semantics coincide.
    * Emits per-pattern match counts and the text with every match
    * replaced by a typed placeholder; pure projection, no shuffle.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, placeholder)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
    ("phone", "\\+[0-9]{7,15}\\b", "[PHONE]")
  )

  def piiStats(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).as(s"n_$name")
    }
    val scrubbed = piiPatterns.foldLeft(col("text")) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    docs.select(
      col("doc_id") +: counts :+
        scrubbed.as("scrubbed_text") :+
        (col("text") =!= scrubbed).as("had_pii"): _*
    )
  }

  /** Cross-document duplicate-passage detection: every w-token passage
    * whose hash occurs in MORE THAN ONE distinct document, located by
    * (doc_id, token position) — the near-verbatim-reuse signal a
    * training corpus scans for before dedup decisions at sub-document
    * granularity (boilerplate headers, license blocks, templated spans).
    *
    * Scale shape: the passage derivation is the one-pass posexplode +
    * lead window (O(tokens), partitioned by doc); the duplicate dim is a
    * partial-aggregable groupBy over passage hashes (count distinct docs
    * approximated exactly by the two-level groupBy — no giant
    * countDistinct state); the join back is an equi-join on the hash.
    * No document ever cross-joins another.
    */
  def duplicatePassages(docs: DataFrame, w: Int = 8): DataFrame = {
    val passages = passageHashes(docs, w)
    val dupDim = passages
      .groupBy("passage_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
    passages
      .join(dupDim, Seq("passage_hash"))
      .select("doc_id", "pos", "passage_hash", "n_docs")
  }

  /** (doc_id, pos, passage_hash) for every w-token window — the shared
    * derivation of [[duplicatePassages]] and [[duplicateSpans]]: one-pass
    * posexplode + lead window, O(tokens), partitioned by doc. */
  private def passageHashes(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok"))
    )
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until w).foldLeft(toks) { (df, o) =>
      df.withColumn(s"t$o", lead(col("tok"), o).over(win))
    }
    // cached: every consumer (duplicatePassages, duplicateSpans and its
    // removal form) feeds this relation into BOTH the duplicate-hash dim
    // aggregation and the join back — uncached, only the posexplode
    // exchange is reused and the w-lead window + per-window md5 run once
    // PER consumer branch (plan-audited). Same multi-consumer pattern as
    // the q25 shingle / q26 signature caches; rows are (doc_id, pos,
    // 32-char hash), released via CacheBook.
    graft.CacheBook.cached(
      leads
        .filter(col(s"t${w - 1}").isNotNull)
        .select(
          col("doc_id"),
          col("pos"),
          md5(concat_ws(" ", col("tok") +: (1 until w).map(o => col(s"t$o")): _*))
            .as("passage_hash")
        )
    ).toDF()
  }

  /** Maximal duplicated-substring spans — the interval form of exact
    * substring deduplication (Lee et al. 2022's ExactSubstr, at token
    * granularity): every token range of a document covered by w-token
    * passages that occur in more than one document, with overlapping /
    * adjacent duplicated windows MERGED into maximal spans. The span
    * list is what a dedup pipeline actually cuts out of the text (vs
    * [[duplicatePassages]]'s raw window hits).
    *
    * A window at position p covers tokens [p, p+w-1]; two duplicated
    * windows p1 < p2 belong to one span when p2 - p1 <= w (their covered
    * ranges overlap or touch). Gaps-and-islands over (doc_id, pos):
    * lag + running sum of span starts, then one groupBy per span — every
    * window partitions by doc_id, so distribution is per-document, and
    * the duplicate dim is the same partial-aggregable hash groupBy as
    * q44's. Returns (doc_id, span_start, span_end, n_windows,
    * span_tokens) in token positions, inclusive.
    */
  def duplicateSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val passages = passageHashes(docs, w)
    val dupDim = passages
      .groupBy("passage_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select("passage_hash")
    val dupPos = passages.join(dupDim, Seq("passage_hash")).select("doc_id", "pos")
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val flagged = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(win))
      .withColumn(
        "new_span",
        (col("prev").isNull || col("pos") - col("prev") > w).cast("int")
      )
    flagged
      .withColumn(
        "span_id",
        sum("new_span").over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .groupBy("doc_id", "span_id")
      .agg(
        min("pos").as("span_start"),
        (max("pos") + w - 1).as("span_end"),
        count(lit(1)).as("n_windows")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        col("n_windows"),
        (col("span_end") - col("span_start") + 1).as("span_tokens")
      )
  }

  /** Duplicated-span REMOVAL: re-emit each document's text with every
    * [[duplicateSpans]] interval cut out (tokens re-joined by single
    * spaces) — the ExactSubstr dedup's actual output artifact. Documents
    * with no duplicated spans pass through with whitespace-normalized
    * text (the same canonical form the fingerprint uses). Re-running the
    * operator on its own output removes nothing new PROVIDED the stitched
    * junctions (tokens made adjacent by a cut) introduce no new
    * cross-document w-grams; cutting can in principle create such grams,
    * so a second pass may remove more on adversarial corpora — iterate to
    * fixpoint when that matters (the fixture test covers the common case
    * where junctions stay unique).
    *
    * Scale shape: the span relation joins back to the token explode on
    * doc_id (per-doc bounded, the same partitioning every window here
    * already uses), a token survives when NO span covers its position
    * (left anti join on a range predicate per doc), and the rebuild is
    * one groupBy(doc_id) concat over position-sorted survivors.
    */
  def removeDuplicateSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    val spans = duplicateSpans(docs, w).select("doc_id", "span_start", "span_end")
    val toks = docs.select(
      col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok"))
    )
    val kept = toks
      .join(
        spans,
        toks("doc_id") === spans("doc_id") &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_anti"
      )
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("tok"))))
          .getField("tok")).as("clean_text"),
        count(lit(1)).as("n_tokens_kept")
      )
    docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("n_tokens") - coalesce(col("n_tokens_kept"), lit(0L))).as("n_tokens_removed")
      )
  }

  /** Per-document top-k TF-IDF terms over the corpus vocabulary — the
    * keyword/topic-signal pass built on [[vocabStats]]' df dim. The idf
    * is the log-free rational form (n_docs + 1) / (df + 1): score-rank
    * equivalent per token and EXACTLY reproducible cross-engine (integer
    * products below 2^53 and one correctly-rounded division — natural log
    * is not correctly-rounded in either engine's libm, which would break
    * hash parity on ties near the k boundary).
    *
    * Scale shape: tf is a partial-aggregable groupBy over the token
    * explode; the df dim equi-joins on token; the corpus size rides a
    * broadcast 1-row relation (kept lazy — no driver action); the top-k
    * filter is row_number over (doc_id), which Spark executes as
    * WindowGroupLimit (per-partition bounded heaps, map-side, before the
    * doc_id shuffle). Ties break deterministically by token.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    // df falls out of the tf relation (exactly one row per (doc, token)),
    // so the corpus is tokenized ONCE; the tf aggregate feeds both the
    // dim and the join through one reused exchange
    val dfDim = tf
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val win = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(dfDim, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        col("tf").cast("double") * (col("n_docs") + 1).cast("double")
          / (col("df") + 1).cast("double")
      )
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rank")
  }

  /** Corpus vocabulary statistics: per-token total term frequency and
    * document frequency — the vocabulary-building / df-weighting pass of
    * a tokenizer or TF-IDF pipeline. One explode + one partial-aggregable
    * groupBy; df comes from the per-doc DISTINCT token explode so the
    * aggregation state never holds a doc set. */
  def vocabStats(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"))
    val df = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
    tf.join(df, Seq("token")).select("token", "tf", "df")
  }

  /** Corpus-wide top-k most frequent w-grams (ALL occurrences, unlike
    * the per-doc-distinct shingle sets) — the stop-phrase / boilerplate
    * discovery pass that feeds df caps and filter rules. The global
    * top-k executes as TakeOrderedAndProject over the partial-aggregated
    * gram counts: each partition ships only its local top-k to the
    * driver, never the full vocabulary. Ties break by gram ascending.
    */
  def topNgrams(docs: DataFrame, w: Int = 3, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok"))
    )
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until w).foldLeft(toks) { (df, o) =>
      df.withColumn(s"t$o", lead(col("tok"), o).over(win))
    }
    leads
      .filter(col(s"t${w - 1}").isNotNull)
      .select(concat_ws(" ", col("tok") +: (1 until w).map(o => col(s"t$o")): _*).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
  }

  /** Exact per-language token-length percentiles (p50/p90/p99, disc
    * semantics: the smallest length whose cumulative doc count reaches
    * ceil(p*n), computed in pure integer arithmetic so both engines
    * agree bit-for-bit) — the length-distribution block of a corpus
    * data card, and the input to truncation/packing capacity choices.
    *
    * Scale shape: never a window over raw documents (lang is a
    * low-cardinality key — a per-lang row_number would funnel the corpus
    * through a handful of partitions). Instead the corpus folds
    * map-side into a (lang, n_tokens) HISTOGRAM — bounded by langs x
    * distinct lengths, ~thousands of rows at any corpus size — and the
    * cumulative scan + percentile selection run on that tiny aggregate.
    */
  def lengthPercentiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang", "n_tokens")
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("lang").orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
    // ceil(p*n) in integer math: ceil(a*n/b) = (a*n + b - 1) DIV b
    def pick(num: Int, den: Int, name: String) =
      min(when(col("cum") >= expr(s"($num * n + ${den - 1}) DIV $den"), col("n_tokens")))
        .as(name)
    cum
      .groupBy("lang")
      .agg(
        max("n").as("n_docs"),
        pick(1, 2, "p50_tokens"),
        pick(9, 10, "p90_tokens"),
        pick(99, 100, "p99_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens")
      )
  }

  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      fingerprint(col("text")).as("fingerprint"),
      substring(fingerprint(col("text")), 1, 8).as("fingerprint_short")
    )
}
