package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, and MinHash+LSH near-dup detection over `documents`.
  *
  * Scale design:
  *   - exact dedup is one hash-aggregate on a fingerprint (map-side
  *     partial, no data explosion);
  *   - MinHash signatures are computed per-row (projection only); the LSH
  *     band join shuffles on (band_idx, band_key) — tiny keys instead of
  *     full signatures — and candidate verification happens only within
  *     buckets, so the quadratic blow-up is bounded per bucket;
  *   - all hashes are md5-hex based so the DuckDB oracle reproduces every
  *     stage exactly (lexicographic MIN over hex strings is a valid
  *     uniform min-hash; slower than xxhash64 but portable — swap the
  *     `hashFn` for `xxhash64` when oracle parity is not required).
  */
object Dedup {

  /** Exact dedup: group by normalized-text fingerprint; the lowest doc_id
    * is the canonical survivor.
    *
    * Shape: a partial-aggregable groupBy over the fingerprint plus an
    * equi-join back, NOT a raw-row window partitioned by fingerprint —
    * a 100 TB crawl has pathological mega-duplicate groups (empty docs,
    * boilerplate pages duplicated 10^8x) and a window puts every copy of
    * one fingerprint on a single task with no map-side combine, while
    * the aggregate collapses each input partition's copies before the
    * shuffle and the join back is AQE-skew-splittable. The group dim
    * (one row per DISTINCT fingerprint) broadcasts when small and
    * shuffle-joins otherwise; either way no single-key hotspot remains.
    */
  def exact(docs: DataFrame): DataFrame = {
    val fp = TextAnalysis.fingerprint(col("text"))
    // NOT cached: the group-dim branch and the join's left side each scan
    // the pruned (doc_id, text) columns and hash once — measured CHEAPER
    // than cache machinery at bench scale (md5 of a corpus partition is
    // scan-bound), and at 100 TB the real answer is the persisted
    // fingerprint table every dedup pipeline keeps (the precomputedFps
    // pattern decontaminationPairs exposes).
    val withFp = docs.select(col("doc_id"), fp.as("fingerprint"))
    val groups = withFp
      .groupBy(col("fingerprint").as("group_fp"))
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("group_size"))
    // null-safe: NULL-text docs (NULL fingerprint) form one group, as
    // under the oracle's PARTITION BY fingerprint, instead of vanishing
    withFp
      .join(groups, col("fingerprint") <=> col("group_fp"))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_doc_id"))
      .select("doc_id", "fingerprint", "canonical_doc_id", "group_size", "is_duplicate")
  }

  /** Word w-shingles (w-grams joined by single spaces), distinct — the
    * row-level expression form. NOTE: higher-order functions are
    * interpreted (no whole-stage codegen) and re-evaluate the token split
    * per lambda element; prefer [[shingleDf]] for anything that scans
    * real data — it tokenizes each document exactly once. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(
        size(toks) >= w,
        transform(
          sequence(lit(0), size(toks) - w),
          i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o + 1)): _*)
        )
      ).otherwise(array(concat_ws(" ", toks)))
    )
  }

  /** Distinct (doc_id, shingle) rows via ONE tokenization pass: posexplode
    * the token array (split runs once per document, codegen'd), then build
    * each w-gram from `lead` over (doc_id, pos). Output equals
    * `explode(shingles(text, w))` but costs O(tokens) instead of the HOF
    * form's O(tokens * w) interpreted re-splits — the round-1 q25/q26
    * hotspot (36 s -> ~2 s at sf0.1). The window shuffles on doc_id;
    * partitions are per-document and bounded by document length.
    */
  def shingleDf(docs: DataFrame, w: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok"))
    )
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until w).foldLeft(toks) { (df, o) =>
      df.withColumn(s"t$o", lead(col("tok"), o).over(win))
    }
    val full = leads
      .filter(col(s"t${w - 1}").isNotNull)
      .select(
        col("doc_id"),
        concat_ws(" ", col("tok") +: (1 until w).map(o => col(s"t$o")): _*).as("shingle")
      )
    // documents with < w tokens contribute one whole-text shingle (possibly
    // "" for empty docs) — parity with the expression form
    val short = docs
      .filter(size(TextAnalysis.tokens(col("text"))) < w)
      .select(col("doc_id"), concat_ws(" ", TextAnalysis.tokens(col("text"))).as("shingle"))
    full.unionByName(short).distinct()
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs that share at
    * least one shingle. The inverted-index join (shingleDf self-join on
    * shingle) bounds the pair space to docs with overlap, and shingles
    * with document frequency above `maxDocFreq` are dropped first — a
    * stop-phrase gram shared by f documents would otherwise contribute
    * O(f^2) join rows, the classic quadratic hot-bucket at corpus scale.
    * The hot-shingle set is tiny by construction (few grams exceed the
    * cutoff), so the filter is a broadcast anti-join. Jaccard is computed
    * over the capped shingle sets on both sides (sizes too), keeping the
    * measure internally consistent and oracle-reproducible.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      w: Int = 3,
      minJaccard: Double = 0.2,
      maxDocFreq: Int = 1000
  ): DataFrame = {
    val inv = shingleDf(docs, w)
    val hot = inv
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("shingle")
    // cache the capped shingle relation: it feeds the self-join side a,
    // side b, AND the per-doc size aggregation — uncached, the whole
    // tokenize->shingle->anti-join DAG executes once per consumer (the
    // same repeated-derivation disease the minhashLshPairs signature
    // cache cured; rows are tiny: doc_id + shingle)
    val capped = graft.CacheBook.cached(inv.join(broadcast(hot), Seq("shingle"), "left_anti"))
    val pairs = graft.Telemetry.observeCount(
      capped.as("a")
        .join(capped.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common")),
      "jaccard_candidate_pairs"
    )
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double")
      )
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Number of MinHash permutations and LSH band layout. */
  val NumHashes = 12
  val BandSize = 3
  val NumBands: Int = NumHashes / BandSize

  /** MinHash signature: component i = MIN over shingles of
    * md5(i ':' shingle) (lexicographic over hex = uniform min-hash). */
  def minhashSignature(text: Column, w: Int = 3): Column = {
    val sh = shingles(text, w)
    array(
      (0 until NumHashes).map(i =>
        array_min(transform(sh, s => md5(concat(lit(s"$i:"), s))))
      ): _*
    )
  }

  /** Per-doc signature table, materialized through a hash aggregation over
    * the one-pass [[shingleDf]]: each of the NumHashes md5 evaluations
    * happens exactly once per (doc, shingle) — the row-level expression
    * form ([[minhashSignature]]) gets re-evaluated per band and per join
    * side by downstream operators, a >10x blow-up. The aggregation is also
    * the scale shape: partial min per partition, tiny (doc_id, 12 hashes)
    * rows on the shuffle.
    */
  def minhashSigDf(docs: DataFrame, w: Int = 3): DataFrame =
    shingleDf(docs, w)
      .groupBy("doc_id")
      .agg(
        array(
          (0 until NumHashes).map(i => min(md5(concat(lit(s"$i:"), col("shingle"))))): _*
        ).as("sig")
      )

  /** Band derivation from an existing signature relation — lets a caller
    * cache the shingle->signature DAG once and reuse it for both the band
    * join and the signature-compare sides (see [[minhashLshPairs]]). */
  def minhashBandsFromSig(sig: DataFrame): DataFrame =
    sig
      .select(
        col("doc_id"), col("sig"),
        explode(
          array((0 until NumBands).map { b =>
            struct(
              lit(b).as("band_idx"),
              concat_ws("|", (0 until BandSize).map(r => element_at(col("sig"), b * BandSize + r + 1)): _*).as("band_key")
            )
          }: _*)
        ).as("band")
      )
      .select(col("doc_id"), col("sig"), col("band.band_idx"), col("band.band_key"))

  /** Per-doc 64-bit SimHash (native codegen expression). */
  def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.SimHash.simhash(col("text")).as("simhash"))

  /** Chunk-pair combinations for the multi-index pigeonhole scheme: with
    * m = maxHamming + 2 bit-chunks, a pair within Hamming maxHamming has
    * at most maxHamming dirty chunks, i.e. agrees EXACTLY on >= 2 chunks —
    * so joining on (chunk_i, chunk_j, val_i, val_j) pairs finds every
    * true pair while the 2-chunk (2x wider) keys shrink bucket occupancy
    * quadratically vs single-chunk banding (Manku-style multi-index; on
    * this template-correlated synthetic corpus measured ~2.4x fewer
    * candidates, on bit-independent corpora the reduction is ~2^bits x).
    */
  def simhashChunkCombos(maxHamming: Int): (Int, Seq[(Int, Int)]) = {
    val nChunks = maxHamming + 2
    require(nChunks <= 64, s"maxHamming $maxHamming leaves no bits per chunk")
    val bits = 64 / nChunks
    (bits, for { i <- 0 until nChunks; j <- i + 1 until nChunks } yield (i, j))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Candidates come from the 2-chunk-agreement multi-index
    * ([[simhashChunkCombos]]) — per-bucket pair generation, never a full
    * cross join — and the exact `bit_count(a ^ b)` filter runs only on
    * candidates. Output is identical to the all-pairs form by the
    * pigeonhole guarantee.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (bits, combos) = simhashChunkCombos(maxHamming)
    val mask = (1L << bits) - 1
    val sh = simhashes(docs)
    def chunkVal(i: Int) =
      shiftrightunsigned(col("simhash"), i * bits).bitwiseAND(lit(mask))
    val chunks = sh.select(
      col("doc_id"), col("simhash"),
      explode(array(combos.map { case (i, j) =>
        struct(
          lit(i).as("c1"), lit(j).as("c2"),
          chunkVal(i).as("v1"), chunkVal(j).as("v2")
        )
      }: _*)).as("c")
    ).select(col("doc_id"), col("simhash"), col("c.c1"), col("c.c2"), col("c.v1"), col("c.v2"))
    val cand = graft.Telemetry.observeCount(
      chunks.as("a")
        .join(
          chunks.as("b"),
          col("a.c1") === col("b.c1") && col("a.c2") === col("b.c2") &&
            col("a.v1") === col("b.v1") && col("a.v2") === col("b.v2") &&
            col("a.doc_id") < col("b.doc_id")
        )
        .select(
          col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"),
          bitCount(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming")
        ),
      "simhash_candidate_pairs" // multi-index bucket join rows, pre-dedup
    )
    // exact Hamming filter BEFORE the pair dedup: hamming is determined
    // by the pair (same simhashes on every duplicate candidate row), so
    // filter-then-dedup equals dedup-then-filter — but the dedup's
    // aggregation then runs over only the rows that pass (~1-2% of the
    // multi-index candidates) instead of building first()-state for
    // every candidate pair (guide §2.3: shuffle/aggregate fewer bytes).
    // The telemetry counters are unchanged: candidate rows are observed
    // above (pre-dedup), output rows here (post-dedup, identical set).
    graft.Telemetry.observeCount(
      cand
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates("doc_a", "doc_b"),
      "simhash_output_pairs"
    )
  }

  private def bitCount(c: Column): Column = call_function("bit_count", c)

  /** Winnowing fingerprints (the MOSS scheme): hash every character
    * k-gram, then keep the minimum hash of each sliding window of w
    * consecutive k-grams — a document's fingerprint SET, robust to
    * insertions/reordering in ways whole-document hashing is not, with
    * guaranteed detection of matches longer than w + k - 1 chars.
    *
    * Scale shape: explode positions (Generate), hash each k-gram with the
    * native md5lower64 expression post-explode (codegen, no interpreted
    * HOF), per-doc sliding min via a window over (doc_id, i) — bounded by
    * document length — then distinct. Sign-masked so the DuckDB oracle's
    * UBIGINT arithmetic agrees.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nGrams = greatest(length(col("text")) - (k - 1), lit(1))
    val grams = docs
      .select(col("doc_id"), col("text"), explode(sequence(lit(1), nGrams)).as("i"))
      .select(
        col("doc_id"), col("i"),
        graft.functions.Hash64
          .md5lower64(substring(col("text"), col("i"), lit(k)))
          .bitwiseAND(lit(Long.MaxValue)).as("hh")
      )
    val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(Window.currentRow, w - 1)
    // cached: the fingerprint relation is the shared input of the
    // decontamination pair/bloom operators, the source-overlap matrix and
    // the raw fingerprint query — each previously re-derived the
    // char-gram explode + md5 + sliding-min window (the distinct's
    // exchange is only reused WITHIN one query). Rows are (doc_id, fp
    // long) — tiny; released via CacheBook like the shingle/signature
    // caches.
    graft.CacheBook.cached(
      grams
        .withColumn("fp", min("hh").over(win))
        .select("doc_id", "fp")
        .distinct()
    ).toDF()
  }

  /** Content-defined chunking (CDC): split each document into chunks at
    * content-determined boundaries — a boundary closes after position i
    * when the hash of the k-gram ending there lands in 1/divisor of the
    * hash space — so an insertion shifts only the chunks it touches and
    * boundaries RESYNC immediately after (fixed-size chunking shifts
    * every later chunk). Emits per chunk its offset, length, and md5 —
    * the storage-level dedup primitive: identical chunks across
    * documents/versions share one hash.
    *
    * Scale shape: char-position explode (O(bytes) rows, per-doc bounded
    * like winnowing), boundary flag via the native md5lower64, chunk ids
    * by a running sum over (doc_id, i), then one groupBy per (doc,
    * chunk) and a join back to slice + hash each chunk — all windows
    * partition by doc_id, so distribution is per-document.
    */
  def cdcChunks(docs: DataFrame, k: Int = 8, divisor: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col("text"))
    val positions = docs
      .filter(n > 0)
      .select(col("doc_id"), explode(sequence(lit(1), n)).as("i"))
    // a position ends a chunk when the k-gram ENDING at it hashes to the
    // boundary class (positions < k never do — the window is incomplete)
    val flagged = positions
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(
        col("doc_id"), col("i"),
        (col("i") >= k &&
          pmod(
            graft.functions.Hash64
              .md5lower64(substring(col("text"), (col("i") - (k - 1)).cast("int"), lit(k)))
              .bitwiseAND(lit(Long.MaxValue)),
            lit(divisor.toLong)
          ) === 0L).cast("int").as("is_boundary")
      )
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkIds = flagged
      .withColumn("chunk_idx", coalesce(sum("is_boundary").over(w), lit(0L)))
    val spans = chunkIds
      .groupBy("doc_id", "chunk_idx")
      .agg(min("i").as("chunk_start"), (max("i") - min("i") + 1).as("chunk_len"))
    spans
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("chunk_start"),
        col("chunk_len"),
        md5(substring(col("text"), col("chunk_start").cast("int"), col("chunk_len").cast("int")))
          .as("chunk_hash")
      )
  }

  /** Transitive duplicate clusters: connected components over a near-dup
    * edge set (any of the pair operators here) via min-label propagation —
    * the step a real dedup pipeline needs to pick ONE survivor per group
    * when near-duplication is transitive (A~B, B~C but not A~C directly).
    *
    * Scale shape: the standard big-graph CC loop — each round is one
    * partial-aggregable groupBy(min) over the symmetric edge list joined
    * to current labels, converging in O(component diameter) rounds
    * (near-dup components are shallow). The candidate edge set is
    * MATERIALIZED once (cache + count, below the symmetric union so the
    * union's two arms read the cache) before the loop — the edges
    * argument is typically an expensive candidate-generation DAG
    * (minhash-LSH) that must execute once, not once per round. Each
    * round's labels carry (old, new) side by side so the convergence
    * check is a filter-count on the cached round output, not an extra
    * self-join; labels are `localCheckpoint`ed every few rounds so plan
    * lineage stays bounded no matter how many rounds converge takes.
    *
    * Returns (doc_id, cluster_id = min doc_id in the component,
    * is_canonical).
    */
  def duplicateClusters(docs: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val checkpointEvery = 5
    // cache the DIRECTED edges (not the symmetric union): the union's two
    // arms would each traverse the candidate DAG, so caching below the
    // union guarantees exactly one execution of it
    val edgesCached = edges.select(col("doc_a"), col("doc_b")).cache()
    edgesCached.count() // force ONE execution of the upstream candidate DAG
    val sym = edgesCached
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edgesCached.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // `cached` is the handle unpersist() must be called on (unpersisting a
    // projection does not release the cached parent plan)
    var cached = docs.select(col("doc_id"), col("doc_id").as("label")).cache()
    var labels = cached
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // one round = ONE aggregation over (self-rows ∪ edge-rows):
      // label'(x) = min(label(x), min over neighbors y of label(y)), with
      // the old label recovered from the unique self row inside the same
      // groupBy — two shuffles per round (edge join + the groupBy)
      // instead of the previous three (join, groupBy, join-back), and no
      // left join at all. Algebraically identical to
      // least(label, coalesce(min neighbor label, label)).
      val selfRows = labels.select(
        col("doc_id"), col("label").as("lbl"), lit(true).as("is_self"))
      val edgeRows = sym
        .join(
          labels.select(col("doc_id").as("dst"), col("label").as("nlabel")),
          Seq("dst")
        )
        .select(col("src").as("doc_id"), col("nlabel").as("lbl"), lit(false).as("is_self"))
      val updatedBase = selfRows
        .unionByName(edgeRows)
        .groupBy("doc_id")
        .agg(
          min(when(col("is_self"), col("lbl"))).as("old_label"),
          min("lbl").as("label")
        )
        .select(col("doc_id"), col("old_label"), col("label"))
      // truncate lineage periodically: a cache eviction late in the loop
      // must not replay every prior round
      val updated =
        if ((iter + 1) % checkpointEvery == 0) updatedBase.localCheckpoint()
        else updatedBase.cache()
      val changed = updated.filter(col("label") =!= col("old_label")).count()
      cached.unpersist()
      cached = updated
      labels = updated.select("doc_id", "label")
      converged = changed == 0
      iter += 1
    }
    // loud non-convergence signal (a silent maxIters exit would return
    // labels mid-propagation — wrong cluster ids with no alarm; components
    // deeper than maxIters hops need a larger bound)
    if (!converged)
      System.err.println(
        s"[graft] duplicateClusters did NOT converge after $maxIters rounds — " +
          "cluster_id/is_canonical may be mid-propagation; raise maxIters " +
          "(component diameter exceeds the bound)")
    edgesCached.unpersist()
    labels.select(
      col("doc_id"),
      col("label").as("cluster_id"),
      (col("doc_id") === col("label")).as("is_canonical")
    )
  }

  /** Deterministic hash-based train/validation/test assignment: bucket =
    * (md5lower64(doc_id ':' salt) & Long.MaxValue) % 100 — stable under
    * re-runs, re-partitioning, and corpus growth (a document never
    * changes split when others are added), the property random splits
    * lack. The hash is the native [[graft.functions.Hash64]] expression,
    * bit-identical to DuckDB's md5_number_lower, and the sign mask makes
    * signed/unsigned modulo agree across engines.
    */
  def trainSplit(
      docs: DataFrame,
      salt: String = "split",
      pctTrain: Int = 90,
      pctValidation: Int = 5
  ): DataFrame = {
    val bucket = pmod(
      graft.functions.Hash64
        .md5lower64(concat(col("doc_id").cast("string"), lit(":" + salt)))
        .bitwiseAND(lit(Long.MaxValue)),
      lit(100L)
    )
    docs.select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < pctTrain, "train")
        .when(bucket < pctTrain + pctValidation, "validation")
        .otherwise("test")
        .as("split")
    )
  }

  /** Train/benchmark decontamination: pairs of (test-split doc,
    * train-split doc) sharing at least `minShared` winnowing
    * fingerprints — the overlap check a training pipeline runs so
    * evaluation data does not leak into the training set. Composes
    * [[winnowingFingerprints]] (guaranteed to catch shared substrings
    * longer than w + k - 1 chars) with [[trainSplit]].
    *
    * Scale shape: the fp join is an inverted-index equi-join like the
    * shingle join; fingerprints appearing in more than `maxDocFreq`
    * docs are dropped first (broadcast anti-join) — a ubiquitous
    * substring is not contamination evidence but WOULD create an
    * O(df^2) hot bucket. Candidate counts ride the telemetry observer.
    * Filter pushdown specializes the test/train branches, so the
    * fingerprint DAG executes once per side; at corpus scale pass
    * `precomputedFps` (the persisted fingerprint table a dedup pipeline
    * keeps anyway) and both sides read it instead of re-hashing.
    */
  def decontaminationPairs(
      docs: DataFrame,
      k: Int = 8,
      w: Int = 4,
      minShared: Long = 2,
      maxDocFreq: Int = 20,
      precomputedFps: Option[DataFrame] = None
  ): DataFrame = {
    val fps = precomputedFps.getOrElse(winnowingFingerprints(docs, k, w))
      .join(trainSplit(docs).select("doc_id", "split"), Seq("doc_id"))
    val hot = fps
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("fp")
    // same multi-consumer shape as the q25 shingle relation: `cool` feeds
    // the test side and the train side of the fp join (and `fps` feeds the
    // hot-df aggregation) — cache the tiny (doc_id, fp, split) rows so the
    // winnowing-fingerprint DAG executes once, not once per consumer
    val cool = graft.CacheBook.cached(fps.join(broadcast(hot), Seq("fp"), "left_anti"))
    val test = cool.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc_id"), col("fp"))
    val train = cool.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"), col("fp"))
    graft.Telemetry.observeCount(test.join(train, Seq("fp")), "decontam_candidate_rows")
      .groupBy("test_doc_id", "train_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered decontamination — the shape the SAME check takes
    * when the train side is the 100 TB corpus: build a bloom filter over
    * the TEST-split fingerprints (the benchmark side is always tiny —
    * thousands of documents), then thin the train side with a codegen'd
    * `bloom_might_contain` probe AT THE SCAN, so non-candidate train rows
    * are dropped before any shuffle; only bloom survivors reach the exact
    * fingerprint join. Bloom filters have no false negatives, so the
    * verify join restores EXACT semantics (false positives die there) —
    * the output is precisely the per-train-doc contamination summary of
    * [[decontaminationPairs]], independent of bloom sizing.
    *
    * Returns (train_doc_id, n_test_docs, max_shared): the train-corpus
    * DROP LIST with evidence counts. Probe selectivity rides the
    * telemetry counter (`bloom_candidate_rows` vs the exact join's
    * output) — the feedback signal for re-sizing `numBits` as the
    * benchmark suite grows.
    */
  def bloomDecontamination(
      docs: DataFrame,
      k: Int = 8,
      w: Int = 4,
      minShared: Long = 2,
      maxDocFreq: Int = 20,
      estItems: Long = 1000000L,
      numBits: Long = 8388608L
  ): DataFrame = {
    val fps = winnowingFingerprints(docs, k, w)
      .join(trainSplit(docs).select("doc_id", "split"), Seq("doc_id"))
    val hot = fps
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("fp")
    // cached: feeds the bloom-build action (test side) and the probe plan
    // (train side) — one winnowing pass total, same shape as
    // decontaminationPairs' `cool`
    val cool = graft.CacheBook.cached(fps.join(broadcast(hot), Seq("fp"), "left_anti"))
    val test = cool.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc_id"), col("fp"))
    val train = cool.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"), col("fp"))
    val bloom = graft.functions.Bloom.buildBytes(test, col("fp"), estItems, numBits)
    val cand = bloom match {
      case None => train.where(lit(false)) // no test fps -> nothing contaminated
      case Some(bytes) =>
        graft.Telemetry.observeCount(
          train.where(graft.functions.Bloom.probe(bytes, col("fp"))),
          "bloom_candidate_rows"
        )
    }
    cand
      .join(test, Seq("fp")) // exact verify: bloom false positives die here
      .groupBy("test_doc_id", "train_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy("train_doc_id")
      .agg(
        countDistinct("test_doc_id").as("n_test_docs"),
        max("n_shared").as("max_shared")
      )
  }

  /** MinHash-LSH near-dup candidate pairs with estimated Jaccard =
    * fraction of equal signature components. Pairs sharing >=1 band
    * bucket; estimate >= minEstimate.
    */
  def minhashLshPairs(docs: DataFrame, w: Int = 3, minEstimate: Double = 0.5): DataFrame = {
    // cache the signature relation: it feeds the band self-join AND both
    // signature-compare join sides — uncached, the shingle->signature DAG
    // would execute three times (tiny rows: doc_id + NumHashes hashes)
    val sig = graft.CacheBook.cached(minhashSigDf(docs, w))
    val bands = minhashBandsFromSig(sig).select("doc_id", "band_idx", "band_key")
    val cand = graft.Telemetry.observeCount(
      bands.as("a")
        .join(
          bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id")
        )
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      "minhash_candidate_pairs" // band-bucket join rows, pre-dedup
    ).dropDuplicates("doc_a", "doc_b")
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn(
        "est_jaccard",
        size(filter(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq
        )).cast("double") / lit(NumHashes.toDouble)
      )
      .filter(col("est_jaccard") >= minEstimate)
      .select("doc_a", "doc_b", "est_jaccard")
  }
}
