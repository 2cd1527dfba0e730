package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, a random-hyperplane
  * LSH-bucketed variant as the scale path, and cosine near-dup pairs.
  *
  * Determinism / oracle parity: embeddings are quantized to integer
  * milli-units first, so dot products are exact integers and the final
  * cosine is one IEEE division — bit-identical across engines and
  * partitionings. The LSH hyperplanes come from a fixed-seed generator.
  *
  * Scale design: the query side of top-k is broadcast (queries << corpus);
  * the corpus scan stays a projection; top-k is a windowed row_number
  * (WindowGroupLimit — no global sort). The LSH variant buckets the corpus
  * once (shuffle on bucket id) and only scans matching buckets.
  */
object Similarity {

  /** Quantize a float vector to integer milli-units (exact arithmetic). */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen expression ([[graft.functions.VecOps]]). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VecOps.dotq(a, b)

  /** Cosine from quantized vectors: int dot / sqrt(int norms). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") / sqrt((dotQ(a, a) * dotQ(b, b)).cast("double"))

  /** Per-vector int8 (max-abs) quantization of an exact milli-unit
    * vector: values scale to [-127, 127] by the vector's own max
    * magnitude — the memory-compression step of a billion-vector ANN
    * index (4 bytes/dim -> 1). Derived from the EXACT integer milli-unit
    * form, so both the max-abs and the rescale divide exact integers and
    * the result is bit-identical across engines (round-half-away on an
    * exact-int ratio). All-zero vectors quantize to all zeros. */
  def quantizeInt8(vecQ: Column): Column =
    graft.functions.VecOps.quant8(vecQ)

  /** Brute-force cosine top-k over INT8-quantized vectors: identical
    * plan shape to [[bruteForceTopK]] (broadcast queries, windowed
    * top-k) but every dot runs on the 1-byte-per-dim representation;
    * `cosine_q8` is the compressed-domain score whose ranking
    * approximates the exact one (recall measurable against
    * [[bruteForceTopK]]). This is the compressed-domain FULL-SCAN
    * baseline — the memory-compression half of a large-scale index; the
    * sublinear-scan half is [[ivfInt8TopK]], which composes the same
    * int8 representation with IVF's inverted lists. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), quantizeInt8(quantize(col("embedding"))).as("nv"))
    val q = queries.select(col("vec_id").as("q_id"), quantizeInt8(quantize(col("embedding"))).as("qv"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine_q8", cosineQ(col("qv"), col("nv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cosine_q8").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine_q8")
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ties broken by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), quantize(col("embedding")).as("nv"))
    val q = queries.select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qv"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("nv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Fixed-seed random hyperplanes with integer milli-unit weights: the
    * bucket sign test dot(vecQ, planeQ) > 0 is exact integer arithmetic,
    * so bucket assignment is bit-identical across engines and the DuckDB
    * oracle can reproduce it from the same literal plane constants
    * (emitted by [[bucketSql]]). */
  def hyperplanes(nPlanes: Int, dims: Int, seed: Long = 42L): Array[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dims)(math.round(rnd.nextGaussian() * 1000))
  }

  /** The (table_idx, planes) list shared by every LSH operator and their
    * oracles — one source of truth for the bucket geometry. */
  def planeTables(nTables: Int, nPlanes: Int, dims: Int): Seq[(Int, Array[Array[Long]])] =
    (0 until nTables).map(t => t -> hyperplanes(nPlanes, dims, seed = 42L + t))

  /** Sign-bit LSH bucket id over a QUANTIZED vector: bit j set iff
    * dot(vecQ, plane_j) > 0 (exact integer dot, native codegen). */
  def lshBucket(vecQ: Column, planes: Array[Array[Long]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dotQ(vecQ, typedLit(p.toSeq)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB expression for one table's bucket id over quantized-vector
    * column `vExpr` — mirrors [[lshBucket]] exactly (integer dot, sign,
    * bit-or as sum). */
  def bucketSql(vExpr: String, planes: Array[Array[Long]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($vExpr, ${p.mkString("[", ",", "]")}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-vector (table_idx, bucket) rows for multi-table LSH: quantize
    * ONCE per vector in a projection BELOW the explode (Generate is a
    * projection-collapse barrier, so the interpreted quantize HOF is not
    * re-inlined into every bucket expression — inlined it evaluates
    * 48x per row), then explode the table index and compute the matching
    * table's bucket from the materialized quantized column with native
    * dot products. The quantized vector rides along so downstream exact
    * verification needs no extra join. */
  def bucketed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tables: Seq[(Int, Array[Array[Long]])]
  ): DataFrame = {
    val bucketByTable = tables.tail.foldLeft(lshBucket(col(vecCol), tables.head._2)) {
      case (acc, (t, planes)) => when(col("table_idx") === t, lshBucket(col(vecCol), planes)).otherwise(acc)
    }
    df.select(col("vec_id").as(idCol), quantize(col("embedding")).as(vecCol))
      .select(
        col(idCol), col(vecCol),
        explode(array(tables.map(t => lit(t._1)): _*)).as("table_idx")
      )
      .withColumn("bucket", bucketByTable)
  }

  /** LSH-bucketed approximate top-k: a candidate must share the query's
    * bucket in at least one of `nTables` independent hyperplane tables
    * (standard multi-table LSH — each table is a (table_idx, bucket)
    * partition, so the corpus is scanned per-bucket, never in full).
    * Recall/cost trade-off: more tables or fewer planes -> higher recall,
    * more candidates.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nPlanes: Int = 6,
      dims: Int = 64,
      nTables: Int = 8
  ): DataFrame = {
    val tables = planeTables(nTables, nPlanes, dims)
    val c = bucketed(corpus, "n_id", "nv", tables)
    val q = bucketed(queries, "q_id", "qv", tables)
    // score BEFORE the candidate dedup (same argument as nearDupPairs:
    // cosine is pair-determined, and dedup over narrow (q_id, n_id,
    // cosine) rows is a hash aggregate instead of a SortAggregate
    // carrying both vectors)
    val scored = c
      .join(broadcast(q), Seq("table_idx", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("nv")))
      .select("q_id", "n_id", "cosine")
      .dropDuplicates("q_id", "n_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path next to multi-table LSH: corpus vectors are assigned to their
    * nearest of `nCentroids` coarse-quantizer centroids (the inverted
    * lists); each query probes its `nProbe` nearest centroids and scans
    * only those lists. Centroids here are the first `nCentroids` corpus
    * vectors — deterministic and oracle-reproducible; a real deployment
    * trains k-means offline and loads the centroid table as a dim (the
    * structure, partitioning, and probing are identical).
    *
    * Scale shape: the centroid table is broadcast; corpus assignment is a
    * map-side nested-loop against the broadcast plus a partial-aggregable
    * min-of-struct groupBy (only |corpus| rows shuffle, not |corpus| x C);
    * the candidate join is an equi-join on c_id, so each query scans
    * nProbe inverted lists, never the full corpus.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nCentroids: Int = 16,
      nProbe: Int = 4
  ): DataFrame = {
    val cent = broadcast(
      corpus.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("c_id"), quantize(col("embedding")).as("cv"))
    )
    // corpus side: single nearest centroid via min-of-struct aggregation
    val corpusScored = corpus
      .select(col("vec_id").as("n_id"), quantize(col("embedding")).as("nv"))
      .crossJoin(cent)
      .withColumn("c_cos", cosineQ(col("nv"), col("cv")))
    val corpusA = corpusScored
      .groupBy("n_id")
      .agg(min(struct(negate(col("c_cos")).as("nc"), col("c_id").as("cid"), col("nv").as("v"))).as("b"))
      .select(col("n_id"), col("b.v").as("nv"), col("b.cid").as("c_id"))
    // query side: nProbe nearest centroids (queries << corpus -> window ok)
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id"))
    val queryP = queries
      .select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(cent)
      .withColumn("c_cos", cosineQ(col("qv"), col("cv")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nProbe)
      .select("q_id", "qv", "c_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    corpusA
      .join(broadcast(queryP), Seq("c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** IVF over INT8-quantized inverted lists — the composition of
    * [[ivfTopK]]'s sublinear scan shape with [[int8TopK]]'s 4x memory
    * compression, i.e. the standard billion-vector index layout
    * (IVF + scalar quantization): each query scans only its nProbe
    * inverted lists, and every scanned vector is 1 byte/dim.
    *
    * Index-build vs scan precision split (the part that matters at
    * scale): centroid ASSIGNMENT — built once, offline — runs at full
    * milli-unit precision on both the corpus and query side (probing is
    * |queries| x nCentroids, negligible), so the list geometry is
    * identical to [[ivfTopK]]'s and recall loss comes only from the
    * compressed in-list scoring. The inverted lists store ONLY the int8
    * vectors; the scan never touches the full-precision column.
    *
    * Deterministic and oracle-reproducible like its two parents: exact
    * integer dots for assignment, exact integer-ratio rounding
    * ([[graft.functions.VecOps.quant8]]) for the compression.
    */
  def ivfInt8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nCentroids: Int = 16,
      nProbe: Int = 4
  ): DataFrame = {
    val cent = broadcast(
      corpus.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("c_id"), quantize(col("embedding")).as("cv"))
    )
    // inverted lists: nearest centroid at full precision, then ONLY the
    // int8 vector is kept (the stored index is 1 byte/dim)
    val corpusA = corpus
      .select(col("vec_id").as("n_id"), quantize(col("embedding")).as("nv"))
      .crossJoin(cent)
      .withColumn("c_cos", cosineQ(col("nv"), col("cv")))
      .groupBy("n_id")
      .agg(min(struct(negate(col("c_cos")).as("nc"), col("c_id").as("cid"), col("nv").as("v"))).as("b"))
      .select(col("n_id"), quantizeInt8(col("b.v")).as("nv8"), col("b.cid").as("c_id"))
    // query probing at full precision; the query rides its int8 form into
    // the list scan
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id"))
    val queryP = queries
      .select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(cent)
      .withColumn("c_cos", cosineQ(col("qv"), col("cv")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), quantizeInt8(col("qv")).as("qv8"), col("c_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine_q8").desc, col("n_id"))
    corpusA
      .join(broadcast(queryP), Seq("c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine_q8", cosineQ(col("qv8"), col("nv8")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine_q8")
  }

  /** Embedding-cosine near-duplicate pairs (cosine >= threshold) through
    * LSH-bucketed candidate generation + exact verification: a pair is
    * considered only if it shares a (table_idx, bucket) in at least one
    * of the `nTables` hyperplane tables, then the exact quantized cosine
    * filter runs on candidates only. Never all-pairs — the join is an
    * equi-join on tiny (table, bucket) keys, per-bucket pair generation
    * bounded by bucket occupancy (the round-1 cartesian was O(n^2) and
    * 41% of the whole bench). Recall vs the exact form is a tunable
    * (more tables / fewer planes -> higher recall, more candidates) and
    * is measured in SimilaritySpec; the oracle reproduces the identical
    * candidate geometry from the same plane constants.
    *
    * [[nearDupPairsExact]] keeps the brute-force form as the small-scale
    * recall baseline.
    */
  def nearDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.9,
      nPlanes: Int = 6,
      dims: Int = 64,
      nTables: Int = 8
  ): DataFrame = {
    val tables = planeTables(nTables, nPlanes, dims)
    val b = bucketed(corpus, "vid", "v", tables)
    val cand = graft.Telemetry.observeCount(
      b.as("a")
        .join(
          b.as("b"),
          col("a.table_idx") === col("b.table_idx") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vid") < col("b.vid")
        )
        .select(
          col("a.vid").as("id_a"), col("b.vid").as("id_b"),
          col("a.v").as("va"), col("b.v").as("vb")
        ),
      "cosine_candidate_pairs" // bucket join rows, pre-dedup
    )
    // score and threshold-filter BEFORE the pair dedup: cosine is a pure
    // function of the two vectors, so every duplicate candidate row of a
    // pair carries the same value and dedup-then-score equals
    // score-then-dedup. Order matters for the plan (guide §2.3): the
    // dedup previously ran as a SortAggregate over every candidate row
    // still carrying BOTH quantized vectors (first() over array columns
    // is not hash-aggregable — plan-audited), i.e. a full sort + shuffle
    // of |candidates| x 2 x dims longs; scoring first drops the arrays
    // and the threshold leaves only true near-dups, so the dedup is a
    // hash aggregate over narrow (id_a, id_b, cosine) survivor rows.
    cand
      .withColumn("cosine", cosineQ(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact all-pairs cosine near-dups — O(n^2), the recall oracle for
    * [[nearDupPairs]] at test scale only. */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double = 0.9): DataFrame = {
    val a = corpus.select(col("vec_id").as("id_a"), quantize(col("embedding")).as("va"))
    val b = corpus.select(col("vec_id").as("id_b"), quantize(col("embedding")).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosineQ(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic duplicate clusters: connected components
    * over the embedding cosine near-dup edge set ([[nearDupPairs]] —
    * LSH-bucketed candidate generation, exact quantized-cosine verify),
    * resolved with the same min-label propagation loop as the text-side
    * [[Dedup.duplicateClusters]]. Semantic duplication is transitive in
    * practice (paraphrase chains), so the pair set alone under-prunes;
    * the component view picks ONE canonical member per meaning-cluster.
    *
    * Scale shape: edge generation is the q32 bucketed equi-join (never
    * all-pairs); the CC loop is the shared big-graph min-label iteration
    * — each round one partial-aggregable groupBy(min), candidate DAG
    * materialized exactly once, lineage checkpointed. Returns
    * (vec_id, cluster_id = min vec_id in the component, is_canonical);
    * dropping is_canonical = false rows is the SemDeDup prune.
    */
  def semanticClusters(
      corpus: DataFrame,
      threshold: Double = 0.9,
      nPlanes: Int = 6,
      dims: Int = 64,
      nTables: Int = 8
  ): DataFrame = {
    val edges = nearDupPairs(corpus, threshold, nPlanes, dims, nTables)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    graft.operators.Dedup
      .duplicateClusters(corpus.select(col("vec_id").as("doc_id")), edges)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))
  }
}
