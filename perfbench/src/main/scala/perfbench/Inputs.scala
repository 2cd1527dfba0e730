package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Seeded benchmark inputs, generated lazily by `spark.range` (no files).
  *
  * Transcripts use the engine's own column grammar
  * (`Transcripts.svcOf`/`statusOf`/`roleOf`/`textOf`) with the two hash
  * salts derived from the seed. Seed 0, the default, gives salts 1 and 2,
  * which reproduces `graft.sources.TranscriptGen.synthetic` row for row.
  */
object Inputs {

  val DefaultSeed = 0L

  private val EventTypes = graft.sources.TranscriptGen.EventTypes

  /** (k salt, event-type salt) for a seed; (1, 2) for the default seed. */
  def salts(seed: Long): (Int, Int) = ((2 * seed + 1).toInt, (2 * seed + 2).toInt)

  def transcripts(
      spark: SparkSession,
      seed: Long,
      nConvs: Long,
      turnsPerConv: Int,
      hotConvs: Int = 0,
      hotFactor: Int = 100
  ): DataFrame = {
    val nPart = spark.sparkContext.defaultParallelism
    val base = spark
      .range(0L, nConvs * turnsPerConv, 1L, nPart)
      .select(
        (col("id") / turnsPerConv).cast("long").as("conv"),
        (col("id") % turnsPerConv).cast("int").as("turn_idx"),
        col("id"))
    val ids =
      if (hotConvs <= 0) base
      else base.unionByName(
        spark
          .range(0L, hotConvs.toLong * turnsPerConv * hotFactor, 1L, nPart)
          .select(
            (lit(nConvs) + col("id") / (turnsPerConv * hotFactor)).cast("long").as("conv"),
            (col("id") % (turnsPerConv * hotFactor)).cast("int").as("turn_idx"),
            (col("id") + nConvs * turnsPerConv).as("id")))

    val (kSalt, evSalt) = salts(seed)
    val evIdx = pmod(xxhash64(col("id"), lit(evSalt)), lit(EventTypes.size)).cast("int")
    val eventType = EventTypes.zipWithIndex.foldLeft(lit(EventTypes.head)) {
      case (acc, (ev, i)) => when(evIdx === i, ev).otherwise(acc)
    }
    val baseEpoch = lit(1704067200000000L) // 2024-01-01 UTC in micros
    ids
      .withColumn("k", pmod(xxhash64(col("id"), lit(kSalt)), lit(100)).cast("int"))
      .withColumn("event_type", eventType)
      .withColumn("svc", Transcripts.svcOf(col("event_type")))
      .withColumn("status", Transcripts.statusOf(col("event_type"), col("k")))
      .select(
        concat(lit("g"), col("conv").cast("string")).as("conv_id"),
        col("turn_idx"),
        Transcripts.roleOf(col("event_type")).as("role"),
        Transcripts.textOf(col("svc"), col("event_type"), col("k"), col("status")).as("text"),
        col("svc").as("tool"),
        timestamp_micros(
          baseEpoch + pmod(col("conv") * 977L, lit(2592000L)) * 1000000L +
            col("turn_idx").cast("long") * (lit(1L) + col("k") % 60) * 1000000L
        ).as("ts"))
  }

  /** Order-insensitive digest of a relation: row count and the exact sum
    * of a 64-bit hash of each row's JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val row = df
      .select(xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }

  // ---- the query suite's tables: sf0.1-shaped `events`, `documents`,
  // ---- `embeddings` (the only tables `SparkEntry.queries` read)

  private def h(salt: String, cols: Column*): Column = xxhash64((lit(salt) +: cols): _*)
  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), idx + 1)

  val Vocabulary = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** `events`: one row per event over 30 days, 1,500 users, five event
    * types, and a `{"k": N}` property the transcript derivation parses. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val s = seed.toString
    val spanMicros = 30L * 86400L * 1000000L
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(
        lit(1704067200000000L) + col("id") * (spanMicros / n) + pmod(h(s + "t", col("id")), lit(spanMicros / n))
      ).cast("timestamp_ntz").as("ts"),
      pmod(h(s + "u", col("id")), lit(1500L)).as("user_id"),
      pick(EventTypes, pmod(h(s + "e", col("id")), lit(5)).cast("int")).as("event_type"),
      (pmod(h(s + "v", col("id")), lit(15000L)).cast("double") / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(s + "k", col("id")), lit(100)).cast("string"), lit("}")).as("props"))
  }

  /** `documents`: 10-100 words from a 30-word vocabulary; one document in
    * twenty repeats an earlier one with a trailing " dup" (near-duplicates
    * for the dedup and similarity operators). */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val s = seed.toString
    def words(id: Column): Column = concat_ws(" ", transform(
      sequence(lit(0), (lit(10) + pmod(h(s + "n", id), lit(91))).cast("int") - 1),
      i => pick(Vocabulary, pmod(h(s + "w", id, i), lit(Vocabulary.size)).cast("int"))))
    val isDup = col("id") > 0 && pmod(h(s + "d", col("id")), lit(20)) === 0
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(isDup, concat(words(pmod(h(s + "o", col("id")), col("id"))), lit(" dup")))
          .otherwise(words(col("id"))).as("text"),
        pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), pmod(h(s + "l", col("id")), lit(7)).cast("int"))
          .as("lang"),
        concat(lit("src"), pmod(h(s + "s", col("id")), lit(20)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `embeddings`: unit-length 64-d vectors with a label in 0..9. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dims: Int = 64): DataFrame = {
    val s = seed.toString
    // sum of three uniforms: a cheap bell-shaped component
    val raw = transform(sequence(lit(0), lit(dims - 1)), j =>
      (0 until 3).map(r => pmod(h(s + "x" + r, col("id"), j), lit(2001)).cast("double") - 1000.0)
        .reduce(_ + _))
    spark.range(n)
      .select(col("id").as("vec_id"), raw.as("raw"), pmod(h(s + "c", col("id")), lit(10)).cast("int").as("label"))
      .select(
        col("vec_id"),
        transform(col("raw"), x =>
          (x / sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  /** Write the suite's three tables under `dir` (one parquet each). */
  def writeQueryTables(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    events(spark, seed, math.round(1000000 * scale)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    documents(spark, seed, math.round(50000 * scale)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, seed, math.round(20000 * scale)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
