package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.PipelineConfig

/** Aggregate stage: the metric tables the reference exposes as Prometheus
  * vectors, re-expressed as groupBy aggregations written to metric sink
  * tables (reference: assertsprocessor/metrics.go:11-22, 138-184,
  * metric_helper.go:64-68).
  *
  * All aggregations are partial-aggregable (map-side combine) and keyed by
  * low-cardinality label tuples — one shuffle each, no windows.
  */
object Aggregates {

  /** `asserts_trace_count_total{env, site}` — one increment per
    * conversation (metrics.go:138-141). Input: conv-level routing. */
  def traceCounts(routing: DataFrame): DataFrame =
    routing
      .groupBy("env", "site")
      .agg(count(lit(1)).as("trace_count"))

  /** `asserts_trace_sampled_count_total{env, site, sample_type}`
    * (metrics.go:143-146) — counted over retained (flushed) convs. */
  def sampledTraceCounts(routing: DataFrame): DataFrame =
    routing
      .filter(col("kept"))
      .groupBy("env", "site", "sample_type")
      .agg(count(lit(1)).as("sampled_count"))

  /** `asserts_span_count_total{env, site, namespace, service}`
    * (metrics.go:148-166) — per-span counters over ALL spans of consumed
    * conversations, internal included: incrSpanCount adds
    * segment.getSpanCount() = entry + exit + internal + root
    * (trace.go:46-52), the same count the sampled counter uses. */
  def spanCounts(enriched: DataFrame): DataFrame =
    enriched
      .groupBy("env", "site", "namespace", "service")
      .agg(count(lit(1)).as("span_count"))

  /** Shared first-seen-rank dim — the ONE implementation of every
    * cardinality cap in the engine (the reference's metric-path context
    * cache metric_helper.go:85-141 and the sampler's request cap
    * service_queue.go:39-75 share the same admit-the-first-K-contexts
    * shape): rank the DISTINCT (partition, context) combinations of `df`
    * by earliest `tsCol`, ties broken by context value for determinism.
    *
    * Scale shape: a partial-aggregable groupBy over the distinct dim —
    * never a window over the input rows, which would put every row of a
    * partition key on one task. Output is (partitionCol, contextCol,
    * rankName), tiny by construction (the cap only matters when
    * contexts-per-partition is bounded).
    */
  def firstSeenRank(
      df: DataFrame,
      partitionCols: Seq[String],
      contextCol: String,
      tsCol: String,
      rankName: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.groupBy((partitionCols :+ contextCol).map(col): _*)
      .agg(min(col(tsCol)).as("__first_ts"))
      .withColumn(
        rankName,
        dense_rank().over(
          Window.partitionBy(partitionCols.map(col): _*).orderBy(col("__first_ts"), col(contextCol))
        )
      )
      .drop("__first_ts")
  }

  def firstSeenRank(
      df: DataFrame,
      partitionCol: String,
      contextCol: String,
      tsCol: String,
      rankName: String
  ): DataFrame = firstSeenRank(df, Seq(partitionCol), contextCol, tsCol, rankName)

  /** Fine-grained shared rollup: ONE scan of the enriched spans, partially
    * aggregated to (window, env, site, namespace, service, request
    * context, le-bucket) — every metric table below is a tiny re-rollup
    * of this intermediate, so the fan-out of metric sinks costs one pass
    * over the span data instead of one per table (rollup-tree; all
    * measures stay integral so the derived tables are bit-identical to
    * direct aggregation).
    *
    * The metric-series cardinality cap (metric_helper.go:85-141: only the
    * first LimitPerService distinct request contexts per service_key are
    * measured, over-cap contexts emit NO rows) is applied POST-aggregation
    * by [[capRollup]]: the fine groups carry their min event time and the
    * [[firstSeenRank]] dim re-aggregates the rollup itself — standalone,
    * the dim branch re-reads the enriched shuffle (ReusedExchange on the
    * span-level exchange, one scan of the source); in the pipeline,
    * [[fineRollupRaw]] is cached so the cap dim costs one pass over the
    * tiny aggregate and the span data is aggregated exactly once.
    */
  def fineRollup(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      windowMinutes: Int = 5
  ): DataFrame =
    // cache the RAW aggregate (tiny — one row per fine group): the cap dim
    // re-aggregates the rollup itself, and WITHOUT the cache Catalyst's
    // column pruning specializes that branch into a SECOND span-level
    // aggregation over the whole enrich DAG (only the source exchange is
    // reused — plan-audited; measured ~2x standalone q09/q13 cost).
    // Registered in CacheBook so verify/bench/SqlSurface loops can drop it.
    capRollup(graft.CacheBook.cached(fineRollupRaw(enriched, cfg, windowMinutes)), cfg)

  /** The UNCAPPED fine rollup, carrying service_key and each group's min
    * event time — the cacheable intermediate the cap dim and every metric
    * table derive from. */
  def fineRollupRaw(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      windowMinutes: Int = 5
  ): DataFrame = {
    val winMicros = windowMinutes.toLong * 60L * 1000000L
    val buckets = cfg.histogramBuckets
    val leExpr = buckets.reverse.foldLeft(lit(Double.PositiveInfinity)) {
      case (acc, bound) => when(col("latency_secs") <= bound, lit(bound)).otherwise(acc)
    }
    val gated =
      if (!cfg.captureMetrics) enriched.filter(lit(false))
      else enriched
    gated
      .filter(col("span_class") =!= "internal")
      .withColumn("win_start_us", expr(s"unix_micros(cast(ts as timestamp)) div $winMicros") * winMicros)
      .withColumn("le", leExpr)
      // group ONLY by the keys that determine the group (env, site,
      // namespace and service are functions of the service dim join,
      // constant within a service_key) and carry the label columns as
      // min() aggregates: the per-row aggregation hash/compare then
      // touches 4 key columns instead of 8 (one string fewer than half),
      // with identical groups and identical outputs
      .groupBy("service_key", "win_start_us", "request_context", "le")
      .agg(
        min(col("env")).as("env"),
        min(col("site")).as("site"),
        min(col("namespace")).as("namespace"),
        min(col("service")).as("service"),
        count(lit(1)).as("n_spans"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("n_errors"),
        sum(col("dur_ms")).as("dur_ms_sum"),
        max(col("latency_secs")).as("lat_max"),
        min(col("ts")).as("ts_min")
      )
  }

  /** Apply the first-seen cardinality cap to [[fineRollupRaw]] output. */
  def capRollup(raw: DataFrame, cfg: PipelineConfig): DataFrame = {
    val admitted = firstSeenRank(raw, "service_key", "request_context", "ts_min", "ctx_rank")
      .filter(col("ctx_rank") <= cfg.limitPerService)
      .select("service_key", "request_context")
    raw
      .join(broadcast(admitted), Seq("service_key", "request_context"))
      .select(
        "win_start_us", "env", "site", "namespace", "service", "request_context", "le",
        "n_spans", "n_errors", "dur_ms_sum", "lat_max"
      )
  }

  /** RED rollup (request / error / duration) per tumbling window and
    * (service, request context) — the `otel_span_latency_seconds`
    * histogram's sum/count plus error counts, keyed per BASELINE by the
    * time window and tool/service dimensions. Derived from the shared
    * rollup; integer millis summed exactly and divided once, so the
    * result is bit-identical across engines/partitionings.
    */
  def redRollupFrom(rollup: DataFrame): DataFrame =
    rollup
      .groupBy("win_start_us", "service", "request_context")
      .agg(
        sum("n_spans").as("requests"),
        sum("n_errors").as("errors"),
        (sum(col("dur_ms_sum")).cast("double") / 1000.0).as("duration_sum_secs"),
        max("lat_max").as("duration_max_secs")
      )

  /** RED rollup under the TTL-EXPIRING cardinality cap — the batch
    * re-expression of the reference's per-service TTL'd request-context
    * cache (metric_helper.go:91-116: capacity `LimitPerService` AND
    * `RequestContextCacheTTL`; an idle context is EVICTED, its metric
    * series deleted, and its slot freed for a later context — eviction
    * test metric_helper_test.go:142-179).
    *
    * Batch model: event time is tiled into TTL-length windows; within
    * each (service_key, ttl window) the first `limitPerService` distinct
    * contexts by first-seen time are admitted. A context idle for a full
    * TTL has no presence in the next window, so its slot frees and a
    * late context IS admitted there — the eviction-then-admission the
    * reference tests. (Window-boundary eviction instead of a sliding
    * idle clock: deterministic and partition-stable, which a distributed
    * batch cap needs; the sliding-clock semantics live in the streaming
    * cap, [[graft.streaming.StreamingPipeline.metricCapStream]].)
    *
    * Same one-scan shape as [[fineRollup]]: aggregate first carrying
    * group min event time, derive the per-ttl-window first-seen dim from
    * the aggregate (exchange reuse), then drop over-cap groups.
    */
  def ttlCappedRed(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      windowMinutes: Int = 5
  ): DataFrame = {
    val winMicros = windowMinutes.toLong * 60L * 1000000L
    val ttlMicros = cfg.requestContextCacheTTLMinutes.toLong * 60L * 1000000L
    val gated = if (cfg.captureMetrics) enriched else enriched.filter(lit(false))
    val rawPlan = gated
      .filter(col("span_class") =!= "internal")
      .withColumn("ttl_win", expr(s"unix_micros(cast(ts as timestamp)) div $ttlMicros"))
      .withColumn("win_start_us", expr(s"unix_micros(cast(ts as timestamp)) div $winMicros") * winMicros)
      // same narrow-key shape as fineRollupRaw: service is a function of
      // service_key, so it rides as a min() aggregate, not a group key
      .groupBy("service_key", "ttl_win", "win_start_us", "request_context")
      .agg(
        min(col("service")).as("service"),
        count(lit(1)).as("n_spans"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("n_errors"),
        sum(col("dur_ms")).as("dur_ms_sum"),
        max(col("latency_secs")).as("lat_max"),
        min(col("ts")).as("ts_min")
      )
    val raw = graft.CacheBook.cached(
      // same cached-aggregate shape as fineRollup: the per-ttl-window cap
      // dim re-aggregates this relation, and pruning would otherwise
      // specialize that branch into a second span-level pass
      rawPlan)
    val admitted =
      firstSeenRank(raw, Seq("service_key", "ttl_win"), "request_context", "ts_min", "ctx_rank")
        .filter(col("ctx_rank") <= cfg.limitPerService)
        .select("service_key", "ttl_win", "request_context")
    raw
      .join(broadcast(admitted), Seq("service_key", "ttl_win", "request_context"))
      .groupBy("win_start_us", "service", "request_context")
      .agg(
        sum("n_spans").as("requests"),
        sum("n_errors").as("errors"),
        (sum(col("dur_ms_sum")).cast("double") / 1000.0).as("duration_sum_secs"),
        max("lat_max").as("duration_max_secs")
      )
  }

  /** Latency histogram per (service, le) in the Prometheus cumulative-
    * bucket form, derived from the shared rollup. */
  def latencyHistogramFrom(rollup: DataFrame): DataFrame = {
    val raw = rollup
      .groupBy("service", "le")
      .agg(sum("n_spans").as("bucket_count"))
    import org.apache.spark.sql.expressions.Window
    val cumW = Window
      .partitionBy("service")
      .orderBy("le")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    raw.withColumn("cumulative_count", sum("bucket_count").over(cumW))
  }

  /** `asserts_span_sampled_count_total{env, site, namespace, service}` —
    * spans of SAMPLED (flushed) conversations, ALL span classes including
    * internal (metrics.go:48-52 registration; incrSampledCounts ->
    * incrSpanCount over segment.getSpanCount which counts entry + exit +
    * internal + root, metrics.go:143-146,168-184, trace.go:46-52).
    * The kept-conversation id set is tiny (top-K output), so the join is
    * broadcast-sized by construction.
    */
  def sampledSpanCounts(enriched: DataFrame, routing: DataFrame): DataFrame =
    enriched
      .join(routing.filter(col("kept")).select("conv_id"), Seq("conv_id"))
      .groupBy("env", "site", "namespace", "service")
      .agg(count(lit(1)).as("sampled_span_count"))

  /** The reference's latency histogram with its FULL label set and the
    * cardinality cap applied (metrics.go:79-103 registration,
    * metric_helper.go:143-183 label building, :85-141 capping):
    * base labels env/site/namespace/service + span_kind (our span_class)
    * + status_code, then the config-driven `attributes_as_metric_labels`
    * columns, then the asserts request_type / request_context /
    * error_type attributes (getAttributesAsLabels, metric_helper.go:74-82).
    * Label names are prom-normalized; a configured attribute with no
    * corresponding column (or a NULL value) contributes "" — the span ->
    * resource -> "" fallback of buildLabels ends at "" (our flat enriched
    * relation already carries resource attrs as columns, so column
    * presence IS the fallback).
    *
    * `captureMetrics = false` disables the histogram entirely
    * (config.go `capture_metrics`; processor gate) — an empty relation
    * with the same schema.
    */
  def cappedLabeledHistogram(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default
  ): DataFrame = {
    val buckets = cfg.histogramBuckets
    val leExpr = buckets.reverse.foldLeft(lit(Double.PositiveInfinity)) {
      case (acc, bound) => when(col("latency_secs") <= bound, lit(bound)).otherwise(acc)
    }
    def strLabel(name: String): Column =
      if (enriched.columns.contains(name)) coalesce(col(name).cast("string"), lit(""))
      else lit("")
    val extra = cfg.captureAttributesInMetric.map(n => graft.functions.Norm.promName(n) -> strLabel(n))
    val labels: Seq[(String, Column)] =
      Seq(
        "asserts_env" -> col("env"),
        "asserts_site" -> col("site"),
        "namespace" -> col("namespace"),
        "service" -> col("service"),
        "span_kind" -> col("span_class"),
        "status_code" -> strLabel("status_code")
      ) ++ extra ++ Seq(
        "asserts_request_type" -> strLabel("request_type"),
        "asserts_request_context" -> strLabel("request_context"),
        "asserts_error_type" -> strLabel("error_type")
      )
    // same post-aggregation cap as fineRollup: aggregate first (carrying
    // group min event time), derive the first-seen dim from the aggregate
    // (Spark reuses the exchange), then drop over-cap contexts
    val gated = if (cfg.captureMetrics) enriched else enriched.filter(lit(false))
    // the cap ranks/joins on the RAW request_context (NULL contexts drop
    // out of the null-unsafe join, matching the reference's attribute
    // lookup), while the emitted label coalesces NULL to ""
    val rawAllPlan = gated
      .filter(col("span_class") =!= "internal")
      .withColumn("le", leExpr)
      .groupBy(
        col("service_key") +: col("request_context") +: col("le") +:
          labels.map { case (n, c) => c.as(n) }: _*
      )
      .agg(count(lit(1)).as("bucket_count"), min(col("ts")).as("ts_min"))
    // cached for the same reason as fineRollup: the first-seen cap dim
    // below re-aggregates this relation (pruning would specialize a
    // second full span-level aggregation branch otherwise)
    val rawAll = graft.CacheBook.cached(rawAllPlan)
    val admitted = firstSeenRank(rawAll, "service_key", "request_context", "ts_min", "ctx_rank")
      .filter(col("ctx_rank") <= cfg.limitPerService)
      .select("service_key", "request_context")
    val raw = rawAll
      .join(broadcast(admitted), Seq("service_key", "request_context"))
      .drop("service_key", "request_context", "ts_min")
    import org.apache.spark.sql.expressions.Window
    val cumW = Window
      .partitionBy(labels.map(l => col(l._1)): _*)
      .orderBy("le")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    raw
      .withColumn("cumulative_count", sum("bucket_count").over(cumW))
      .select(labels.map(l => col(l._1)) ++ Seq(col("le"), col("bucket_count"), col("cumulative_count")): _*)
  }

  /** All metric tables as ONE long-format relation (metric_name, label
    * columns, value) — the shape of the reference's single Prometheus
    * scrape endpoint (metrics_exporter.go:22-56), and one write instead
    * of five: per-action driver overhead (planning, AQE, commit) is the
    * Amdahl term of the whole job, so fewer actions is a scaling feature,
    * not just tidiness.
    */
  /** Version label of the build-info gauge (metrics.go:105-121). */
  val BuildVersion = "0.1.0"

  def prometheusTable(
      traceCounts: DataFrame,
      sampledCounts: DataFrame,
      spanCounts: DataFrame,
      red: DataFrame,
      histogram: DataFrame,
      sampledSpanCounts: DataFrame = null,
      version: String = BuildVersion
  ): DataFrame = {
    val n = lit(null).cast("string")
    val nl = lit(null).cast("long")
    def shape(
        df: DataFrame, metric: String, value: Column,
        sampleType: Column = null, namespace: Column = null, service: Column = null,
        requestContext: Column = null, winStart: Column = null, le: Column = null,
        env: Column = null, site: Column = null, ver: Column = null
    ): DataFrame =
      df.select(
        lit(metric).as("metric_name"),
        Option(env).getOrElse(n).as("env"),
        Option(site).getOrElse(n).as("site"),
        Option(sampleType).getOrElse(n).as("sample_type"),
        Option(namespace).getOrElse(n).as("namespace"),
        Option(service).getOrElse(n).as("service"),
        Option(requestContext).getOrElse(n).as("request_context"),
        Option(winStart).getOrElse(nl).as("win_start_us"),
        Option(le).getOrElse(lit(null).cast("double")).as("le"),
        Option(ver).getOrElse(n).as("version"),
        value.cast("double").as("value")
      )
    // the build-info gauge: one constant row, value 1
    // (asserts_otelcol_build_info{version}, metrics.go:105-121,58)
    val buildInfo = shape(
      traceCounts.sparkSession.range(1).toDF(),
      "asserts_otelcol_build_info", lit(1.0), ver = lit(version))
    buildInfo.unionByName(
    shape(traceCounts, "asserts_trace_count_total", col("trace_count"),
      env = col("env"), site = col("site"))
      .unionByName(shape(sampledCounts, "asserts_trace_sampled_count_total", col("sampled_count"),
        env = col("env"), site = col("site"), sampleType = col("sample_type")))
      .unionByName(shape(spanCounts, "asserts_span_count_total", col("span_count"),
        env = col("env"), site = col("site"), namespace = col("namespace"), service = col("service")))
      .unionByName(shape(red, "red_requests_total", col("requests"),
        service = col("service"), requestContext = col("request_context"), winStart = col("win_start_us")))
      .unionByName(shape(red, "red_errors_total", col("errors"),
        service = col("service"), requestContext = col("request_context"), winStart = col("win_start_us")))
      .unionByName(shape(red, "red_duration_seconds_sum", col("duration_sum_secs"),
        service = col("service"), requestContext = col("request_context"), winStart = col("win_start_us")))
      .unionByName(shape(red, "red_duration_seconds_max", col("duration_max_secs"),
        service = col("service"), requestContext = col("request_context"), winStart = col("win_start_us")))
      .unionByName(shape(histogram, "otel_span_latency_seconds_bucket", col("cumulative_count"),
        service = col("service"), le = col("le")))
      .unionByName(
        Option(sampledSpanCounts)
          .map(ssc => shape(ssc, "asserts_span_sampled_count_total", col("sampled_span_count"),
            env = col("env"), site = col("site"), namespace = col("namespace"), service = col("service")))
          .getOrElse(shape(spanCounts.filter(lit(false)), "asserts_span_sampled_count_total", col("span_count"),
            env = col("env"), site = col("site"), namespace = col("namespace"), service = col("service")))))
  }

  /** Render the long-format metric relation ([[prometheusTable]]) into
    * Prometheus text-exposition lines — `name{label="v",...} value` —
    * the exact shape the reference serves from its scrape endpoint
    * (metrics_exporter.go:22-56). Label values are escaped per the
    * exposition format (backslash, quote, newline); NULL labels are
    * omitted from the brace set like an unset Prometheus label. One
    * projection, no shuffle — a `.write.text(...)` away from a
    * scrape-able file per batch.
    */
  def prometheusText(table: DataFrame): DataFrame = {
    def esc(c: Column): Column =
      regexp_replace(
        regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
        "\n", "\\\\n"
      )
    def labelOf(name: String, c: Column): Column =
      when(c.isNotNull, concat(lit(name + "=\""), esc(c.cast("string")), lit("\"")))
    val labels = array(
      labelOf("asserts_env", col("env")),
      labelOf("asserts_site", col("site")),
      labelOf("sample_type", col("sample_type")),
      labelOf("namespace", col("namespace")),
      labelOf("service", col("service")),
      labelOf("asserts_request_context", col("request_context")),
      labelOf("win_start_us", col("win_start_us")),
      // exposition convention: the top bucket is le="+Inf"
      labelOf(
        "le",
        when(col("le") === Double.PositiveInfinity, lit("+Inf"))
          .otherwise(col("le").cast("string"))
      ),
      labelOf("version", col("version"))
    )
    // integer-valued samples render as "<n>.0" explicitly: Spark's
    // double-to-string cast flips to scientific notation at >= 1e7
    // ("1.0E7") while other engines (and scrape parsers' expectations)
    // print "10000000.0" — counters at the 100M-span scale cross that
    // threshold, so the long-cast path keeps the exposition exact at any
    // magnitude (the guard keeps the cast inside exact-double range)
    val v = col("value")
    val valueStr =
      when(abs(v) < 1e15 && v === floor(v), concat(v.cast("long").cast("string"), lit(".0")))
        .otherwise(v.cast("string"))
    table.select(
      concat(
        col("metric_name"),
        lit("{"),
        array_join(filter(labels, _.isNotNull), ","),
        lit("} "),
        valueStr
      ).as("line")
    )
  }

  /** Direct (single-table) forms, kept for API completeness. */
  def redRollup(enriched: DataFrame, windowMinutes: Int = 5): DataFrame =
    redRollupFrom(fineRollup(enriched, PipelineConfig.default, windowMinutes))

  def latencyHistogram(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default
  ): DataFrame =
    latencyHistogramFrom(fineRollup(enriched, cfg))
}
