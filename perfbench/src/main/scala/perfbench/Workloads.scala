package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheBook, OracleSql, Pipeline, PipelineOutputs, SparkEntry}
import graft.model.PipelineConfig
import graft.operators.{Aggregates, Enrich, Parse, Route}

/** CPU time of this JVM (all threads: tasks, JIT, GC), in seconds. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9
}

/** One run's settings and its report (named raw measurements; the Python
  * side turns them into metrics and checks them). */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    scale: Double,
    work: String,
    tracer: Option[Tracer],
    report: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
) {
  /** Time `f`; inside a traced run also tag the jobs it submits. */
  def window[A](tag: String)(f: => A): (A, Double) = tracer match {
    case Some(t) => t.window(tag)(f)
    case None => Workloads.timedS(f)
  }

  /** Run `f` with the tracer's listener attached (a traced run only). */
  def traced[A](f: => A): A = tracer.fold(f)(_.on(f))
}

object Workloads {

  private val cfg = PipelineConfig.default

  /** Drop every cached relation and wait until their blocks are gone, so
    * the next operation starts from the same empty cache. */
  def releaseCaches(spark: SparkSession): Unit = {
    CacheBook.release()
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    var waited = 0
    while ((sc.getRDDStorageInfo.nonEmpty || sc.getPersistentRDDs.nonEmpty) && waited < 5000) {
      Thread.sleep(50); waited += 50
    }
  }

  private def observed(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }

  private def sinkCountsOf(routed: DataFrame): Map[String, Long] = {
    val bySink = routed.groupBy("sink").count().collect()
      .map(r => s"sink_${r.getString(0)}" -> r.getLong(1)).toMap
    val row = routed.agg(count(lit(1)), countDistinct(col("conv_id"), col("turn_idx"))).head()
    bySink ++ Map("routed_rows" -> row.getLong(0), "distinct_turns" -> row.getLong(1))
  }

  /** Bytes of the data files the sinks wrote, from the lineage manifest. */
  private def manifestBytes(dir: String): Long = {
    val text = Files.readString(Paths.get(dir, "_lineage.jsonl"))
    "\"bytes\": (\\d+)".r.findAllMatchIn(text).map(_.group(1).toLong).sum
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally paths.close()
    }
  }

  // ------------------------------------------------------------ pipeline

  private val planGroups = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One closed-loop job, `JobMain`'s: run the pipeline, fill the
    * enriched cache, write every sink with lineage into `dir`. With
    * `check`, the written sinks are read back after the timed region.
    * Never traced; the Spark jobs submitted while `Pipeline.run` builds
    * the relations are counted through a job group. Returns the job's
    * report. */
  private def pipelineJob(ctx: Ctx, turns: DataFrame, dir: String, check: Boolean)
      : mutable.LinkedHashMap[String, Any] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val rep = mutable.LinkedHashMap[String, Any]()
    val planGroup = s"perfbench-plan-${planGroups.incrementAndGet()}"
    val cpu0 = Cpu.seconds()
    val ((out, counts), wall) = timedS {
      sc.setJobGroup(planGroup, "Pipeline.run")
      val (out, constructS) = try timedS { Pipeline.run(spark, turns, cfg) } finally sc.clearJobGroup()
      rep("construct_s") = constructS
      rep("construct_jobs") = sc.statusTracker.getJobIdsForGroup(planGroup).length
      out.enriched.count()
      (out, Pipeline.writeSinks(out, dir, lineage = true))
    }
    rep("wall_s") = wall
    rep("cpu_s") = Cpu.seconds() - cpu0
    rep("observed") = observed(out.observation)
    rep("written_bytes") = manifestBytes(dir)
    val manifestRows = "\"sink\": \"sinks\", \"rows\": (\\d+)".r
      .findFirstMatchIn(Files.readString(Paths.get(dir, "_lineage.jsonl"))).map(_.group(1).toLong)
    val readBack = if (check) sinkCountsOf(spark.read.parquet(s"$dir/sinks")) else Map.empty[String, Long]
    rep("sinks") = counts ++ readBack.map { case (k, v) => s"written_$k" -> v } ++
      manifestRows.map("manifest_rows" -> _)
    deleteTree(dir)
    out.unpersistAll()
    releaseCaches(spark)
    rep
  }

  /** The traced job: the same relations built from the engine's public
    * layer functions, each layer forced and cached before the next one
    * starts, so each layer's jobs (and `Route.convRouting`'s fill at
    * construction) are charged to that layer. The sink layer re-reads
    * `turns` for the routed-turn join, as the untraced job does. */
  private def tracedJob(ctx: Ctx, turns: DataFrame, dir: String, enrichedCols: Seq[String])
      : mutable.LinkedHashMap[String, Any] = {
    val spark = ctx.spark
    val rows = mutable.LinkedHashMap[String, Long]()
    val obs = Observation()
    val t0 = System.nanoTime()
    val (src, _) = ctx.window("sources") { val c = turns.cache(); rows("sources") = c.count(); c }
    val (parsed, _) = ctx.window("parse") {
      val p = Parse.parsed(Enrich.withServiceDim(src, spark)).cache(); rows("parse") = p.count(); p
    }
    val (enriched, _) = ctx.window("enrich") {
      // the pruned columns and stage counters of Pipeline.run's enriched relation
      val e = Enrich.withFlags(Enrich.withThreshold(parsed, spark, cfg), cfg)
        .select(enrichedCols.map(col): _*)
        .observe(
          obs,
          count(lit(1)).as("turns_enriched"),
          sum(when(col("is_error"), 1L).otherwise(0L)).as("error_spans"),
          sum(when(col("is_slow_span"), 1L).otherwise(0L)).as("slow_spans"),
          approx_count_distinct(col("conv_id")).as("approx_convs"))
        .cache()
      rows("enrich") = e.count(); e
    }
    val (routing, _) = ctx.window("route") {
      val r = Route.convRouting(enriched, cfg, eagerCache = true).cache(); rows("route") = r.count(); r
    }
    val ((raw, rollup), _) = ctx.window("rollup") {
      val raw = Aggregates.fineRollupRaw(enriched, cfg).cache(); rows("rollup") = raw.count()
      (raw, Aggregates.capRollup(raw, cfg))
    }
    val out = PipelineOutputs(
      enriched = enriched, routing = routing, routedTurns = Route.routedTurns(turns, routing),
      fineRollupRaw = raw, fineRollup = rollup,
      traceCounts = Aggregates.traceCounts(routing),
      sampledTraceCounts = Aggregates.sampledTraceCounts(routing),
      spanCounts = Aggregates.spanCounts(enriched),
      sampledSpanCounts = Aggregates.sampledSpanCounts(enriched, routing),
      redRollup = Aggregates.redRollupFrom(rollup),
      latencyHistogram = Aggregates.latencyHistogramFrom(rollup),
      observation = obs)
    ctx.window("derive") {
      rows("derive") = Seq(out.traceCounts, out.sampledTraceCounts, out.spanCounts, out.sampledSpanCounts,
        out.redRollup, out.latencyHistogram,
        Aggregates.prometheusTable(out.traceCounts, out.sampledTraceCounts, out.spanCounts, out.redRollup,
          out.latencyHistogram, out.sampledSpanCounts)).map(_.count()).sum
    }
    val (counts, _) = ctx.window("sink") { Pipeline.writeSinks(out, dir, lineage = true) }
    rows("sink") = counts.values.sum
    val rep = mutable.LinkedHashMap[String, Any](
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "observed" -> observed(obs),
      "sinks" -> counts,
      "written_bytes" -> manifestBytes(dir),
      "rows" -> rows)
    deleteTree(dir)
    Seq(src, parsed, enriched, routing, raw).foreach(_.unpersist())
    releaseCaches(spark)
    rep
  }

  /** A warm-up job on `warmup` (untimed), then back-to-back jobs on
    * `turns` for the run's seconds (at least one; the first is also
    * checked). A traced run measures one job without the listener, then
    * the layer-by-layer job on the same input with it, and checks the
    * generator. */
  private def pipelineLoop(ctx: Ctx, warmup: DataFrame, turns: DataFrame, nTurns: Long, sinkRoot: String)
      : Unit = {
    val r = ctx.report
    r("input_turns") = nTurns
    var i = 0
    def attempt(f: String => Any): Any = {
      i += 1
      Try(f(s"$sinkRoot/job$i")).fold(e => Map("error" -> e.toString), identity)
    }
    r("warmup") = attempt(pipelineJob(ctx, warmup, _, check = false))
    val jobs = mutable.ArrayBuffer[Any]()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    do jobs += attempt(pipelineJob(ctx, turns, _, check = jobs.isEmpty))
    while (System.nanoTime() < deadline && ctx.tracer.isEmpty)
    r("jobs") = jobs
    if (ctx.tracer.isDefined) {
      r("generator_check") = generatorCheck(ctx.spark)
      val enrichedCols = Pipeline.run(ctx.spark, turns, cfg, cache = false).enriched.columns.toSeq
      releaseCaches(ctx.spark)
      r("traced") = attempt(dir => ctx.traced(tracedJob(ctx, turns, dir, enrichedCols)))
    }
  }

  /** The default-seed generator against the engine's own generator, on a
    * small skewed table: row count and row digest must be equal. */
  def generatorCheck(spark: SparkSession): Map[String, Any] = {
    val ours = Inputs.digest(Inputs.transcripts(spark, Inputs.DefaultSeed, 2000, 5, 2, 50))
    val theirs = Inputs.digest(graft.sources.TranscriptGen.synthetic(spark, 2000, 5, hotConvs = 2, hotFactor = 50))
    Map("ours" -> Seq(ours._1, ours._2), "engine" -> Seq(theirs._1, theirs._2))
  }

  /** Stage `graft.Bench`'s skewed pipeline_gen table (390,000 conversations
    * of 5 turns plus 5 hot ones of 50,000), scaled, as parquet; once per
    * seed and scale. Returns (path, turns). */
  private def stageSkewed(ctx: Ctx, seed: Long, scale: Double): (String, Long) = {
    val nConvs = math.round(390000 * scale)
    val hotFactor = math.max(1L, math.round(10000 * scale)).toInt
    val path = s"${ctx.work}/stage/skewed-seed$seed-scale$scale"
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      Inputs.transcripts(ctx.spark, seed, nConvs, 5, hotConvs = 5, hotFactor = hotFactor)
        .write.mode("overwrite").parquet(path)
    (path, nConvs * 5 + 5L * 5 * hotFactor)
  }

  /** DuckDB SQL of the engine's correctness oracle (`graft.OracleSql`)
    * over a staged transcript table: the pipeline's counters and the
    * routed turns per sink, which `run.py` checks every job against. */
  private def oracleSql(path: String): Map[String, String] = {
    val ctes = (s"WITH transcripts AS (SELECT * FROM read_parquet('$path/*.parquet'))" +:
      Seq(OracleSql.parsedCte, OracleSql.enrichedCte, OracleSql.routingCte)).mkString(",\n")
    Map(
      "counters" -> (ctes + "\nSELECT count(*) AS turns_enriched," +
        " count(*) FILTER (WHERE is_error) AS error_spans," +
        " count(*) FILTER (WHERE is_slow_span) AS slow_spans FROM enr"),
      "sinks" -> (ctes + "\nSELECT 'sink_' || r.sink, count(*) FROM transcripts t" +
        " JOIN routing r ON t.conv_id = r.conv_id WHERE r.kept GROUP BY r.sink"))
  }

  /** `JobMain`'s job over the staged skewed table, after one warm-up job
    * on a default-seed table a sixteenth its size. */
  def jobSkew(ctx: Ctx): Unit = {
    val (((warmup, _), (staged, nTurns)), stageS) = timedS {
      (stageSkewed(ctx, Inputs.DefaultSeed, ctx.scale / 16), stageSkewed(ctx, ctx.seed, ctx.scale))
    }
    ctx.report("stage_s") = stageS
    ctx.report("staged") = staged
    ctx.report("oracle_sql") = oracleSql(staged)
    // the estimate the pipeline's approx_convs counter must reproduce
    ctx.report("input_approx_convs") =
      ctx.spark.read.parquet(staged).agg(approx_count_distinct(col("conv_id"))).head().getLong(0)
    val sinkRoot = s"${ctx.work}/out"
    deleteTree(sinkRoot)
    val read = ctx.spark.read.parquet(_: String)
    pipelineLoop(ctx, read(warmup), read(staged), nTurns, sinkRoot)
  }

  def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------- queries

  /** One pass over `names` in order: build each entry, then force it with
    * `count()` as `graft.Bench` does. Returns per-query measurements. */
  private def queryPass(ctx: Ctx, dir: String, names: Seq[String], prefix: String): Seq[Map[String, Any]] =
    names.map { name =>
      Try {
        val (df, constructS) = ctx.window(s"${prefix}plan:$name") { SparkEntry.queries(name)(ctx.spark, dir) }
        val (n, forceS) = ctx.window(s"${prefix}query:$name") { df.count() }
        Map[String, Any]("name" -> name, "construct_s" -> constructS, "wall_s" -> (constructS + forceS), "rows" -> n)
      }.fold(e => Map[String, Any]("name" -> name, "error" -> e.toString), identity)
    }

  /** Stage the suite's tables for a seed and scale, once. */
  private def stageQueryTables(ctx: Ctx, seed: Long, scale: Double): String = {
    val dir = s"${ctx.work}/stage/queries-seed$seed-scale$scale"
    if (!Files.exists(Paths.get(dir, "_SUCCESS"))) {
      Inputs.writeQueryTables(ctx.spark, seed, scale, dir)
      Files.writeString(Paths.get(dir, "_SUCCESS"), "")
    }
    dir
  }

  /** A warm-up pass over tables a tenth the size (untimed), then measured
    * passes for the run's seconds (at least one); the results are digested
    * after them. A traced run then times a pass without the listener and
    * one with it. */
  def queries(ctx: Ctx, names: Seq[String], digestNames: Seq[String], tablesSeed: Option[Long],
      tables: Option[String]): Unit = {
    val spark = ctx.spark
    val ((warmupDir, dir), stageS) = timedS {
      tables.map(t => (t, t)).getOrElse(
        (stageQueryTables(ctx, tablesSeed.get, ctx.scale / 10), stageQueryTables(ctx, tablesSeed.get, ctx.scale)))
    }
    ctx.report("stage_s") = stageS
    val untraced = ctx.copy(tracer = None)
    ctx.report("warmup") = queryPass(untraced, warmupDir, names, "")
    releaseCaches(spark)
    val telemetry = graft.Telemetry.register(spark)
    val passes = mutable.ArrayBuffer[Seq[Map[String, Any]]]()
    val cpu = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    do {
      if (passes.nonEmpty) releaseCaches(spark)
      val cpu0 = Cpu.seconds()
      // only the first pass is traced: its jobs are the per-query numbers
      passes += (if (passes.isEmpty) ctx.traced(queryPass(ctx, dir, names, "")) else queryPass(untraced, dir, names, ""))
      cpu += Cpu.seconds() - cpu0
    } while (System.nanoTime() < deadline && ctx.tracer.isEmpty)
    ctx.report("passes") = passes
    ctx.report("pass_cpu_s") = cpu
    // untimed: an order-insensitive digest of the chosen results, checked
    // against the recorded set
    ctx.report("digests") = digestNames.map { name =>
      name -> Try(Inputs.digest(SparkEntry.queries(name)(spark, dir)))
        .fold(e => Map("error" -> e.toString), d => Seq(d._1, d._2))
    }.toMap
    ctx.report("telemetry") = telemetry.settled()
    releaseCaches(spark)
    if (ctx.tracer.isDefined) {
      // paired passes for the tracing overhead: listener off, then on
      val plain = queryPass(untraced, dir, names, "again-")
      releaseCaches(spark)
      val traced = ctx.traced(queryPass(ctx, dir, names, "again-"))
      releaseCaches(spark)
      ctx.report("overhead_passes") = Seq(plain, traced)
    }
  }
}
