package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `run.py` starts it; it prints one `PERFBENCH`
  * line when the session is ready and one with the run's raw report.
  *
  *   --work DIR --cores N --workload W --seed S --seconds T --trace 0|1
  *   --scale X [--queries a,b --digest a (--tables-seed S | --tables DIR)]
  */
object Main {

  private def emit(fields: Map[String, Any]): Unit = {
    println("PERFBENCH " + Json(fields))
    System.out.flush()
  }

  private def peakRssMb(): Double = {
    val status = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
    status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (spark, logs) = Session.start(opts("cores").toInt, opts("work"))
    emit(Map("event" -> "ready"))
    var exitCode = 0
    try {
      val tracer = if (opts.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
      val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, opts("scale").toDouble,
        opts("work"), tracer)
      val t0 = System.nanoTime()
      opts("workload") match {
        case "job_skew" => Workloads.jobSkew(ctx)
        case "queries_sf01" =>
          Workloads.queries(ctx, opts("queries").split(',').toSeq,
            opts("digest").split(',').toSeq.filter(_.nonEmpty), opts.get("tables-seed").map(_.toLong),
            opts.get("tables"))
        case other => sys.error(s"unknown workload $other")
      }
      val r = ctx.report
      r("run_s") = (System.nanoTime() - t0) / 1e9
      tracer.foreach { t =>
        t.cache.stop()
        r("cache_entries_peak") = t.cache.peakEntries
        r("cache_resident_mb_peak") = t.cache.peakBytes / (1024.0 * 1024.0)
        r("tags") = t.stats().map { case (tag, s) =>
          tag -> mutable.LinkedHashMap[String, Any](
            "wall_s" -> s.wallS, "jobs" -> s.jobs, "busy_s" -> s.busyS, "shuffle_mb" -> s.shuffleMb,
            "spill_mb" -> s.spillMb, "peak_mem_mb" -> s.peakMemMb, "fetch_wait_s" -> s.fetchWaitS,
            "task_skew" -> s.taskSkew)
        }
      }
      r("duplicate_cache_requests") = logs.duplicateCacheRequests.get()
      r("function_reregistrations") = logs.functionReregistrations.get()
      r("gc_s") = gcSeconds()
      r("peak_rss_mb") = peakRssMb()
      emit(Map("event" -> "result", "report" -> r))
    } catch {
      case e: Throwable => e.printStackTrace(); exitCode = 1
    } finally {
      // everything the run wrote is complete; the next run clears Spark's
      // scratch directories, so skip the orderly shutdown
      System.out.flush()
      System.err.flush()
      Runtime.getRuntime.halt(exitCode)
    }
  }
}
