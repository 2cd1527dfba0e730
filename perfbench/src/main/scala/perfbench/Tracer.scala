package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-tag task totals of the jobs submitted inside one tagged window. */
final case class TagStats(
    wallS: Double,
    jobs: Int,
    busyS: Double,
    shuffleMb: Double,
    spillMb: Double,
    peakMemMb: Double,
    fetchWaitS: Double,
    taskSkew: Double
)

/** Tags every Spark job with the benchmark window (a layer or a query)
  * that was open on the driver when the job was submitted, and sums the
  * task metrics per tag.
  *
  * Windows are opened and closed by the benchmark's single driver thread,
  * one at a time, around the public call it is timing. Attribution is by
  * submission time rather than by thread-local job properties, so jobs
  * that the engine submits from its own threads (parallel sink writes,
  * broadcast builds) are charged to the window that caused them.
  *
  * The listener is attached, and the cache sampled, only inside [[on]]:
  * work outside it runs exactly as in an untraced run.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  val cache = new CacheSampler(spark)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val windows = new ConcurrentLinkedQueue[Window]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time, e.stageIds))
    started.incrementAndGet(); events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet(); events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(
      e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.peakExecutionMemory, m.shuffleReadMetrics.fetchWaitTime))
    events.incrementAndGet()
  }

  /** Run `f` inside a window named `tag`; returns its result and wall. */
  def window[A](tag: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val startMs = System.currentTimeMillis()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    windows.add(Window(tag, startMs, System.currentTimeMillis(), wall))
    (a, wall)
  }

  /** Run `f` with the listener attached and the cache sampler running;
    * detach once every event of `f`'s jobs has been delivered. */
  def on[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(this)
    cache.active = true
    try f
    finally {
      settle()
      cache.active = false
      sc.removeSparkListener(this)
    }
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and no event arrived for one poll interval (bounded). */
  def settle(maxWaitMs: Long = 10000): Unit = {
    var last = -1L
    var waited = 0L
    while ((events.get() != last || started.get() != ended.get()) && waited < maxWaitMs) {
      last = events.get()
      Thread.sleep(150)
      waited += 150
    }
  }

  /** Totals per tag. A job belongs to the last window that opened at or
    * before its submission and closed at or after it; a stage belongs to
    * the first job that listed it. */
  def stats(): Map[String, TagStats] = {
    val ws = windows.asScala.toSeq.sortBy(_.startMs)
    val jobTag = jobs.asScala.toSeq.flatMap { j =>
      ws.filter(w => w.startMs <= j.submitMs && j.submitMs <= w.endMs).lastOption.map(w => j -> w.tag)
    }
    val stageTag = scala.collection.mutable.Map[Int, String]()
    jobTag.sortBy(_._1.id).foreach { case (j, tag) => j.stages.foreach(s => stageTag.getOrElseUpdate(s, tag)) }
    val byTag = tasks.asScala.toSeq.groupBy(t => stageTag.get(t.stage))
    val mb = 1024.0 * 1024.0
    ws.groupBy(_.tag).map { case (tag, tws) =>
      val ts = byTag.getOrElse(Some(tag), Nil)
      val runs = ts.map(_.runMs).sorted
      val skew =
        if (runs.isEmpty) 0.0
        else runs.last.toDouble / math.max(runs(runs.size / 2), 1L).toDouble
      tag -> TagStats(
        wallS = tws.map(_.wallS).sum,
        jobs = jobTag.count(_._2 == tag),
        busyS = ts.map(_.runMs).sum / 1e3,
        shuffleMb = ts.map(_.shuffleWrite).sum / mb,
        spillMb = ts.map(_.diskSpill).sum / mb,
        peakMemMb = if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb,
        fetchWaitS = ts.map(_.fetchWaitMs).sum / 1e3,
        taskSkew = skew
      )
    }
  }
}

object Tracer {
  private final case class Job(id: Int, submitMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, runMs: Long, shuffleWrite: Long, diskSpill: Long,
      peakMem: Long, fetchWaitMs: Long)
  private final case class Window(tag: String, startMs: Long, endMs: Long, wallS: Double)
}

/** Samples the session's cached relations while it is active: the peak
  * number of cached RDDs and the peak bytes they hold. */
final class CacheSampler(spark: SparkSession) {
  @volatile var active = false
  @volatile private var running = true
  @volatile var peakEntries = 0
  @volatile var peakBytes = 0L
  private val thread = new Thread(() => {
    while (running) {
      if (active) {
        val sc = spark.sparkContext
        peakEntries = math.max(peakEntries, sc.getPersistentRDDs.size)
        peakBytes = math.max(peakBytes, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      }
      Thread.sleep(100)
    }
  }, "perfbench-cache-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }
}
