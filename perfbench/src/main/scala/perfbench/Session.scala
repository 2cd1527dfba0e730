package perfbench

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession

/** Counts the engine's own warnings that mark wasted work: a cache request
  * for a plan that is already cached, and a SQL function registered over
  * an existing one. Attached to the root logger after the session exists
  * (session start re-initialises log4j and would drop it). */
final class LogCounter
    extends AbstractAppender("perfbench-log-counter", null, null, true, Property.EMPTY_ARRAY) {
  val duplicateCacheRequests = new java.util.concurrent.atomic.AtomicLong(0)
  val functionReregistrations = new java.util.concurrent.atomic.AtomicLong(0)

  override def append(event: LogEvent): Unit = {
    val msg = event.getMessage.getFormattedMessage
    if (msg.contains("Asked to cache already cached data")) duplicateCacheRequests.incrementAndGet()
    if (msg.contains("replaced a previously registered function")) functionReregistrations.incrementAndGet()
  }
}

object LogCounter {
  def install(): LogCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val counter = new LogCounter
    counter.start()
    ctx.getConfiguration.addAppender(counter)
    ctx.getConfiguration.getRootLogger.addAppender(counter, null, null)
    ctx.updateLoggers()
    counter
  }
}

/** One `local[cores]` session configured as `graft.Bench` and `JobMain`
  * configure theirs, with every scratch directory inside `work`, and the
  * engine's SQL functions registered. */
object Session {
  def start(cores: Int, work: String): (SparkSession, LogCounter) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val logs = LogCounter.install()
    graft.SqlSurface.registerFunctions(spark)
    (spark, logs)
  }
}
