package graft

import org.apache.spark.sql.SparkSession

/** The one `local[N]` session of the engine's mains: N task slots, N
  * shuffle partitions, UTC session time zone, no UI. Adaptive execution
  * and its skew-join split are Spark's defaults and stay on. */
object Session {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
