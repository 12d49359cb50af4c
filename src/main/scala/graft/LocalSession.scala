package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory behind the repo's `main`s:
  * `SPARK_GRAFT_CPUS` threads (default `defaultCpus`), shuffle
  * partitions from `SPARK_GRAFT_SHUFFLE` (default: the thread count, the
  * way scaling-curve runs size partitions with the data), no UI, and the
  * session time zone pinned to UTC — load-bearing for `Tables.load`'s
  * TIMESTAMP_NTZ normalization, whose NTZ→timestamp cast reads the
  * session zone, so wall clocks map onto the epoch micros the DuckDB
  * oracle computes on any host.
  */
object LocalSession {
  def cpus(defaultCpus: String = "4"): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)

  def apply(logLevel: String = "WARN", defaultCpus: String = "4"): SparkSession = {
    val threads = cpus(defaultCpus)
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", threads))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
