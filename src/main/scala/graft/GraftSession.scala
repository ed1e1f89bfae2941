package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every command-line tool runs on: `cores` local
  * threads and as many shuffle partitions, UTC session time, no UI, and
  * parquet TIMESTAMP(NANOS) read as LONG nanos (`Tables.events`
  * normalizes it). `extra` confs are applied last. */
object GraftSession {
  def local(cores: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset; any value that is
    * not a positive integer fails. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
}
