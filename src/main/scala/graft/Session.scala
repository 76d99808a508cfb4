package graft

import org.apache.spark.sql.SparkSession

/** The one local session every `main` runs on. */
object Session {
  /** `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, UTC, the events `nanosAsLong` read, no UI, WARN logs and
    * the session install ([[Tables.configure]]). `conf` adds a caller's
    * own settings (StreamBench's state store). */
  def local(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
  }
}
