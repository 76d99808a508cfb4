package graft

import org.apache.spark.sql.SparkSession

/** The one local session every `main` runs on. */
object Session {
  /** `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, no UI, WARN logs and the session install
    * ([[Tables.configure]]: UTC, the events `nanosAsLong` read, ...). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
  }
}
