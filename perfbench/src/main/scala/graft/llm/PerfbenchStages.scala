package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's handle on the dedup stages and the prefix candidate
  * join, which are package-private to `graft.llm`. It only forwards: every call
  * runs the engine's own code, so a span around it times that code. */
object PerfbenchStages {
  def shingles3(s: SparkSession, dir: String): DataFrame = Dedup.shingled(s, dir)
  def nearPairs(s: SparkSession, dir: String): DataFrame = Dedup.nearPairs(s, dir)
  def prefixCandidates(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixCandidatesOf(Dedup.shingled(s, dir))
}
