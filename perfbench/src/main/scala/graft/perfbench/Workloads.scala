package graft.perfbench

import graft.{Q, Registry, SparkEntry}
import graft.llm.PerfbenchStages
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call: a builder returning the DataFrame whose full output
  * the pass consumes. `layer` is the repo module the call enters
  * (sources, functions, operators, llm, streaming); `module` the object
  * that declares it. `oracle` is the key's DuckDB SQL when it has one. */
final case class Step(name: String, layer: String, module: String,
                      build: (SparkSession, String) => DataFrame,
                      oracle: Option[String])

/** `layouts` builds the write-once fixture layouts the workload reads; it
  * runs in set-up. */
sealed trait Workload {
  def name: String
  def layouts: (SparkSession, String) => Unit
}

/** A batch workload: one pass runs every step in order on a new session,
  * so memoized stages are rebuilt in every pass. */
final case class Batch(name: String, steps: Seq[Step],
                       layouts: (SparkSession, String) => Unit) extends Workload

/** The incoming half of the documents replayed through
  * `Streams.ingestFunnel`, one file per trigger. */
final case class Stream(name: String, layouts: (SparkSession, String) => Unit)
  extends Workload

object Workloads {

  private val modules: Seq[(String, Seq[(String, Q)])] = Seq(
    "sources.Scans" -> graft.sources.Scans.qs,
    "operators.Filters" -> graft.operators.Filters.qs,
    "operators.Joins" -> graft.operators.Joins.qs,
    "operators.Aggs" -> graft.operators.Aggs.qs,
    "operators.Windows" -> graft.operators.Windows.qs,
    "operators.SetOps" -> graft.operators.SetOps.qs,
    "operators.EventsBatch" -> graft.operators.EventsBatch.qs,
    "operators.Geo" -> graft.operators.Geo.qs,
    "operators.Analytics" -> graft.operators.Analytics.qs,
    "operators.Insights" -> graft.operators.Insights.qs,
    "operators.Trends" -> graft.operators.Trends.qs,
    "operators.Profiling" -> graft.operators.Profiling.qs,
    "functions.Funcs" -> graft.functions.Funcs.qs,
    "functions.Custom" -> graft.functions.Custom.qs,
    "llm.Dedup" -> graft.llm.Dedup.qs,
    "llm.Similarity" -> graft.llm.Similarity.qs,
    "llm.TextAnalysis" -> graft.llm.TextAnalysis.qs,
    "llm.Multimodal" -> graft.llm.Multimodal.qs,
    "llm.Pipeline" -> graft.llm.Pipeline.qs,
    "llm.Curation" -> graft.llm.Curation.qs,
    "llm.Screens" -> graft.llm.Screens.qs,
    "llm.Signals" -> graft.llm.Signals.qs,
    "llm.Spectral" -> graft.llm.Spectral.qs,
    "llm.Training" -> graft.llm.Training.qs)

  private lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_._1 -> m) }.toMap

  /** Layer of a declared key: sources/sinks and `fn_` keys by prefix
    * (several are declared beside the operators that share their
    * helpers), everything else by its declaring module. */
  def layerOf(key: String): String =
    if (key.startsWith("src_") || key.startsWith("snk_")) "sources"
    else if (key.startsWith("fn_")) "functions"
    else if (key.startsWith("llm_")) "llm"
    else moduleOf(key).takeWhile(_ != '.')

  private def key(k: String): Step = {
    require(Registry.byName.contains(k), s"unknown key $k")
    Step(k, layerOf(k), moduleOf(k), Registry.byName(k).fn, SparkEntry.oracleSql.get(k))
  }

  /** The per-document ingest features both workloads read. */
  private val ingestFeatures: (SparkSession, String) => Unit =
    (s, dir) => { graft.llm.Dedup.ingestFeatPath(s, dir); () }

  /** A memoized dedup stage as its own call, so its build is timed apart
    * from the consumers that read it. */
  private def dedupStage(name: String)(build: (SparkSession, String) => DataFrame): Step =
    Step(s"stage:$name", "llm", "llm.Dedup", build, None)

  /** The nightly batch job in one pass: curator-format ingest (TSV, xlsx),
    * the reference's validation pipeline, operator analytics (top-n per
    * group, fuzzy string functions), the LLM dedup stages (rebuilt on the
    * pass's new session) and ingest funnel, and a partitioned sink. */
  val nightlyBatch: Batch = Batch("nightly_batch",
    Seq("src_csv", "src_xlsx", "q_pipeline_e2e", "q_win_topn_group", "fn_fuzzy")
      .map(key) ++
    Seq(dedupStage("shingles3")(PerfbenchStages.shingles3),
        dedupStage("near_pairs")(PerfbenchStages.nearPairs)) ++
    Seq("llm_ingest_e2e", "snk_partitioned").map(key),
    ingestFeatures)

  val streamIngest: Stream = Stream("stream_ingest", ingestFeatures)

  val all: Seq[Workload] = Seq(nightlyBatch, streamIngest)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (known: ${all.map(_.name).mkString(", ")})"))
}
