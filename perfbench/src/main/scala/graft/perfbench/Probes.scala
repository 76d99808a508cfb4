package graft.perfbench

import graft.Tables
import graft.functions.Custom
import graft.llm.{Dedup, PerfbenchStages}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Traced-run extras: layer calls that no pass makes on its own, timed
  * from outside after the passes, plus the dump of every span and
  * listener record. */
object Probes {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The ingest funnel's three entry points on the batch split (even
    * doc_ids standing, odd incoming), the way the stream runs them. */
  private def ingest(s: SparkSession, dir: String): Map[String, Any] = {
    Custom.register(s)
    val (_, featurizeS) = timed(Main.consume(Dedup.featurize(Tables.documents(s, dir))))
    val feat = s.read.parquet(Dedup.ingestFeatPath(s, dir))
    val (idx, indexS) = timed {
      val idx = Dedup.standingIndexOf(feat.filter(col("doc_id") % 2 === 0))
      Seq(idx.standH, idx.bloom, idx.standC).foreach(_.persist().count())
      idx
    }
    val verdicts = Dedup.ingestVerdicts(feat.filter(col("doc_id") % 2 =!= 0), idx)
    val (_, verdictsS) = timed(Main.consume(verdicts))
    val counts = verdicts.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(idx.standH, idx.bloom, idx.standC).foreach(_.unpersist())
    Map("featurize_s" -> featurizeS, "index_s" -> indexS, "verdicts_s" -> verdictsS,
        "docs" -> counts.values.sum, "fastpath" -> counts.getOrElse("novel_fastpath", 0L))
  }

  def run(base: SparkSession, wl: Workload, dir: String): Map[String, Any] = {
    val s = Tables.configure(base.newSession())
    wl match {
      case _: Batch =>
        Map("candidate_pairs" -> PerfbenchStages.prefixCandidates(s, dir).count(),
            "verified_pairs" -> PerfbenchStages.nearPairs(s, dir).count(),
            "ingest" -> ingest(s, dir))
      case _: Stream => Map("ingest" -> ingest(s, dir))
    }
  }

  def dump(tr: Tracer): Map[String, Any] = {
    val st = tr.spark
    val jobs = st.synchronized {
      st.jobs.toSeq.map { case (id, j) =>
        Map("id" -> id, "group" -> j.group, "execution" -> j.execution,
            "start_ms" -> j.startMs, "end_ms" -> j.endMs) }
    }
    val stages = st.synchronized {
      st.stages.toSeq.map { case ((g, id), a) =>
        Map("group" -> g, "stage" -> id, "tasks" -> a.tasks, "run_ms" -> a.runMs,
            "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "shuffle_bytes" -> a.shuffleBytes,
            "shuffle_records" -> a.shuffleRecords, "spill_bytes" -> a.spillBytes,
            "task_ms" -> a.durations.toSeq) }
    }
    val plans = st.synchronized {
      st.plans.toSeq.map { case (id, p) =>
        p ++ Map("execution" -> id, "group" -> st.execGroup.getOrElse(id, "")) }
    }
    Map("spans" -> tr.spans.toSeq.map { sp =>
          Map("id" -> sp.id, "name" -> sp.name, "layer" -> sp.layer, "module" -> sp.module,
              "kind" -> sp.kind, "parent" -> sp.parent, "pass" -> sp.pass,
              "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "seconds" -> sp.seconds) },
        "jobs" -> jobs, "stages" -> stages, "plans" -> plans,
        "stream_groups" -> tr.streamGroups.toMap)
  }
}
