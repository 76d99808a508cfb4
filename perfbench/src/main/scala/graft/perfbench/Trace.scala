package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.perfbench.SqlEvents

import scala.collection.mutable

/** A recorded interval. Wall-clock milliseconds (`startMs`/`endMs`) line
  * spans up with listener events; `seconds` comes from the monotonic
  * clock. The span id doubles as the Spark job group of the calls made
  * inside it, which is how jobs, tasks and executed plans find it. */
final case class Span(id: String, name: String, layer: String, module: String,
                      kind: String, parent: String, pass: Int,
                      startMs: Long, endMs: Long, seconds: Double)

/** Per-stage task totals, keyed by the job group that submitted it. */
final class StageAcc {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var shuffleRecords = 0L; var spillBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** A Spark job: the job group (span id) that submitted it and when. */
final case class Job(group: String, execution: Long, startMs: Long, var endMs: Long)

/** The benchmark's own listener: job intervals, task metrics, and per
  * SQL execution its job group and executed-plan figures. */
final class SparkTrace extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageGroup = mutable.Map.empty[Int, String]
  val stages = mutable.Map.empty[(String, Int), StageAcc]
  val execGroup = mutable.Map.empty[Long, String]
  val plans = mutable.Map.empty[Long, Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("")
    val x = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(g, x, e.time, e.time)
    e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, g))
    if (x >= 0) execGroup.getOrElseUpdate(x, g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val acc = stages.getOrElseUpdate((g, e.stageId), new StageAcc)
    acc.tasks += 1
    acc.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(g => execGroup.getOrElseUpdate(s.executionId, g)) }
    case _ => SqlEvents.finished(e).foreach { case (id, qe) =>
      val stats = PlanTrace.statsOf(qe)
      synchronized { plans(id) = stats }
    }
  }
}

/** Figures of one executed query: plan-shape counts, scan and sink
  * volumes, and planning phase times. */
object PlanTrace extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  def statsOf(qe: QueryExecution): Map[String, Double] = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    def count(f: SparkPlan => Boolean): Double = nodes.count(f).toDouble
    val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val phases = qe.tracker.phases
    def phaseS(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val sinks = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    Map(
      "exchanges" -> count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcast_joins" -> count(p => p.isInstanceOf[BroadcastHashJoinExec] ||
                                      p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "sortmerge_joins" -> count(_.isInstanceOf[SortMergeJoinExec]),
      "codegen_stages" -> count(_.isInstanceOf[WholeStageCodegenExec]),
      "udf_nodes" -> exprs.count(e => e.isInstanceOf[ScalaUDF] ||
        e.getClass.getSimpleName.startsWith("ScalaAggregator") ||
        e.getClass.getSimpleName.startsWith("ScalaUDAF")).toDouble,
      "topk_rewrites" -> count(_.getClass.getSimpleName == "TopKPerGroupExec"),
      "kernel_rewrites" -> exprs.count(_.isInstanceOf[graft.functions.Sketches.DotProduct]).toDouble,
      "input_bytes" -> scans.map(metric(_, "filesSize")).sum,
      "input_rows" -> scans.map(metric(_, "numOutputRows")).sum,
      "scan_s" -> scans.map(metric(_, "scanTime")).sum / 1e3,
      "output_bytes" -> sinks.map(_.get("numOutputBytes").map(_.value.toDouble)
                                    .getOrElse(0.0)).sum,
      "planning_s" -> (phaseS("analysis") + phaseS("optimization") + phaseS("planning")))
  }
}

/** Span recorder plus the listener. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  val spark = new SparkTrace
  /** streaming run id → span id: micro-batches run under the query's
    * own job group, not the caller's. */
  val streamGroups = mutable.Map.empty[String, String]
  private var next = 0

  def newId(): String = synchronized { next += 1; s"pb-$next" }

  def record[T](id: String, name: String, layer: String, module: String,
                kind: String, parent: String, pass: Int)(body: => T): T = {
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally spans += Span(id, name, layer, module, kind, parent, pass, ms0,
                          System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
  }
}
