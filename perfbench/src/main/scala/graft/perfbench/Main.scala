package graft.perfbench

import graft.Tables
import graft.functions.Custom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** One benchmark run of one workload, in one JVM:
  *
  *  1. the seeded inputs are already in `<work>/data` (and the stream's
  *     backlog in `<work>/replay`), written by `inputs.py`;
  *  2. set-up, three times, each on a new SparkContext and an empty
  *     fixtures dir: session, function registration, warm-up reads and
  *     the workload's write-once layouts;
  *  3. one untimed warm-up pass, whose outputs are kept for the checks,
  *     then timed passes until `--seconds` have gone by (and at least
  *     `minPasses`). Every call's full output is consumed (`noop` write)
  *     and a call that throws is never a time;
  *  4. with `--trace 1`, traced and untraced passes alternate, and
  *     listener data, spans and the per-layer probes are dumped;
  *  5. output checks ([[Checks]]), untimed.
  *
  * Raw samples go to `<work>/result.json`; `run.py` turns them into
  * metrics and runs the DuckDB compare.
  *
  * {{{ Main --workload nightly_batch --seconds 5 --trace 0 --work <dir> }}} */
object Main {

  final case class Opts(workload: String, seconds: Double, trace: Boolean, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seconds").toDouble, m.getOrElse("trace", "0") == "1",
         new File(need("work")).getAbsolutePath)
  }

  private val cpus = Runtime.getRuntime.availableProcessors()

  private def session(work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the funnel's dedup state, as StreamBench configures it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.configure(s)
  }

  private def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(wipe)
    f.delete()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Consume a call's whole output: every row and column is produced,
    * nothing is kept. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // Every fixture layout of this run lands under its own work dir, so
    // nothing one run builds is found by the next.
    val fixtures = new File(s"${o.work}/fixtures")
    sys.props("graft.fixtures.dir") = fixtures.toString
    val wl = Workloads.byName(o.workload)
    val dataDir = s"${o.work}/data"
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "cpus" -> cpus, "trace" -> o.trace,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))

    // set-up
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      wipe(fixtures)
      val t0 = System.nanoTime()
      spark = session(o.work)
      Custom.register(spark)
      graft.Registry.all.size
      spark.range(1000000L).selectExpr("sum(id)").collect()
      new File(dataDir).list().foreach(t => spark.read.parquet(s"$dataDir/$t").schema)
      val tl = System.nanoTime()
      wl.layouts(spark, dataDir)
      Map("total_s" -> secs(t0), "layout_s" -> secs(tl))
    }
    out("setup") = setups

    // passes
    val tracer = if (o.trace) Some(new Tracer) else None
    val minPasses = 4
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runner = new Passes(spark, wl, dataDir, o.work, tracer, failures)
    passes += runner.run(0, traced = false)
    val tMeasure = System.nanoTime()
    var i = 1
    while ((i <= minPasses || secs(tMeasure) < o.seconds) && i <= 200) {
      // traced passes 1, 4, 5, 8, ...: as many early as late ones, so the
      // JIT's warming trend does not bias traced against untraced
      passes += runner.run(i, traced = o.trace && i % 4 <= 1)
      i += 1
    }
    out("measure_s") = secs(tMeasure)
    out("passes") = passes.toSeq

    // per-layer probes and the trace dump
    tracer.foreach { tr =>
      out("probes") = Probes.run(spark, wl, dataDir)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      out("trace") = Probes.dump(tr)
    }

    // checks: batch outputs were kept by the warm-up pass; the stream's
    // are the last timed pass's micro-batch files
    val tCheck = System.nanoTime()
    if (wl.isInstanceOf[Stream]) {
      try runner.checks.stream(spark, dataDir, runner.lastStreamOutput)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] stream check FAILED: $e")
        failures += Map("name" -> "ingest_funnel.check", "pass" -> -1, "error" -> e.toString)
      }
    }
    out("checks") = runner.checks.result()
    out("check_s") = secs(tCheck)
    out("failures") = failures.toSeq
    out("peak_rss_mb") = peakRssMb()
    Json.write(new File(s"${o.work}/result.json"), out)
    spark.stop()
  }
}

/** Runs passes of one workload against the set-up session.
  *
  * The warm-up pass (index 0) is the check pass: instead of discarding a
  * call's output it hands it to [[Checks]]. Timed passes consume every
  * output with a `noop` write. */
final class Passes(base: SparkSession, wl: Workload, dataDir: String,
                   work: String, tracer: Option[Tracer],
                   failures: mutable.ArrayBuffer[Map[String, Any]]) {

  val checks = new Checks(s"$work/checks")
  var lastStreamOutput: Seq[String] = Nil

  private def fresh(): SparkSession = {
    val s = Tables.configure(base.newSession())
    Custom.register(s)
    s
  }

  def run(index: Int, traced: Boolean): Map[String, Any] = {
    val tr = tracer.filter(_ => traced)
    val sc = base.sparkContext
    tr.foreach(t => sc.addSparkListener(t.spark))
    val passId = tr.map(_.newId()).getOrElse("")
    val t0 = System.nanoTime()
    val body = try wl match {
      case b: Batch => batch(b, index, tr, passId)
      case _: Stream => stream(index, tr, passId)
    } finally tr.foreach { t =>
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(t.spark)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.foreach(_.spans += Span(passId, s"pass-$index", "", "", "pass", "", index,
                                0L, 0L, wall))
    body ++ Map("index" -> index, "warmup" -> (index == 0), "traced" -> traced,
                "wall_s" -> wall)
  }

  /** Run `body` as one call: timed, traced when `tr` is set, and a throw
    * recorded as a failure, never as a time. */
  private def call(s: SparkSession, name: String, layer: String, module: String,
                   index: Int, tr: Option[Tracer], passId: String)
                  (body: String => Unit): (Boolean, Double, String) = {
    val id = tr.map(_.newId()).getOrElse("")
    tr.foreach(_ => s.sparkContext.setJobGroup(id, name))
    val t0 = System.nanoTime()
    val ok = try {
      tr match {
        case Some(t) => t.record(id, name, layer, module, "call", passId, index)(body(id))
        case None => body(id)
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name FAILED in pass $index: $e")
      failures += Map("name" -> name, "pass" -> index, "error" -> e.toString)
      false
    } finally tr.foreach(_ => s.sparkContext.clearJobGroup())
    (ok, (System.nanoTime() - t0) / 1e9, id)
  }

  private def batch(b: Batch, index: Int, tr: Option[Tracer],
                    passId: String): Map[String, Any] = {
    val s = fresh()
    val steps = b.steps.map { st =>
      var built = 0.0
      val (ok, total, id) = call(s, st.name, st.layer, st.module, index, tr, passId) { _ =>
        val t0 = System.nanoTime()
        val df = st.build(s, dataDir)
        built = (System.nanoTime() - t0) / 1e9
        if (index == 0) checks.keep(st, df) else Main.consume(df)
      }
      Map("name" -> st.name, "layer" -> st.layer, "module" -> st.module, "ok" -> ok,
          "build_s" -> built, "total_s" -> total, "span" -> id)
    }
    Map("steps" -> steps)
  }

  private def stream(index: Int, tr: Option[Tracer], passId: String): Map[String, Any] = {
    val s = base
    val dir = s"$work/stream/pass-$index"
    val outDir = s"$dir/out"
    val docs = Tables.documents(s, dataDir)
    val standFeat = s.read.parquet(graft.llm.Dedup.ingestFeatPath(s, dataDir))
      .filter(col("doc_id") % 2 === 0)
    var progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    var started = 0.0
    val (ok, drainS, id) = call(s, "ingest_funnel", "streaming", "streaming.Streams",
                                index, tr, passId) { id =>
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.ingestFunnel(
        s, s"$work/replay", docs.schema, standFeat,
        outDir, s"$dir/ckpt", maxFilesPerTrigger = 1)
      started = (System.nanoTime() - t0) / 1e9
      tr.foreach(_.streamGroups(q.runId.toString) = id)
      try {
        q.processAllAvailable()
        progress = q.recentProgress.toSeq
      } finally q.stop()
    }
    if (index > 0) lastStreamOutput = Option(new File(outDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("batch_")).map(_.toString).sorted.toSeq
    val batches = progress.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def sec(k: String): Double = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      Map("rows" -> p.numInputRows, "trigger_s" -> sec("triggerExecution"),
          "add_batch_s" -> sec("addBatch"), "planning_s" -> sec("queryPlanning"),
          "commit_s" -> (sec("commitOffsets") + sec("walCommit")),
          "offsets_s" -> (sec("latestOffset") + sec("getBatch")),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    Map("steps" -> Seq(Map("name" -> "ingest_funnel", "layer" -> "streaming",
                           "module" -> "streaming.Streams", "ok" -> ok,
                           "build_s" -> started, "total_s" -> drainS, "span" -> id)),
        "stream" -> Map("drain_s" -> drainS, "batches" -> batches))
  }
}
