package graft

import org.apache.spark.sql.functions._

/** Throughput measurement for the stream-side ingest funnel
  * (Streams.ingestFunnel — r12 VERDICT #4): replay a scale dir's
  * incoming split (odd doc_ids) as an N-file stream against the standing
  * features and report docs/s end-to-end, standing-index build time, and
  * per-batch cadence. Measures the MICRO-BATCH shape a nightly crawl run
  * pays — the batch funnel's cost is in BENCH_* under llm_ingest_e2e;
  * this records what the incremental spelling adds (checkpointing,
  * per-batch planning, state-store commits).
  *
  * Usage: runMain graft.StreamBench <sfDir> [nFiles=8]
  * Prints one JSON line.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    sys.props("graft.fixtures.sf") = dir // r14: sf-scoped fixture tree
    val nFiles = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = Session.local(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // sf10 batches (250k docs) hit CANNOT_LOAD_STATE_STORE.
      // UNRELEASED_THREAD_ERROR under the default per-batch FULL-SNAPSHOT
      // checkpoint: the maintenance thread holds the RocksDB instance
      // while uploading, and the next batch's load times out at 120 s.
      // Changelog checkpointing is the at-scale answer (commit = append
      // the delta, snapshots amortize in maintenance) and what a 100 TB
      // deployment runs; the raised lock timeout covers the first
      // snapshot's upload on this single host.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.lockAcquireTimeoutMs" -> "600000",
      // Second sf10 failure mode: the per-instance MAINTENANCE threads
      // (snapshot fold-up) held instance locks >10 min against the next
      // batch's loads — 32 instances' maintenance racing one JVM's batch
      // cadence. Changelog checkpointing makes commits independent of
      // maintenance, so pushing the interval past the run length removes
      // the contention window entirely (production would keep the
      // default interval but spread instances across executors).
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
      // State telemetry reads q.recentProgress after the run; the default
      // retention (100 updates) keeps only the TAIL, so with nFiles > 100
      // under maxFilesPerTrigger=1 state_rows_max would be computed over
      // the last 100 batches only (r15, ADVICE). Retain every batch plus
      // idle-trigger headroom so max/last stay meaningful at any nFiles.
      "spark.sql.streaming.numRecentProgressUpdates" ->
        math.max(256, nFiles * 4).toString)

    val tmp = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val docs = Tables.documents(spark, dir)
    val incoming = docs.filter(col("doc_id") % 2 =!= 0)
    val nDocs = incoming.count()
    incoming.repartition(nFiles).write.parquet(inDir)

    val tIdx0 = System.nanoTime()
    val standFeat = spark.read
      .parquet(graft.llm.Dedup.ingestFeatPath(spark, dir))
      .filter(col("doc_id") % 2 === 0)
    // the funnel builds and broadcasts the index internally; time the
    // feat read separately here first (Memo makes the feat table a read)
    standFeat.count()
    val tIdx = (System.nanoTime() - tIdx0) / 1e9

    val t0 = System.nanoTime()
    val q = graft.streaming.Streams.ingestFunnel(
      spark, inDir, docs.schema, standFeat, outDir, ckpt,
      maxFilesPerTrigger = 1)
    // dedup-state telemetry (r14 VERDICT #5): numRowsTotal per batch from
    // the progress feed — the replay arrives entirely inside the 1 h
    // watermark horizon, so state must grow to exactly the distinct
    // doc_ids seen (bounded by the horizon's arrivals, never more), and a
    // checkpoint-restart of the same files must add none.
    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      q.processAllAvailable()
      q.recentProgress.foreach { p =>
        p.stateOperators.foreach(so => stateRows += so.numRowsTotal)
      }
    } finally q.stop()
    val tStream = (System.nanoTime() - t0) / 1e9

    val batchDirs = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("batch_")).map(_.toString).sorted
    val outRows = spark.read.parquet(batchDirs: _*).count()
    val stateLast = stateRows.lastOption.getOrElse(0L)
    val stateMax = if (stateRows.isEmpty) 0L else stateRows.max
    // numRowsTotal under RocksDB is the estimate-num-keys property —
    // uncompacted versions inflate it to ~2-3 internal entries per
    // logical doc_id; the boundedness evidence is the PER-DOC ratio
    // staying constant across scale (and last == max: no growth beyond
    // the horizon's arrivals).
    println(f"""{"metric":"stream_ingest_funnel","dir":"$dir","n_docs":$nDocs,"n_files":$nFiles,"n_batches":${batchDirs.length},"t_feat_read_s":$tIdx%.2f,"t_stream_s":$tStream%.2f,"docs_per_s":${nDocs / tStream}%.0f,"s_per_batch":${tStream / math.max(1, batchDirs.length)}%.2f,"out_rows":$outRows,"complete":${outRows == nDocs},"state_rows_last":$stateLast,"state_rows_max":$stateMax,"state_rows_per_doc":${stateMax.toDouble / math.max(1, nDocs)}%.2f}""")
    spark.stop()
  }
}
