package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** SURVEY §2i — streaming correctness via the batch-equivalence idiom:
  * replay fixture events through a MemoryStream, run the SAME
  * transformation both ways, compare row sets. Watermark/dedup/stateful
  * suites add hand-built batches where late/duplicate arrival matters. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  /** sf0.001 events as the typed stream shape (ts → µs TimestampType). */
  private lazy val fixtureEvs: Seq[Ev] =
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().toSeq

  private def evDf(evs: Seq[Ev]): DataFrame =
    evs.toDF().select(col("event_id"), col("ts"), col("user_id"),
                      col("event_type"), col("value"))

  /** Run a complete-mode streaming agg over the rows and hand back the
    * final result table. */
  private def runComplete(evs: Seq[Ev], name: String)
                         (f: DataFrame => DataFrame): DataFrame = {
    val ms = MemoryStream[Ev]
    val q = f(ms.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    try {
      evs.grouped(math.max(1, evs.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  /** Run an append-mode streaming query; a sentinel event 2 h past the max
    * fixture ts (user −1) pushes the watermark so every real window/
    * session/state finalizes and is emitted. */
  private def runAppendWithSentinel(evs: Seq[Ev], name: String)
                                   (f: DataFrame => DataFrame): DataFrame = {
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = Ev(-1L, new java.sql.Timestamp(maxTs + 2 * 3600 * 1000), -1L,
                      "sentinel", 0.0)
    val ms = MemoryStream[Ev]
    val q = f(ms.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(math.max(1, evs.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      ms.addData(Seq(sentinel)); q.processAllAvailable()
      // One empty batch so windows closed by the sentinel's watermark flush.
      ms.addData(Nil); q.processAllAvailable()
    } finally q.stop()
    spark.table(name).filter(col("user_id").isNull || col("user_id") =!= -1L)
  }

  test("st_tumbling: streaming == batch on replayed fixture") {
    val out = runComplete(fixtureEvs, "t_tumbling")(Streams.tumbling)
    assertSameRows(out, Streams.tumbling(evDf(fixtureEvs)))
  }

  test("st_sliding: streaming == batch on replayed fixture") {
    val out = runComplete(fixtureEvs, "t_sliding")(Streams.sliding)
    assertSameRows(out, Streams.sliding(evDf(fixtureEvs)))
  }

  test("st_session: session_window streaming == batch twin") {
    val out = runAppendWithSentinel(fixtureEvs, "t_session") { df =>
      Streams.sessionWindows(df.withWatermark("ts", "10 minutes"))
    }
    assertSameRows(out, Streams.sessionWindows(evDf(fixtureEvs)))
  }

  test("st_watermark_late: late event dropped, on-time survives") {
    val base = new java.sql.Timestamp(1704067200000L) // 2024-01-01 00:00 UTC
    def at(minutes: Long) = new java.sql.Timestamp(base.getTime + minutes * 60000)
    val ms = MemoryStream[Ev]
    val q = Streams.tumblingWithWatermark(ms.toDF())
      .writeStream.format("memory").queryName("t_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events at h0, one far ahead at h3 → watermark ≈ h3−10m
      ms.addData(Seq(Ev(1, at(5), 1, "a", 1.0), Ev(2, at(10), 1, "a", 1.0),
                     Ev(3, at(180), 1, "a", 1.0)))
      q.processAllAvailable()
      // batch 2: a late h0 event (beyond watermark) must be DROPPED; the
      // h4 event advances time further.
      ms.addData(Seq(Ev(4, at(15), 1, "a", 99.0), Ev(5, at(240), 1, "a", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(6, at(600), 1, "a", 0.0))) // flush
      q.processAllAvailable()
    } finally q.stop()
    val h0 = spark.table("t_late").filter(col("wstart") === base)
      .select("n").as[Long].collect()
    assert(h0.sameElements(Array(2L)), s"late row leaked into h0: ${h0.toSeq}")
  }

  test("st_dedup: duplicate event_ids across batches collapse") {
    val base = new java.sql.Timestamp(1704067200000L)
    def at(minutes: Long) = new java.sql.Timestamp(base.getTime + minutes * 60000)
    val ms = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Seq(Ev(1, at(0), 1, "a", 1.0), Ev(2, at(1), 1, "a", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(1, at(2), 1, "a", 1.0), Ev(3, at(3), 1, "a", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("t_dedup").select("event_id").as[Long].collect().sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), s"got ${ids.toSeq}")
  }

  test("streaming progress exposes per-operator state metrics (ops observability)") {
    // The numbers an operator pages on at 3am: rows ingested per batch
    // and STATE SIZE per stateful operator (unbounded state growth is
    // how streaming jobs die at scale). Pin that lastProgress carries
    // both — numInputRows for throughput, stateOperators.numRowsTotal
    // for the dedup state the watermark is supposed to bound.
    val base = new java.sql.Timestamp(1704067200000L)
    def at(minutes: Long) = new java.sql.Timestamp(base.getTime + minutes * 60000)
    val ms = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("t_progress")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Seq(Ev(1, at(0), 1, "a", 1.0), Ev(2, at(1), 1, "a", 1.0),
                     Ev(3, at(2), 1, "a", 1.0)))
      q.processAllAvailable()
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      assert(progs.nonEmpty, "no progress entries with input rows")
      assert(progs.map(_.numInputRows).sum == 3,
        s"expected 3 input rows, got ${progs.map(_.numInputRows).toSeq}")
      val st = progs.flatMap(_.stateOperators)
      assert(st.nonEmpty, "no stateOperators reported for a stateful query")
      assert(st.map(_.numRowsTotal).max == 3,
        s"dedup state should hold the 3 distinct keys, got ${st.map(_.numRowsTotal).toSeq}")
    } finally q.stop()
  }

  test("st_ewma_state: O(1)-state streaming fold converges to the batch EWMA") {
    val ms = MemoryStream[Ev]
    val q = Streams.ewmaState(ms.toDS())
      .toDF("user_id", "n", "ewma")
      .writeStream.format("memory").queryName("t_ewma")
      .outputMode(OutputMode.Update()).start()
    try {
      // event-time-ordered chunks: the replayer's in-order contract
      val ordered = fixtureEvs.sortBy(e => (e.ts.getTime, e.event_id))
      ordered.grouped(math.max(1, ordered.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = graft.Registry.byName("q_ewma").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the FINAL update per user is the row whose n equals the batch count
    val streamed = spark.table("t_ewma")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (u, n, _) => batch(u)._1 == n }
      .map { case (u, _, e) =>  // same HALF_UP scale-6 as the batch round()
        u -> BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    assert(streamed.keySet == batch.keySet,
      s"users missing a final update: ${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (u, e) =>
      assert(e == batch(u)._2, s"user $u: streamed $e != batch ${batch(u)._2}")
    }
  }

  test("st_ewma_state: batch == streaming at the 4096-event state-cap boundary") {
    // 5000 events on one hot user — past the declared STATE_CAP. The
    // batch operator folds only the first 4096 by (ts, event_id); the
    // streaming fold caps its O(1) state at the same constant, so the
    // two stay equal on ANY input, not just fixtures under the cap.
    val n = 5000
    val cap = Streams.EWMA_STATE_CAP
    assert(n > cap, "test must cross the cap boundary")
    val evs = (0 until n).map { i =>
      Ev(i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), 7L,
         "click", (i % 13).toDouble)
    }
    // Batch side: the declared key reads $dir/events.parquet with a raw
    // int64-ns ts (the fixture encoding) — synthesize one.
    val dir = java.nio.file.Files.createTempDirectory("ewma_cap").toString
    evDf(evs)
      .select(col("event_id"), expr("unix_micros(ts) * 1000").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.Registry.byName("q_ewma").fn(spark, dir).collect()
    assert(batch.length == 1)
    assert(batch.head.getLong(1) == cap.toLong,
      s"batch n_events ${batch.head.getLong(1)} != cap $cap")
    // Streaming side: same events, in-order chunks.
    val ms = MemoryStream[Ev]
    val q = Streams.ewmaState(ms.toDS())
      .toDF("user_id", "n", "ewma")
      .writeStream.format("memory").queryName("t_ewma_cap")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(1000).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val fin = spark.table("t_ewma_cap")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).maxBy(_._1)
    assert(fin._1 == cap.toLong, s"streamed n ${fin._1} != cap $cap")
    val rounded = BigDecimal(fin._2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rounded == batch.head.getDouble(2),
      s"streamed $rounded != batch ${batch.head.getDouble(2)}")
  }

  test("st_hll_sketch: TypedImperativeAggregate sketches work under streaming agg") {
    // The custom HLL rides the same ObjectHashAggregate machinery in a
    // complete-mode streaming aggregation; replayed in chunks it must
    // converge to the batch estimate exactly (register-max is
    // insensitive to batch boundaries).
    val out = runComplete(fixtureEvs, "t_hll") { df =>
      df.groupBy(col("event_type"))
        .agg(expr("hll_distinct(user_id)").as("est"))
    }
    val batch = evDf(fixtureEvs).groupBy(col("event_type"))
      .agg(expr("hll_distinct(user_id)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("st_bkq_sketch: bottom-k quantile sketch converges under streaming agg") {
    // Bottom-k-by-hash is a pure function of the value multiset, so the
    // complete-mode streaming estimate must equal the batch estimate
    // bit-for-bit regardless of micro-batch boundaries (merge =
    // bottom-k of the union — associative/commutative/idempotent).
    val out = runComplete(fixtureEvs, "t_bkq") { df =>
      df.groupBy(col("event_type"))
        .agg(expr("bkq_median(value)").as("est"))
    }
    val batch = evDf(fixtureEvs).groupBy(col("event_type"))
      .agg(expr("bkq_median(value)").as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val streamed = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("st_stream_static_join: enrichment matches batch join") {
    val dim = Seq(("purchase", "rev"), ("error", "ops"), ("signup", "growth"),
                  ("click", "product"), ("view", "product"))
      .toDF("event_type", "category")
    val evs = fixtureEvs.take(200)
    val ms = MemoryStream[Ev]
    val q = Streams.enrich(ms.toDF(), dim)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode(OutputMode.Append()).start()
    try { ms.addData(evs); q.processAllAvailable() } finally q.stop()
    assertSameRows(spark.table("t_enrich"), Streams.enrich(evDf(evs), dim))
  }

  /** Both custom sessionizer surfaces — the flatMapGroupsWithState twin
    * and the primary transformWithState port — must pass the SAME suite:
    * equal semantics is the porting contract. transformWithState only
    * runs on the RocksDB state store provider (the point of the API:
    * state off-heap), so the tws leg pins that provider for its query. */
  private val sessionizers: Seq[(String, Dataset[Ev] => Dataset[UserSession], Boolean)] =
    Seq(("fmgws", Streams.sessionize _, false),
        ("tws", Streams.sessionizeTWS _, true))

  /** Set by the ingest funnel only around its query's start(). */
  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def withRocksDB[A](needed: Boolean)(body: => A): A =
    if (!needed) body
    else {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

  /** r11 VERDICT #7: the provider CONF alone can lie — a query that
    * silently fell back to the HDFS-backed memory provider still passes
    * every semantic assertion. The RUNNING query's state operator must
    * report RocksDB-specific custom metrics (rocksdbCommitLatency etc.),
    * which only the RocksDB provider emits. Call while the query is
    * still started (progress is per-query, not per-session). */
  private def assertRocksDBEngaged(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import scala.jdk.CollectionConverters._
    val metricKeys = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .flatMap(so => so.customMetrics.keySet().asScala)
      .distinct
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"state store did NOT engage RocksDB (silent provider fallback) — " +
      s"custom metrics seen: ${metricKeys.sorted.mkString(", ")}")
  }

  sessionizers.foreach { case (tag, sessionize, rocks) =>
    test(s"st_sessionize_state[$tag]: stateful sessions == batch sessions") {
      withRocksDB(rocks) {
        val evs = fixtureEvs.take(300)
        val maxTs = evs.map(_.ts.getTime).max
        val sentinel = Ev(-1L, new java.sql.Timestamp(maxTs + 2 * 3600 * 1000), -1L,
                          "sentinel", 0.0)
        val ms = MemoryStream[Ev]
        val q = sessionize(ms.toDS())
          .toDF().writeStream.format("memory").queryName(s"t_sess_$tag")
          .outputMode(OutputMode.Append()).start()
        try {
          evs.grouped(100).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
          ms.addData(Seq(sentinel)); q.processAllAvailable()
          ms.addData(Nil); q.processAllAvailable()
          if (rocks) assertRocksDBEngaged(q)
        } finally q.stop()
        val out = spark.table(s"t_sess_$tag").filter(col("user_id") =!= -1L)
        // Batch truth: the lag/cumsum sessionization over the same rows.
        val expected = Streams.sessionWindows(evDf(evs))
        assertSameRows(
          out.select("user_id", "sess_start", "sess_end", "n_events"),
          expected.select("user_id", "sess_start", "sess_end", "n_events"))
      }
    }
  }

  test("st_transform_with_state: running totals converge to batch groupBy") {
    val evs = fixtureEvs.take(400)
    withRocksDB(true) {
      val ms = MemoryStream[Ev]
      val q = Streams.runningTotals(ms.toDS())
        .toDF("user_id", "n", "total")
        .writeStream.format("memory").queryName("t_tws")
        .outputMode(OutputMode.Update()).start()
      try {
        evs.grouped(150).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
        assertRocksDBEngaged(q)
      } finally q.stop()
    }
    // Last emission per user = final running totals.
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"n".desc)
    val finals = spark.table("t_tws")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"n", $"total")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expected = evDf(evs).groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finals.keySet == expected.keySet)
    expected.foreach { case (u, (n, tot)) =>
      assert(finals(u)._1 == n, s"user $u count: ${finals(u)._1} vs $n")
      // double accumulation order differs stream-vs-batch → tolerance
      assert(math.abs(finals(u)._2 - tot) < 1e-6, s"user $u total drift")
    }
  }

  test("st_rolling_distinct: binary sketch state converges to the batch sketch bit-for-bit") {
    val evs = fixtureEvs.take(500)
    withRocksDB(true) {
      val ms = MemoryStream[Ev]
      val q = Streams.rollingDistinct(ms.toDS())
        .toDF("event_type", "est")
        .writeStream.format("memory").queryName("t_hll_state")
        .outputMode(OutputMode.Update()).start()
      try {
        // Deliberately uneven micro-batches: the register-max invariant
        // must make the final state independent of the batching.
        Seq(137, 1, 200, 162).foldLeft(0) { (off, n) =>
          ms.addData(evs.slice(off, off + n)); q.processAllAvailable(); off + n
        }
      } finally q.stop()
    }
    // est is nondecreasing per key, so the final emission is the max.
    val finals = spark.table("t_hll_state")
      .groupBy($"event_type").agg(max($"est").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = evDf(evs).groupBy($"event_type")
      .agg(expr("hll_distinct(user_id)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finals == expected,
      s"streaming sketch diverged from batch sketch: $finals vs $expected")
  }

  sessionizers.foreach { case (tag, sessionize, rocks) =>
    test(s"st_sessionize_state[$tag]: late-but-admissible event bridges two buffered sessions") {
      // The watermark-hold contract: events at 0min and 35min look like
      // TWO sessions (gap > 30min); a late event at 30min — still newer
      // than the watermark — arrives in the next batch and must bridge
      // them into ONE session [0, 35] with 3 events. An implementation
      // that emits on first sight of the in-batch gap can never retract
      // the wrong two-session answer.
      withRocksDB(rocks) {
        val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        def ev(id: Long, min: Long) =
          Ev(id, new java.sql.Timestamp(base + min * 60000), 1L, "click", 1.0)
        val ms = MemoryStream[Ev]
        val q = sessionize(ms.toDS())
          .writeStream.format("memory").queryName(s"t_sess_late_$tag")
          .outputMode(OutputMode.Append()).start()
        try {
          ms.addData(Seq(ev(1, 0), ev(2, 35))); q.processAllAvailable()
          // watermark is now 25min; 30min is admissible
          ms.addData(Seq(ev(3, 30))); q.processAllAvailable()
          // push the watermark far past every horizon, then flush timers
          ms.addData(Seq(Ev(99, new java.sql.Timestamp(base + 10 * 3600 * 1000),
                            -1L, "sentinel", 0.0)))
          q.processAllAvailable()
          ms.addData(Nil); q.processAllAvailable()
        } finally q.stop()
        val out = spark.table(s"t_sess_late_$tag").filter(col("user_id") === 1L).collect()
        assert(out.length == 1, s"expected ONE bridged session, got ${out.toSeq}")
        val r = out.head
        assert(r.getTimestamp(1).getTime == base && r.getTimestamp(2).getTime == base + 35 * 60000,
          s"bridged session bounds wrong: $r")
        assert(r.getLong(3) == 3L, s"bridged session should hold 3 events: $r")
      }
    }
  }

  test("st_stream_stream_join: interval join streaming == batch twin") {
    val evs = fixtureEvs.take(600)
    val purchases = evs.filter(_.event_type == "purchase")
    val clicks = evs.filter(_.event_type == "click")
    val maxTs = evs.map(_.ts.getTime).max
    // Sentinels on BOTH streams advance both watermarks so every joinable
    // pair inside the horizon is emitted before the query stops.
    def sentinel(id: Long) =
      Ev(id, new java.sql.Timestamp(maxTs + 4 * 3600 * 1000), -1L, "sentinel", 0.0)
    val msP = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = Streams.streamStreamJoin(msP.toDF(), msC.toDF())
      .writeStream.format("memory").queryName("t_ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      purchases.grouped(math.max(1, purchases.size / 3))
        .zipAll(clicks.grouped(math.max(1, clicks.size / 3)), Nil, Nil)
        .foreach { case (pc, cc) =>
          msP.addData(pc); msC.addData(cc); q.processAllAvailable()
        }
      msP.addData(Seq(sentinel(-1))); msC.addData(Seq(sentinel(-2)))
      q.processAllAvailable()
      msP.addData(Nil); msC.addData(Nil); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("t_ssj").filter(col("user_id") =!= -1L)
    val expected = Streams.streamStreamJoin(evDf(purchases), evDf(clicks))
    assertSameRows(out, expected)
  }

  test("st_stream_stream_left: left-outer interval join == batch twin, nulls emitted") {
    val evs = fixtureEvs.take(600)
    val purchases = evs.filter(_.event_type == "purchase")
    val clicks = evs.filter(_.event_type == "click")
    val maxTs = evs.map(_.ts.getTime).max
    // Sentinels push BOTH watermarks far past every band horizon so each
    // unmatched purchase's state is evicted and its null row emitted.
    def sentinel(id: Long) =
      Ev(id, new java.sql.Timestamp(maxTs + 8 * 3600 * 1000), -1L, "sentinel", 0.0)
    val msP = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = Streams.streamStreamLeftJoin(msP.toDF(), msC.toDF())
      .writeStream.format("memory").queryName("t_sslj")
      .outputMode(OutputMode.Append()).start()
    try {
      purchases.grouped(math.max(1, purchases.size / 3))
        .zipAll(clicks.grouped(math.max(1, clicks.size / 3)), Nil, Nil)
        .foreach { case (pc, cc) =>
          msP.addData(pc); msC.addData(cc); q.processAllAvailable()
        }
      msP.addData(Seq(sentinel(-1))); msC.addData(Seq(sentinel(-2)))
      q.processAllAvailable()
      msP.addData(Nil); msC.addData(Nil); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("t_sslj").filter(col("user_id") =!= -1L)
    val expected = Streams.streamStreamLeftJoin(evDf(purchases), evDf(clicks))
    assertSameRows(out, expected)
    // The left-outer contract actually fired: some purchase had no click
    // in its band (fixture property), and every matched row also appears.
    assert(out.filter(col("click_id").isNull).count() > 0,
      "no null-side rows — left-outer semantics untested by this fixture")
  }

  test("checkpoint recovery: restart resumes from committed offsets, no double-count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recover").toString
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    val first = fixtureEvs.take(200)
    val second = fixtureEvs.slice(200, 400)
    evDf(first).repartition(2).write.mode("append").parquet(inDir)
    def totals(): Map[Long, Long] = {
      // complete-mode per-user counts into a fresh memory table each run
      val q = Streams.fileStream(spark, inDir, Streams.eventSchema)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("t_recover")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.table("t_recover").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val run1 = totals()
    // new data lands, stream restarts from the SAME checkpoint: committed
    // files must not replay, new files must be picked up exactly once
    evDf(second).repartition(2).write.mode("append").parquet(inDir)
    val run2 = totals()
    val expected = evDf(first ++ second).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run2 == expected,
      s"restart diverged: ${run2.toSeq.sorted} vs ${expected.toSeq.sorted}")
    assert(run1 != expected || second.isEmpty) // run1 saw only the first half
  }

  test("st_ingest_funnel: streamed verdicts == batch llm_ingest_e2e (RocksDB engaged)") {
    // r12 VERDICT #4: the ingest funnel run incrementally — incoming docs
    // (odd doc_ids, the SAME split the declared key uses) replayed as a
    // 3-file stream against the standing (even) features, verdicts per
    // micro-batch — must reproduce the one-shot batch funnel rows
    // exactly. The cross-batch dedup state runs on RocksDB (asserted via
    // provider-specific metrics, not just the conf), with changelog
    // checkpointing as Streams.ingestFunnel's scaladoc deploys it.
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    spark.conf.set(changelog, "true")
    try withRocksDB(true) {
      val tmpDir = java.nio.file.Files.createTempDirectory("graft_ingest")
      val tmp = tmpDir.toString
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val docs = Tables.documents(spark, sf)
      docs.filter(col("doc_id") % 2 =!= 0).repartition(3).write.parquet(inDir)
      val standFeat = spark.read
        .parquet(graft.llm.Dedup.ingestFeatPath(spark, sf))
        .filter(col("doc_id") % 2 === 0)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      assert(!spark.conf.getAll.contains(noData))
      val q = Streams.ingestFunnel(spark, inDir, docs.schema, standFeat,
                                   outDir, ckpt)
      // the query's no-data setting does not outlive start(): unset stays unset
      assert(!spark.conf.getAll.contains(noData))
      // Checkpoint I/O starts no process (graft.io.LocalFs, installed by
      // Tables.configure): no started command may name the checkpoint dir.
      val forks = graft.io.ProcessStarts.during {
        try { q.processAllAvailable(); assertRocksDBEngaged(q) } finally q.stop()
      }.filter(_.contains(s"${tmpDir.getFileName}/ckpt"))
      assert(forks.isEmpty, s"${forks.size} processes named the checkpoint, e.g. ${forks.take(3)}")
      // ...and still writes Hadoop's .crc sibling beside every log entry
      // and state changelog.
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      val logged = Files.walk(java.nio.file.Paths.get(ckpt))
      val entries = try logged.iterator().asScala.toList.filter { p =>
        val dir = p.getParent.getFileName.toString; val name = p.getFileName.toString
        !name.startsWith(".") && Files.isRegularFile(p) &&
          (dir == "offsets" || dir == "commits" || name.endsWith(".changelog"))
      } finally logged.close()
      assert(entries.count(_.toString.endsWith(".changelog")) > 0 &&
               entries.count(_.getParent.getFileName.toString == "commits") >= 3,
             s"checkpoint lacks changelogs or commits: ${entries.mkString(", ")}")
      val noCrc = entries.filterNot(p =>
        Files.isRegularFile(p.resolveSibling(s".${p.getFileName}.crc")))
      assert(noCrc.isEmpty, s"entries without a .crc sibling: ${noCrc.mkString(", ")}")
      // Draining the backlog runs data batches only: no trailing empty
      // batch after the last file (an executed batch times addBatch).
      val executed = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      assert(executed.nonEmpty && executed.forall(_.numInputRows > 0),
        s"executed batches' input rows: ${executed.map(_.numInputRows).mkString(", ")}")
      // State rows: each micro-batch's verdicts are ONE job over the
      // batch, so the dedup state holds exactly one row per distinct
      // incoming doc. A second job over the batch frame re-executes the
      // state scan and inflates this (the r14 triple-execution shape).
      val stateMax = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      val nIncoming = docs.filter(col("doc_id") % 2 =!= 0).select("doc_id").distinct().count()
      assert(stateMax == nIncoming,
        s"max state rows $stateMax != distinct incoming docs $nIncoming")
      // The standing index is a broadcast, never a cached frame: nothing
      // the funnel ran stays pinned once the query stops.
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"funnel left persisted RDDs behind: $leaked")
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.toString).sorted
      assert(batchDirs.length >= 3, // 3 input files, maxFilesPerTrigger=1
        s"expected >=3 micro-batch outputs, got ${batchDirs.mkString(", ")}")
      val streamed = spark.read.parquet(batchDirs: _*)
      val expected = graft.Registry.byName("llm_ingest_e2e").fn(spark, sf)
      assertSameRows(streamed, expected.toDF())
      // the funnel's routing classes all genuinely fired on this fixture
      val verdicts = streamed.select("verdict").distinct()
        .collect().map(_.getString(0)).toSet
      assert(verdicts.contains("novel_fastpath") || verdicts.contains("admitted"),
        s"no admitted docs at all — fixture degenerate? saw $verdicts")
    } finally spark.conf.unset(changelog)
  }

  test("st_ingest_funnel: checkpoint restart — new wave picked up once, no re-verdicts") {
    // The nightly-crawl shape: wave 1 arrives, the funnel runs and stops;
    // wave 2 lands, the funnel RESTARTS from the same checkpoint. The
    // file source's committed offsets + per-batch idempotent dirs must
    // give exactly-once verdicts across the restart: every incoming doc
    // verdicted exactly once, and the union equal to the one-shot batch
    // funnel on the full split.
    withRocksDB(true) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_rs").toString
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val docs = Tables.documents(spark, sf)
      val incoming = docs.filter(col("doc_id") % 2 =!= 0)
      val standFeat = spark.read
        .parquet(graft.llm.Dedup.ingestFeatPath(spark, sf))
        .filter(col("doc_id") % 2 === 0)
      val wave1 = incoming.filter(col("doc_id") < 250)
      val wave2 = incoming.filter(col("doc_id") >= 250)
      assert(wave1.count() > 0 && wave2.count() > 0)
      wave1.repartition(2).write.mode("append").parquet(inDir)
      // a caller's explicit no-data setting is the same after the funnel starts
      spark.conf.set(noData, "true")
      val (q1, kept) = try {
        val q = Streams.ingestFunnel(spark, inDir, docs.schema, standFeat,
                                     outDir, ckpt)
        (q, spark.conf.getAll.get(noData))
      } finally spark.conf.unset(noData)
      try q1.processAllAvailable() finally q1.stop()
      assert(kept.contains("true"), s"caller's setting after the funnel: $kept")
      val afterWave1 = new java.io.File(outDir).listFiles().count(_.getName.startsWith("batch_"))
      wave2.repartition(2).write.mode("append").parquet(inDir)
      val q2 = Streams.ingestFunnel(spark, inDir, docs.schema, standFeat,
                                    outDir, ckpt)
      try q2.processAllAvailable() finally q2.stop()
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.toString).sorted
      assert(batchDirs.length > afterWave1,
        "restart produced no new batch outputs for wave 2")
      val streamed = spark.read.parquet(batchDirs: _*)
      // exactly-once: one verdict per incoming doc, none repeated
      assert(streamed.count() == incoming.count(),
        s"verdict count ${streamed.count()} != incoming ${incoming.count()}")
      assert(streamed.select("doc_id").distinct().count() == streamed.count(),
        "a doc was re-verdicted across the restart")
      val expected = graft.Registry.byName("llm_ingest_e2e").fn(spark, sf)
      assertSameRows(streamed, expected.toDF())
    }
  }

  test("st_catalog_publish: versioned snapshot publish — fresh reads, time travel, no-op replay") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_catpub").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val catDir = s"$tmp/catalog"
    // 3 input files + maxFilesPerTrigger=1 → 3 micro-batches → 3 catalog
    // versions of the running per-type counts
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .repartition(3).write.parquet(inDir)
    val agg = Streams.fileStream(spark, inDir, Streams.eventSchema)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = Streams.catalogPublish(agg, outDir, ckpt, catDir, "live_counts")
    try q.processAllAvailable() finally q.stop()
    import graft.sources.Catalog
    val vCur = Catalog.currentVersion(catDir)
    assert(vCur == 3, s"3 micro-batches must publish 3 versions, got $vCur")
    // freshest binding == the full batch aggregate, from a FRESH session
    val s2 = spark.newSession()
    val streamed = Catalog.open(s2, catDir, "live_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = evDf(fixtureEvs).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == expected, s"published snapshot != batch agg")
    // time travel: every historical snapshot is intact and monotone in
    // total count (complete-mode aggregates only grow)
    val totals = (1L to vCur).map { v =>
      Catalog.openAsOf(s2, catDir, "live_counts", v)
        .agg(sum(col("n"))).collect()(0).getLong(0)
    }
    assert(totals == totals.sorted, s"snapshot totals not monotone: $totals")
    assert(totals.last == fixtureEvs.size.toLong)
    // replay no-op: re-registering the current binding burns no version
    val cur = Catalog.load(catDir).find(_.name == "live_counts").get
    Catalog.register(catDir, Seq(cur))
    assert(Catalog.currentVersion(catDir) == vCur,
      "replayed publish of an identical binding inflated the history")
  }

  test("src_stream_file + st_foreachbatch_sink: file replay → exactly-once parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    // Stage the fixture as a 3-file input dir so maxFilesPerTrigger=1
    // yields 3 real micro-batches.
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .repartition(3).write.parquet(inDir)
    val stream = Streams.fileStream(spark, inDir, Streams.eventSchema)
      .filter(col("event_type") === "purchase")
    val q = Streams.foreachBatchParquet(stream, outDir, ckpt)
    try { q.processAllAvailable() } finally q.stop()
    val written = spark.read.parquet(s"$outDir/batch_*")
    val expected = evDf(fixtureEvs).filter(col("event_type") === "purchase")
    assertSameRows(written, expected)
  }

  test("st_available_now: backfill trigger drains the backlog then stops") {
    // Trigger.AvailableNow is the operational backfill mode: process
    // everything present, respect per-batch limits, terminate — a
    // scheduled catch-up job, not a resident stream.
    val tmp = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .repartition(3).write.parquet(inDir)
    val q = Streams.fileStream(spark, inDir, Streams.eventSchema)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("avnow")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // the trigger terminates the query by itself once the backlog drains
    assert(q.awaitTermination(120000), "AvailableNow query did not self-stop")
    val got = spark.table("avnow").as[(String, Long)].collect().toMap
    val want = evDf(fixtureEvs).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(got == want, s"backfill drained $got, batch says $want")
  }

  test("st_upsert_sink: streaming merge converges to the batch latest-per-key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val inDir = s"$tmp/in"; val stateDir = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    // 3 input files → 3 micro-batches → 3 state versions, each merging
    // onto the previous
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .repartition(3).write.parquet(inDir)
    val q = Streams.upsertSink(
      Streams.fileStream(spark, inDir, Streams.eventSchema)
        .select(col("user_id"), col("ts"), col("value")),
      stateDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val state = Streams.currentState(spark, stateDir)
      .getOrElse(fail("no state version published"))
    val expected = evDf(fixtureEvs)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
    assertSameRows(state, expected)
    // the pointer names the LAST batch's version (merge ran per batch)
    val ptr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(stateDir, "_LATEST")).trim.toLong
    assert(ptr >= 2, s"expected >= 3 micro-batches, last version was $ptr")
  }

  test("st_map_state: sub-keyed counters converge to batch (user, type) counts") {
    // withRocksDB, not manual set/unset: an assertion failure inside
    // the body must still restore the provider for later suites.
    val evs = fixtureEvs.take(400)
    withRocksDB(true) {
      val ms = MemoryStream[Ev]
      val q = Streams.typeCounts(ms.toDS())
        .toDF("user_id", "event_type", "n")
        .writeStream.format("memory").queryName("t_mapstate")
        .outputMode(OutputMode.Update()).start()
      try {
        evs.grouped(150).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
        assertRocksDBEngaged(q)
      } finally q.stop()
    }
    // Last emission per (user, type) = final counter value.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type").orderBy($"n".desc)
    val finals = spark.table("t_mapstate")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_type", $"n")
    val expected = evDf(evs).groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
    assertSameRows(finals, expected)
  }

  test("st_cdc_apply: incremental LWW == batch compaction; replay is idempotent") {
    // Deterministic changelog: 200 keys × 3 versions, versions scattered
    // ACROSS batches out of order (batch = seq % 3), so most keys see
    // their versions arrive in the wrong order — the delivery pattern a
    // real at-least-once CDC topic produces.
    val log = (0 until 600).map { i =>
      val k = (i % 200).toLong; val seq = i.toLong
      val op = if (seq % 11 == 0) "D" else if (seq % 3 == 0) "U" else "I"
      Chg(k, seq, op, s"s${seq % 5}", (seq % 97) * 1.5)
    }
    val batches = (0 until 3).map(b => log.filter(_.seq % 3 == b))
    // withRocksDB, not manual set/unset: the idempotency assert below
    // runs INSIDE the provider override — on failure the provider must
    // still be restored for later suites.
    val emittedAfterAll = withRocksDB(true) {
      val ms = MemoryStream[Chg]
      val q = Streams.cdcApply(ms.toDS())
        .toDF().writeStream.format("memory").queryName("t_cdc")
        .outputMode(OutputMode.Update()).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        val n = spark.table("t_cdc").count()
        // duplicate + stale redelivery: replaying batch 0 emits NOTHING
        ms.addData(batches(0)); q.processAllAvailable()
        assert(spark.table("t_cdc").count() == n,
          "stale/duplicate replay caused new emissions — apply is not idempotent")
        n
      } finally q.stop()
    }
    assert(emittedAfterAll >= 200, "every key must emit at least its first version")
    // Final state = last (max-seq) emission per key, tombstones applied.
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"k").orderBy($"seq".desc)
    val finals = spark.table("t_cdc")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1 && $"op" =!= "D")
      .select($"k", $"seq", $"op", $"status", $"price")
    // Batch truth: one-pass LWW compaction over the same log.
    val expected = log.toDS()
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1 && $"op" =!= "D")
      .select($"k", $"seq", $"op", $"status", $"price")
    assertSameRows(finals, expected)
  }
}
