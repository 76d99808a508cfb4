package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** One event row as the typed streaming surface sees it (`ts` is µs
  * TimestampType — watermarks need an event-time column; under the pinned
  * UTC session it equals the batch TIMESTAMP_NTZ wall clock). */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** A finalized user session emitted by the stateful sessionizer. */
case class UserSession(user_id: Long, sess_start: java.sql.Timestamp,
                       sess_end: java.sql.Timestamp, n_events: Long)

/** One CDC changelog record: `op` ∈ I/U/D, `seq` strictly orders the
  * versions of a key (a Debezium offset / table-format commit number). */
case class Chg(k: Long, seq: Long, op: String, status: String, price: Double)

/** SURVEY §2i — Structured Streaming over the `events` shape.
  *
  * Every transformation below takes an input `DataFrame`/`Dataset` and
  * never cares whether it is streaming or batch — the same function is
  * applied to a `MemoryStream` source in the streaming tests and to the
  * batch fixture for the equivalence assertion (stream result == batch
  * result on the same rows), the standard Spark testing idiom. Verify's
  * DuckDB oracles cover the batch twins (`q_events_*` in
  * [[graft.operators.EventsBatch]]); these are the streaming halves.
  *
  * Scale notes (100 TB/day firehose):
  *  - all window aggs are keyed by (window, event_type)/(user) — state is
  *    bounded by watermark horizon × key cardinality, not stream length;
  *  - watermarks bound state eviction; without one, session/dedup state
  *    grows unboundedly — every stateful op here demands one;
  *  - `foreachBatch` gives exactly-once file sinks via the checkpoint's
  *    batchId; the REST sink reuses the same idempotent-batch pattern. */
object Streams {

  /** Shared batch/stream per-key EWMA state cap: both q_ewma (batch) and
    * [[ewmaState]] fold exactly the first EWMA_STATE_CAP events per user
    * in (ts, event_id, value) order, so the two stay equal on any input
    * — the declared-contract bound, pinned at the boundary by
    * StreamingSpec's 5000-event hot key. */
  val EWMA_STATE_CAP = 4096

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Timestamp ⇄ microseconds, floor-consistent for pre-epoch values too
    * (truncating division would round toward zero below 1970 while
    * getNanos stays positive — up to a full second of error; floorDiv/
    * floorMod keep the bijection everywhere). Shared by every stateful
    * op so the µs arithmetic can only be fixed in one place. */
  private def usOf(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def tsOf(u: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(u, 1000000L) * 1000)
    t.setNanos(Math.floorMod(u, 1000000L).toInt * 1000)
    t
  }

  /** st_tumbling: 1 h tumbling count/sum by event_type. */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(38,4)")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"),
              col("sum_value"))

  /** st_sliding: 1 h window sliding every 15 min. */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))

  /** st_session: per-user session windows with a 30 min gap. Needs a
    * watermark upstream in streaming mode (append output). */
  def sessionWindows(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
           count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sess_start"), col("sess_end"), col("n_events"))

  /** st_watermark_late: tumbling agg behind a 10 min watermark — events
    * older than (max event time − 10 min) are dropped, the state-bounding
    * contract every 100 TB stream needs. */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    tumbling(events.withWatermark("ts", "10 minutes"))

  /** st_dedup: stateful exact dedup on event_id, state bounded by the
    * watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** st_stream_static_join: enrich the stream against a static dimension
    * (broadcast on every micro-batch — no stream-side state). */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))

  /** st_sessionize_state (flatMapGroupsWithState twin — [[sessionizeTWS]]
    * is the primary Spark-4 surface; the StreamingSpec suite runs BOTH
    * and asserts identical output): custom per-user session state
    * machine — the genuinely stateful operator. State per
    * user is the list of DISJOINT candidate sessions (start, end, count)
    * — never the events — and a session is only emitted once the
    * watermark passes its end + gap, the point at which no admissible
    * event can still extend it or bridge it to a neighbor (an earlier
    * revision emitted sessions the moment an in-batch gap was seen,
    * which a late-but-admissible event could then contradict — the
    * watermark-hold is what makes out-of-order arrival safe). An event
    * landing within the gap of two buffered sessions merges them; one
    * landing before a session's start extends it backwards. */
  def sessionize(events: Dataset[Ev]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    // State runs in MICROseconds — java.sql.Timestamp.getTime is only ms,
    // and the fixture timestamps carry µs that must round-trip exactly.
    val gapUs = 30L * 60 * 1000000L

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long, Long)], UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Ev], state: GroupState[List[(Long, Long, Long)]]) =>
          def toSession(s: (Long, Long, Long)) =
            UserSession(userId, tsOf(s._1), tsOf(s._2), s._3)

          // Split buffered sessions into watermark-final and still-open,
          // emit the final ones, re-arm the timer for the rest.
          def flush(sessions: List[(Long, Long, Long)]): Iterator[UserSession] = {
            val wmUs = state.getCurrentWatermarkMs() * 1000
            val (done, open) = sessions.partition(_._2 + gapUs < wmUs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(
                math.max(open.map(_._2).min / 1000 + gapUs / 1000,
                         state.getCurrentWatermarkMs() + 1))
            }
            done.sortBy(_._1).map(toSession).iterator
          }

          if (state.hasTimedOut) {
            flush(state.getOption.getOrElse(Nil))
          } else {
            var sessions = state.getOption.getOrElse(Nil)
            it.foreach { e =>
              val t = usOf(e.ts)
              // merge every session within gap of t (at most two: the
              // intervals are disjoint by construction), else open new
              val (near, far) = sessions.partition(s =>
                t >= s._1 - gapUs && t <= s._2 + gapUs)
              val merged = near.foldLeft((t, t, 1L)) { case (a, s) =>
                (math.min(a._1, s._1), math.max(a._2, s._2), a._3 + s._3)
              }
              sessions = merged :: far
            }
            flush(sessions)
          }
      }
  }

  /** st_sessionize_state (primary surface): the [[sessionize]] session
    * state machine ported to Spark 4's `transformWithState` — the API
    * SURVEY §2i names as the 100 TB-era stateful surface (typed state
    * cells, explicit timers, TTL, RocksDB-backed state off-heap).
    * Semantics are IDENTICAL to [[sessionize]] by construction: same
    * merge rule (an event within the gap of two buffered sessions
    * bridges them; one before a session's start extends it backwards),
    * same watermark-hold (a session is emitted only when the watermark
    * passes its end + gap, so a late-but-admissible event can still
    * extend or bridge it — the r9 late-bridge regression), and the
    * StreamingSpec twin tests run both implementations over the same
    * MemoryStream batches and assert equal output.
    *
    * What changes vs flatMapGroupsWithState:
    *  - the session buffer is a [[ListState]] of (startUs, endUs, count)
    *    triples — a typed state CELL, not one opaque blob, so RocksDB
    *    stores/merges rows instead of a serialized List;
    *  - eviction is an explicit event-time timer per key
    *    (`registerTimer`), re-armed by [[flush]] to the earliest horizon
    *    still open — exactly the `setTimeoutTimestamp` contract, but
    *    allowing many independent timers per key when a processor needs
    *    them (this one keeps a single timer: delete-all-then-re-arm);
    *  - requires the RocksDB state store provider, which is the point:
    *    per-user session state at firehose scale lives on local disk +
    *    changelog, not executor heap. */
  def sessionizeTWS(events: Dataset[Ev]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, Ev, UserSession] {
          @transient private var sessions: ListState[(Long, Long, Long)] = _

          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            sessions = getHandle.getListState[(Long, Long, Long)](
              "sessions",
              org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
              TTLConfig.NONE)

          private def buffered: List[(Long, Long, Long)] =
            if (sessions.exists()) sessions.get().toList else Nil

          /** Emit watermark-final sessions, persist the rest, and re-arm
            * the single eviction timer to the earliest still-open horizon
            * (clamped past the watermark so the timer always fires in a
            * FUTURE batch). Mirrors [[sessionize]]'s flush exactly. */
          private def flush(userId: Long, all: List[(Long, Long, Long)],
                            wmMs: Long): Iterator[UserSession] = {
            val wmUs = wmMs * 1000
            val (done, open) = all.partition(_._2 + gapUs < wmUs)
            getHandle.listTimers().foreach(getHandle.deleteTimer)
            if (open.isEmpty) sessions.clear()
            else {
              sessions.put(open.toArray)
              getHandle.registerTimer(
                math.max(open.map(_._2).min / 1000 + gapUs / 1000, wmMs + 1))
            }
            done.sortBy(_._1)
              .map(s => UserSession(userId, tsOf(s._1), tsOf(s._2), s._3))
              .iterator
          }

          override def handleInputRows(userId: Long, it: Iterator[Ev],
                                       tv: TimerValues): Iterator[UserSession] = {
            var buf = buffered
            it.foreach { e =>
              val t = usOf(e.ts)
              // merge every session within gap of t (at most two: the
              // intervals are disjoint by construction), else open new
              val (near, far) = buf.partition(s =>
                t >= s._1 - gapUs && t <= s._2 + gapUs)
              val merged = near.foldLeft((t, t, 1L)) { case (a, s) =>
                (math.min(a._1, s._1), math.max(a._2, s._2), a._3 + s._3)
              }
              buf = merged :: far
            }
            flush(userId, buf, tv.getCurrentWatermarkInMs())
          }

          override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                          info: ExpiredTimerInfo): Iterator[UserSession] =
            flush(userId, buffered, tv.getCurrentWatermarkInMs())
        },
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** st_transform_with_state: per-user running (count, value-total) via
    * Spark 4's transformWithState — the modern typed stateful API
    * (arbitrary per-key state cells, timers, TTL). State here is one
    * (count, sum) pair per user; each micro-batch emits the updated
    * running totals (Update mode). Requires the RocksDB state store
    * provider, which is how this state surface scales past executor
    * memory at 100 TB — state lives on local disk + changelog, not heap. */
  def runningTotals(events: Dataset[Ev]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).transformWithState(
      new StatefulProcessor[Long, Ev, (Long, Long, Double)] {
        @transient private var st: ValueState[(Long, Double)] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[(Long, Double)](
            "totals", org.apache.spark.sql.Encoders.product[(Long, Double)],
            // TTL-based idle eviction is the production state bound here,
            // but TTLConfig requires TimeMode.ProcessingTime, under which
            // the engine keeps scheduling timer micro-batches — a query
            // that never quiesces (measured: processAllAvailable hangs a
            // MemoryStream test indefinitely). The demo therefore runs
            // TimeMode.None and leans on RocksDB spilling state to disk;
            // a deployment with idle-key churn flips this to
            // TTLConfig(Duration.ofDays(30)) + a processing-time trigger.
            TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Ev],
                                     timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
          var (n, v) = if (st.exists()) st.get() else (0L, 0.0)
          rows.foreach { e => n += 1; v += e.value }
          st.update((n, v))
          Iterator.single((key, n, v))
        }
      },
      TimeMode.None(), OutputMode.Update())
  }

  /** st_map_state: per-user per-event-type running counts via
    * transformWithState's MapState — the third typed state cell
    * (ValueState: [[runningTotals]]/[[cdcApply]]; ListState:
    * [[sessionizeTWS]]; MapState: here). The sub-keyed cell is the
    * point: one state row per (user, event_type) in RocksDB, read and
    * written per TOUCHED sub-key only — a serialized Map[String, Long]
    * blob in a ValueState would deserialize/rewrite the whole map for
    * every event, which at firehose scale turns a counter update into
    * O(|map|) I/O. Each micro-batch folds its rows locally first
    * (one state read/write per touched sub-key per batch, not per
    * event) and emits the updated (user, type, count) rows. */
  def typeCounts(events: Dataset[Ev]): Dataset[(Long, String, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).transformWithState(
      new StatefulProcessor[Long, Ev, (Long, String, Long)] {
        @transient private var counts: MapState[String, Long] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          counts = getHandle.getMapState[String, Long](
            "counts", org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Ev],
                                     timerValues: TimerValues): Iterator[(Long, String, Long)] = {
          val delta = scala.collection.mutable.Map.empty[String, Long]
          rows.foreach(e => delta.update(e.event_type, delta.getOrElse(e.event_type, 0L) + 1))
          delta.toSeq.sortBy(_._1).map { case (t, d) =>
            val n = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
            counts.updateValue(t, n)
            (key, t, n)
          }.iterator
        }
      },
      TimeMode.None(), OutputMode.Update())
  }

  /** st_rolling_distinct: per-event-type running distinct users via an
    * HLL register array held as BINARY ValueState — the fourth state
    * payload shape (product/long/list/map so far; this one is an opaque
    * 4 KB mergeable blob). The design point is the live face of the
    * storable/mergeable sketch invariant the batch side pins
    * (udaf_hll_merge, q_hll_sliding): register updates are max-writes,
    * so the state after ANY micro-batch partitioning of the input
    * equals the batch `hll_distinct` over the same prefix BIT-FOR-BIT —
    * StreamingSpec asserts exactly that, per key, against the batch
    * aggregate. At 100 TB the state is one fixed 4 KB row per key in
    * RocksDB regardless of cardinality — the reason a live uniques
    * counter is a sketch and not a set. */
  def rollingDistinct(events: Dataset[Ev]): Dataset[(String, Long)] = {
    import events.sparkSession.implicits._
    import graft.functions.HyperLogLogAgg
    events.groupByKey(_.event_type).transformWithState(
      new StatefulProcessor[String, Ev, (String, Long)] {
        @transient private var sk: ValueState[Array[Byte]] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          sk = getHandle.getValueState[Array[Byte]](
            "sketch", org.apache.spark.sql.Encoders.BINARY,
            // TTL off for the MemoryStream-quiescence reason documented
            // on [[runningTotals]]; live keys here are the ~6 event
            // types, so state is bounded by keyspace × 4 KB.
            TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[Ev],
                                     timerValues: TimerValues): Iterator[(String, Long)] = {
          val buf = if (sk.exists()) sk.get()
                    else new Array[Byte](HyperLogLogAgg.M)
          rows.foreach(e => HyperLogLogAgg.updateRegisters(
            buf, e.user_id, org.apache.spark.sql.types.LongType))
          sk.update(buf)
          Iterator.single((key, HyperLogLogAgg.estimate(buf)))
        }
      },
      TimeMode.None(), OutputMode.Update())
  }

  /** st_cdc_apply: streaming twin of the batch q_cdc_apply log
    * compaction — a live CDC feed (Debezium topic, table-format change
    * stream) applied incrementally instead of compacted in one pass.
    * ValueState holds exactly ONE row per key: the current
    * maximum-sequence version. Each micro-batch folds its records into
    * that state and, when the current version changes, emits the new
    * post-image (Update mode) — a D post-image is the tombstone the
    * sink applies as a delete. Delivery-fault tolerance is the design
    * point: a record with seq ≤ the state's seq is dropped, so
    * OUT-OF-ORDER and DUPLICATE delivery (at-least-once upstream) are
    * both idempotent — replaying a whole batch emits nothing new.
    * Scale shape: state is one fixed-width row per live key in RocksDB
    * (off-heap, changelog-checkpointed), not a buffered log — the same
    * reason the batch twin is a single window pass. */
  def cdcApply(log: Dataset[Chg]): Dataset[Chg] = {
    import log.sparkSession.implicits._
    log.groupByKey(_.k).transformWithState(
      new StatefulProcessor[Long, Chg, Chg] {
        @transient private var cur: ValueState[Chg] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          cur = getHandle.getValueState[Chg](
            "current", org.apache.spark.sql.Encoders.product[Chg],
            // See [[runningTotals]] on why TTL stays off here: TTLConfig
            // needs a processing-time mode that never quiesces under
            // MemoryStream tests. Live keys are bounded by the keyspace,
            // and D tombstones could clear state once a retention window
            // passes in a deployment.
            TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Chg],
                                     timerValues: TimerValues): Iterator[Chg] = {
          val before = if (cur.exists()) Some(cur.get()) else None
          val winner = (before.iterator ++ rows).maxBy(_.seq)
          if (before.contains(winner)) Iterator.empty
          else { cur.update(winner); Iterator.single(winner) }
        }
      },
      TimeMode.None(), OutputMode.Update())
  }

  /** st_stream_stream_join: purchases joined to the same user's clicks in
    * the preceding hour — a genuine stream×stream inner join. BOTH sides
    * carry watermarks and the join predicate carries the event-time band;
    * together they bound each side's join state to the watermark horizon
    * (without them Spark must buffer both streams forever — the 100 TB
    * non-starter). Clicks keep a wider watermark: a click may be joined
    * by a purchase up to 1 h later, so its state must outlive the
    * purchase watermark by the band width. */
  def streamStreamJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    intervalJoined(purchases, clicks, "inner")

  /** Shared projection/watermark/band setup for both stream-stream joins
    * — the watermark widths and the interval band are the correctness-
    * critical part (clicks' watermark must outlive purchases' by the
    * band width), so they live exactly once. */
  private def intervalJoined(purchases: DataFrame, clicks: DataFrame,
                             joinType: String): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("buy_id"), col("user_id"), col("ts").as("buy_ts"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
              col("ts").as("click_ts"))
    p.join(c, col("user_id") === col("c_user") &&
              col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
              col("click_ts") <= col("buy_ts"),
           joinType)
      .select(col("buy_id"), col("click_id"), col("user_id"))
  }

  /** st_stream_stream_left: LEFT OUTER stream-stream join — same interval
    * band as [[streamStreamJoin]], but purchases with no click in the
    * band must still emit (click_id NULL) once the click watermark passes
    * the band's horizon and proves no match can arrive. This is the
    * semantics batch LEFT JOIN gives for free and streaming can only
    * provide under both watermarks + a time-bound join condition: the
    * null side is emitted at state eviction, not at row arrival. */
  def streamStreamLeftJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    intervalJoined(purchases, clicks, "left_outer")

  /** src_stream_file: replay a parquet directory as a micro-batched file
    * stream (schema must be declared — streaming reads never infer). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** st_foreachbatch_sink: exactly-once-ish micro-batch parquet sink —
    * the checkpoint records committed batchIds, so a replayed batch
    * overwrites its own deterministic output path instead of appending
    * duplicates (idempotent writes + checkpointed offsets = effectively
    * exactly-once for a file sink). */
  def foreachBatchParquet(df: DataFrame, outDir: String,
                          checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
      .start()

  /** st_ingest_funnel (r12 VERDICT #4): the llm_ingest_e2e verdict logic
    * run INCREMENTALLY — incoming docs arrive as a micro-batched file
    * stream; the standing corpus's featurized table is the static side.
    *
    *  - The standing probe structures (hash set, bloom, chunk-hash set —
    *    all broadcast-sized) are built ONCE before the query starts, as
    *    one broadcast value (Dedup.StandingIndex.probe), so N
    *    micro-batches pay the build once, not N times (at 100 TB the
    *    standing side is the corpus; rebuilding it per batch would be
    *    the scale-killer).
    *  - Cross-batch `dropDuplicatesWithinWatermark` on doc_id guards
    *    at-least-once file delivery (a replayed file must not re-emit
    *    verdicts). Its keyed state is the query's RocksDB row — bounded
    *    by the ingest-time watermark horizon, NOT the corpus (plain
    *    dropDuplicates would keep every doc_id forever).
    *  - Each micro-batch featurizes its own docs (the same one-pass
    *    projection as the batch funnel — Dedup.featurize) and routes
    *    them through the SAME Dedup.ingestVerdicts the declared key
    *    runs; outputs land in the idempotent per-batch parquet layout of
    *    [[foreachBatchParquet]] (replayed batch = same dir, overwritten).
    *    Featurize + verdicts + write is ONE job per micro-batch (the
    *    verdicts are a projection over the broadcast index), so the
    *    upstream stateful dedup scan runs exactly once per batch with no
    *    pin: each extra job over the batch frame would re-execute that
    *    scan and re-commit its state version (observed before as
    *    numRowsTotal = 3x the docs and, at sf10,
    *    CANNOT_LOAD_STATE_STORE.UNRELEASED_THREAD_ERROR). StreamingSpec
    *    pins the state row count.
    *
    * Batch-equivalence (pinned in StreamingSpec): a doc's verdict is a
    * function of its OWN features plus the standing index only, so
    * micro-batch boundaries cannot change the answer — streamed verdicts
    * over any file split equal the one-shot llm_ingest_e2e rows.
    *
    * Deployment: run the dedup state on RocksDB
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `RocksDBStateStoreProvider`) with
    * `...stateStore.rocksdb.changelogCheckpointing.enabled=true`. At sf10
    * (250k docs per batch) the default per-batch FULL-SNAPSHOT checkpoint
    * hit CANNOT_LOAD_STATE_STORE.UNRELEASED_THREAD_ERROR: the maintenance
    * thread holds the RocksDB instance while uploading, and the next
    * batch's load times out at 120 s. Changelog checkpointing makes a
    * commit an append of the delta, with snapshots amortized in
    * maintenance. On one host, also raise
    * `...stateStore.rocksdb.lockAcquireTimeoutMs` (600000 covered the
    * first snapshot's upload) and push
    * `spark.sql.streaming.stateStore.maintenanceInterval` past the run
    * length (600s): with 32 instances in one JVM, maintenance snapshot
    * fold-ups held instance locks >10 min against the next batch's loads.
    * Across executors, keep the default interval and spread the
    * instances instead. */
  def ingestFunnel(spark: SparkSession, incomingDir: String,
                   docSchema: StructType, standFeat: DataFrame,
                   outDir: String, checkpointDir: String,
                   maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val idx = graft.llm.Dedup.standingIndexOf(standFeat)
    idx.probe // build and broadcast the index before the first batch
    // Index lifecycle (r14, ADVICE): the broadcast must not outlive the
    // query — every funnel (re)start (checkpoint-restart in
    // StreamingSpec, a nightly rerun in production) would otherwise keep
    // a fresh index generation for the session lifetime. A terminated
    // query (graceful or failed) releases its own index here; the
    // listener self-removes so restarts don't stack listeners.
    val q = fileStream(spark, incomingDir, docSchema, maxFilesPerTrigger)
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the micro-batch session is a clone — install it (one registry
        // lookup when the kernels featurize needs are already there)
        graft.Tables.configure(batch.sparkSession)
        graft.llm.Dedup.ingestVerdicts(
            graft.llm.Dedup.featurize(batch.drop("ingest_ts")), idx)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
      .start()
    // Release keyed on RUN id, not query id (r15, ADVICE medium): a
    // checkpoint restart reuses the query id (only runId changes), so an
    // id-keyed listener on the NEW run would fire on the OLD run's late
    // async QueryTerminatedEvent — destroying the new run's index
    // mid-query and self-removing so the new run's index is never
    // released. runId is unique per run, so a stale event can never
    // match. Release is CAS-once: the listener and the missed-event check
    // below may race, and a double release must be impossible.
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) idx.release()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // A query that failed before the listener registered already posted
    // its terminated event to a bus we weren't on — without this check
    // the index would leak for the session lifetime (r15, ADVICE medium).
    if (!q.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    q
  }

  /** st_catalog_publish (r13): streaming SNAPSHOT-PUBLISH through the
    * versioned catalog — each micro-batch's complete-mode aggregate
    * lands in its own immutable parquet dir (`snap_<batchId>`) and is
    * then registered under a stable catalog name, flipping the binding
    * only AFTER the write completes (write-audit-publish; the upsertSink
    * pointer generalized to the catalog's versioned log). Readers in any
    * session resolve the name for the freshest consistent snapshot —
    * never a half-written one — or time-travel to any earlier batch via
    * Catalog.asOf, because every publish is a catalog VERSION and old
    * snapshot dirs are immutable. Replayed batches rewrite their own dir
    * and re-register the same binding; Catalog.mutate's no-op detection
    * burns no version, so at-least-once delivery cannot inflate history.
    * At scale the publish is O(1) metadata per batch; snapshot retention
    * is the lake's GC policy (old dirs are dropped only after their
    * versions age out of the as-of horizon). */
  def catalogPublish(df: DataFrame, outDir: String, checkpointDir: String,
                     catalogDir: String, name: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val snap = s"$outDir/snap_$batchId"
        batch.write.mode("overwrite").parquet(snap)
        graft.sources.Catalog.register(catalogDir,
          Seq(graft.sources.Catalog.Entry(name, "parquet", snap, Nil)))
        ()
      }
      .start()

  /** st_upsert_sink: streaming CDC-apply — each micro-batch reduces to
    * latest-per-user (max(struct(ts, value)): deterministic even on ts
    * ties) and MERGEs into a keyed serving table, the per-batch run of
    * q_merge_upsert's plan. State versions are write-audit-publish: a new
    * directory per batch plus a pointer file, never an in-place overwrite
    * of the directory being read (Spark reads lazily — overwriting the
    * input of the running merge would corrupt it). Replayed batches
    * rewrite their own version dir and re-point — idempotent, so
    * checkpoint + this sink is effectively exactly-once. */
  def upsertSink(df: DataFrame, stateDir: String,
                 checkpointDir: String): StreamingQuery = {
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val published = latestVersion(stateDir)
        // Replay short-circuit: if the pointer already names THIS batch,
        // the merge+publish completed before the crash — re-running it
        // would read v_$batchId while overwriting v_$batchId (the lazy
        // merge plan's own input), the one self-corruption the
        // write-audit-publish layout exists to prevent.
        if (!published.contains(batchId)) {
          val latest = batch
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("value"))).as("m"))
            .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
          val merged = currentState(batch.sparkSession, stateDir) match {
            case Some(cur) => cur.unionByName(latest)
              .groupBy(col("user_id"))
              .agg(max(struct(col("ts"), col("value"))).as("m"))
              .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
            case None => latest
          }
          merged.write.mode("overwrite").parquet(s"$stateDir/v_$batchId")
          // Publish atomically: a crash mid-write must never leave an
          // empty/truncated pointer (which would strand or silently
          // rewind every later recovery).
          val tmp = java.nio.file.Paths.get(stateDir, s"_LATEST.tmp_$batchId")
          java.nio.file.Files.writeString(tmp, batchId.toString)
          java.nio.file.Files.move(tmp, java.nio.file.Paths.get(stateDir, "_LATEST"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      }
      .start()
  }

  /** The committed version id, or None before the first publish. */
  private def latestVersion(stateDir: String): Option[Long] = {
    val ptr = java.nio.file.Paths.get(stateDir, "_LATEST")
    if (java.nio.file.Files.exists(ptr))
      Some(java.nio.file.Files.readString(ptr).trim.toLong)
    else None
  }

  /** The serving table [[upsertSink]] maintains: the version the pointer
    * names, or None before the first publish. */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestVersion(stateDir).map(v => spark.read.parquet(s"$stateDir/v_$v"))

  /** st_ewma_state: the streaming form of q_ewma's sequential per-key
    * recurrence — constant O(1) state per user (running count + current
    * ewma), never the event history, which is what replaces the batch
    * operator's collected array when the key stream is unbounded. Each
    * update emits the user's current (n, ewma); with in-order feed the
    * final update per user equals the batch fold bit-for-bit (same
    * s*0.5 + v*0.5 op order). In-batch arrival is sorted here;
    * cross-batch order is the replayer's contract (event-time-ordered
    * chunks), matching the batch twin's (ts, event_id) order. */
  def ewmaState(events: Dataset[Ev]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    // Idle-state horizon: a user silent for 30 days past the watermark
    // has their (n, ewma) cell evicted. Without SOME eviction the state
    // grows with ever-seen-user cardinality, not activity — the header's
    // bounded-state contract. A returning user restarts their EWMA (the
    // documented trade for O(active users) state).
    val idleMs = 30L * 24 * 3600 * 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            // last running value was already emitted on its update
            state.remove()
            (userId, -1L, 0.0) // filtered by n > 0 below
          } else {
            var (n, s) = state.getOption.getOrElse((0L, 0.0))
            val evs = it.toSeq.sortBy(e => (usOf(e.ts), e.event_id, e.value))
            // Fold stops at the shared cap — the batch twin's declared
            // prefix bound, so the equality holds past 4096 events/user.
            evs.foreach { e =>
              if (n < EWMA_STATE_CAP) {
                s = if (n == 0) e.value else s * 0.5 + e.value * 0.5
                n += 1
              }
            }
            state.update((n, s))
            // The idle horizon anchors to the user's OWN event time, not
            // the watermark: at the first batch the watermark is still 0
            // (epoch), and an epoch-anchored timer would fire the moment
            // real event times advance it — wiping every user's state
            // after one batch (observed: streamed n restarted mid-test).
            val lastEventMs = evs.last.ts.getTime
            state.setTimeoutTimestamp(
              math.max(lastEventMs + idleMs,
                       state.getCurrentWatermarkMs() + 1))
            (userId, n, s)
          }
      }
      .filter(_._2 > 0)
  }
}
