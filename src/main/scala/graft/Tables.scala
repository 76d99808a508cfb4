package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-pinned loaders for the driver-generated fixture tables
  * (FIXTURES.md). Every entry point (SparkEntry/Verify/Bench/tests) reads
  * tables through here so session hazards are fixed in exactly one place:
  *
  *  - `events.ts` layout varies by fixture generation: up to r6 it was
  *    parquet TIMESTAMP(NANOS) (Spark 4 throws [PARQUET_TYPE_ILLEGAL]
  *    unless `spark.sql.legacy.parquet.nanosAsLong` is set, then reads
  *    LongType nanoseconds — converted here with integer division
  *    `ts DIV 1000`, NOT float division which loses precision above
  *    2^53 ns); the r7 regeneration writes native timestamp[us] (read as
  *    TIMESTAMP_NTZ directly). `events()` dispatches on the read schema
  *    so both layouts yield the same µs TIMESTAMP_NTZ column that DuckDB
  *    sees. SURVEY §7.4.1.
  *  - session timezone pinned UTC for TimestampNTZ parity with DuckDB.
  */
object Tables {
  /** The one per-session install: the runtime-settable session configs
    * every entry point needs, plus the engine's session extensions
    * ([[graft.functions.GraftExtensions]]: the native functions, the
    * `vec_dot` kernel rule and the top-k planner strategy). The confs
    * are the events `nanosAsLong` read, UTC, and the `file:` file system
    * ([[graft.io.LocalFs]]): Hadoop's local `FileContext` forks `chmod`
    * and `readlink` per call when libhadoop is absent, and every
    * streaming checkpoint write (offset/commit logs, RocksDB changelogs)
    * goes through it. Session confs reach the Hadoop conf of each
    * checkpoint file manager and state store (`newHadoopConf`). Idempotent;
    * once the extensions are present it costs one registry lookup and two
    * list checks beyond the conf sets. [[Q.fn]] runs it before every key,
    * so a session built elsewhere needs nothing from its caller.
    *
    * It also turns off `spark.sql.artifact.isolation.enabled` (Spark 4
    * defaults it on). With isolation, every session tags its jobs with
    * its own artifact UUID and the executor builds a class loader per
    * UUID; the codegen cache is keyed on (class loader, code), so each
    * new session (a fresh `newSession()`, every streaming query's clone)
    * compiles every generated class again. The engine adds no session
    * artifacts (no `addArtifact`, no `ADD JAR`), so isolation buys it
    * nothing. Spark reads the conf at a session's first execution, and
    * this install runs before that on every path; a clone inherits it. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[graft.io.LocalFs].getName)
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    graft.functions.GraftExtensions.install(spark)
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events with `ts` as µs TIMESTAMP_NTZ, exactly matching what DuckDB
    * reads from the same parquet. Schema-adaptive: fixture generations up
    * to r6 wrote TIMESTAMP(NANOS) (read as LongType ns under the
    * `nanosAsLong` flag — converted here by truncating integer division),
    * while the r7 regeneration (2026-08-13) writes native timestamp[us]
    * (read as TIMESTAMP_NTZ directly). Both converge to identical
    * wall-clock microseconds under the UTC session. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(spark, dir, "events")
    // Both conversions below are LITERAL-EPOCH based (timestampadd onto a
    // TIMESTAMP_NTZ literal): pure integer arithmetic on the NTZ domain,
    // correct under ANY session timezone at execution time. The previous
    // spelling (CAST(timestamp_micros(..) AS TIMESTAMP_NTZ)) round-tripped
    // through TimestampType, whose NTZ cast consults the session tz at
    // LAZY EXECUTION — correct only because configure() pins UTC at load,
    // a trap if a caller re-sets the tz between plan and action (r8
    // ADVICE item, closed r9).
    df.schema("ts").dataType match {
      case LongType => // pre-r7 layout: TIMESTAMP(NANOS) read as ns under nanosAsLong
        df.withColumn("ts", expr(
          "timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
      case TimestampNTZType => df // r7+ layout: native timestamp[us], isAdjustedToUTC=false
      case TimestampType => // µs layout tagged isAdjustedToUTC=true: unix_micros reads
        // the tz-independent epoch offset; the fixture's wall-clock IS
        // that offset (generator writes UTC instants)
        df.withColumn("ts", expr(
          "timestampadd(MICROSECOND, unix_micros(ts), TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
      case other => // fail FAST on a fixture regression instead of silently
        // casting (e.g. a string ts would become all-NULL and every
        // downstream window would return empty-but-green-looking rows)
        throw new IllegalStateException(
          s"events.ts has unsupported type $other (dir=$dir); expected " +
          "LongType (nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
