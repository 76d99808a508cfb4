package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared operator: a DataFrame builder plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against. */
case class Q(body: (SparkSession, String) => DataFrame, oracle: Option[String] = None) {
  /** The key boundary every caller goes through (SparkEntry, Verify,
    * Bench, PlanDump, tests, the benchmark): install the session's
    * configs and functions ([[Tables.configure]]), then build. Bodies
    * may assume both and never register anything themselves. */
  val fn: (SparkSession, String) => DataFrame =
    (s, dir) => body(Tables.configure(s), dir)
}

/** Hash-stability helpers (SURVEY §7.4). The driver's correctness gate is a
  * bit-exact hash compare against DuckDB, so:
  *  - never emit a raw double aggregate (parallel double sums are
  *    order-dependent and AQE changes partial-agg order run-to-run):
  *    sum in DECIMAL(38,4) — exact, associative, deterministic;
  *  - never DECLARE a decimal output column: the driver reads Spark's
  *    parquet via pandas (decimal → Python Decimal object, '2.5000') but
  *    the DuckDB oracle via .df() (decimal → float64, 2.5) — the same
  *    value hash-mismatches on representation (all 15 round-1 hash-fails).
  *    So: exact decimal arithmetic INSIDE the query, one deterministic
  *    cast to DOUBLE as the very last step on BOTH sides. A scale-4
  *    decimal whose unscaled value fits a long converts to double as the
  *    same correctly-rounded `unscaled / 10⁴` division in the JVM
  *    (BigDecimal.doubleValue compact path) and DuckDB (hugeint→double
  *    then /10⁴) — bit-identical;
  *  - every declared query ends in a total order with a unique tiebreaker.
  */
object H {
  val D: DecimalType = DecimalType(38, 4)

  /** Exact, order-independent sum of a double expression, emitted as
    * DOUBLE. Oracle twin: [[oSum]]. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Deterministic average: exact decimal sum divided by count, rounded
    * once to scale 4, then emitted as DOUBLE. Oracle twin: [[oAvg]]. */
  def davg(c: Column): Column = (sum(c.cast(D)) / count(c)).cast(D).cast("double")

  /** round(x, 6) the way DuckDB computes it: std::round(x·1e6) / 1e6.
    * Spark's round(double, 6) instead rounds x's shortest decimal repr
    * half-up, and the two part when x·1e6 sits just below a half:
    * 8155/16000 · 1e6 = 509687.49999999994, which DuckDB rounds to
    * 0.509687 and Spark's round(x, 6) to 0.509688. Rounding the scaled
    * double to 0 places agrees with std::round (both round x·1e6's own
    * value, halves away from zero), and the final division is the same
    * IEEE operation in both engines. */
  def round6(c: Column): Column = round(c * 1e6, 0) / 1e6

  /** Oracle-side spelling of dsum/davg. */
  def oSum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(38,4))) AS DOUBLE)"
  def oAvg(x: String): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(38,4))) / COUNT($x) AS DECIMAL(38,4)) AS DOUBLE)"

  /** DISTRIBUTED global prefix sums — the two-pass replacement for a
    * bare `SUM(...) OVER (ORDER BY ...)` SinglePartition window (the
    * q_pareto disease, r13: one spilling task owns the whole table).
    * Range-repartition on `sortCols` (which MUST be a total order —
    * give every row a unique tiebreaker), per-partition running sums,
    * then the tiny (≤ `parts`-row) per-partition totals broadcast back
    * as offsets. For each (name, value) this adds `<name>_before`
    * (EXCLUSIVE prefix: sum over strictly-earlier rows) and
    * `<name>_tot` (grand total). Sum types follow the value expression
    * (LONG and DECIMAL are associative — bit-identical to the
    * single-partition spelling at any split; do not pass raw DOUBLE).
    * Inclusive cumsum = `<name>_before` + value. Shared by q_pareto /
    * q_ntile_binning-style ranks (value = lit(1L) makes `_before` the
    * 0-based global rank), q_mannwhitney, q_ks_test, q_rfm, q_gini.
    *
    * SINGLE-EVALUATION CUT (r14, ADVICE fix): the range-partitioned
    * subplan is consumed TWICE — the per-pid offset aggregation and the
    * probe side it broadcast-joins back to. `__pid` consistency between
    * the branches requires both to read the SAME materialized shuffle:
    * range boundaries are sampled per exchange instance (seeded by RDD
    * id), so two independent exchanges could cut the key space
    * differently and the prefix sums would silently misalign. Relying on
    * Spark's exchange reuse to dedup the two branches is NOT enough —
    * r14 observed column pruning specializing the offsets branch below
    * its exchange (probe-only payload columns dropped), which broke
    * canonical equality and left TWO independent range shuffles in the
    * final plan. PlanCut.once rebases the partitioned frame onto its own
    * evaluated RDD, so both branches share one shuffle dependency and
    * one boundary sample by construction (see PlanCut's scaladoc for the
    * trade against localCheckpoint/persist). PlanAuditSpec pins the
    * resulting shape on every consumer key. */
  def prefixSums(df: DataFrame, sortCols: Seq[Column],
                 values: Seq[(String, Column)], parts: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // parts <= 0 derives the range width from the session's shuffle
    // partitions (r15, guide §2: scale-adaptive, not a local constant —
    // the bench sets it to $SPARK_GRAFT_CPUS, a cluster sets it to its
    // own width). The reconstruction (local window + broadcast offsets)
    // is partition-count-invariant, so results cannot change.
    val nParts = if (parts > 0) parts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = org.apache.spark.sql.graft.PlanCut.once(
      df.repartitionByRange(nParts, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = values.foldLeft(parted) { case (d, (n, v)) =>
      d.withColumn(s"__v_$n", v)
        .withColumn(s"__lb_$n", sum(col(s"__v_$n")).over(localW))
    }
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aggs = values.map { case (n, _) => sum(col(s"__v_$n")).as(s"__ps_$n") }
    val offsets0 = withLocal.groupBy(col("__pid"))
      .agg(aggs.head, aggs.tail: _*)
    val offsets = values.foldLeft(offsets0) { case (d, (n, _)) =>
      d.withColumn(s"__off_$n", sum(col(s"__ps_$n")).over(offW))
        .withColumn(s"${n}_tot", sum(col(s"__ps_$n")).over(totW))
    }.select(col("__pid") +: values.flatMap { case (n, _) =>
      Seq(col(s"__off_$n"), col(s"${n}_tot")) }: _*)
    val joined = withLocal.join(broadcast(offsets), Seq("__pid"))
    val withBefore = values.foldLeft(joined) { case (d, (n, _)) =>
      // null-safe zero of the SUM's own type (first partition / first row)
      d.withColumn(s"${n}_before",
        coalesce(col(s"__off_$n"), col(s"${n}_tot") - col(s"${n}_tot")) +
          coalesce(col(s"__lb_$n"), col(s"${n}_tot") - col(s"${n}_tot")))
    }
    withBefore.drop("__pid")
      .drop(values.flatMap { case (n, _) =>
        Seq(s"__v_$n", s"__lb_$n", s"__off_$n", s"__ps_$n") }: _*)
  }

  /** In-row canonical pair explosion over a SORTED DISTINCT array column:
    * every (a, b) with a before b, as structs. The 1-based slice start
    * (i + 2) against transform's 0-based index i is the load-bearing
    * subtlety — shared by basket pairs, audience overlap, and the
    * co-supply edge builders so an off-by-one can only ever be fixed in
    * one place. This is the join-free alternative to a groupwise
    * self-join: Σ C(k,2) pairs materialize in-row off one reduced array,
    * never Σ k² join probes. */
  def pairsE(arr: String): String =
    s"""flatten(transform($arr, (a, i) ->
         transform(slice($arr, i + 2, size($arr)), b -> struct(a, b))))"""
}
