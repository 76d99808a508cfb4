package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.Frames

/** The reduced-table exemption as a SPEC, not prose (r14 VERDICT #2).
  *
  * r13's window-cliff hunt missed q_gini because the "this window's
  * input is genuinely reduced" claims lived in comments. This guard
  * walks EVERY declared plan for the cliff shape the hunt targets — a
  * Window whose partitioning gives Spark at most a handful of tasks
  * (unpartitioned/foldable, or few distinct partition values) riding an
  * input that GROWS with the corpus — and measures instead of trusting:
  * the window's child subplan is executed at sf0.001 and sf0.01 (a 10x
  * data ratio) and flagged when its rows grow ≥4x past a 256-row floor.
  *
  * Every flagged (key, window) must appear in the explicit allowlist
  * below, each entry carrying its measured input counts and the reason
  * the growth is acceptable. Reintroducing q_gini's pre-r14 shape (a
  * bare Window.orderBy rank over the customer dim) fails this suite.
  *
  * The same walk checks that a key's plan depends on the key alone: the
  * keys that ask for the top-k rewrite run first on the shared session,
  * and no other key's executed plan may then carry its operator.
  *
  * What the thresholds encode:
  *  - floor 256: the ≤32-row prefix-sum offset tables, month/pid spines
  *    and sketch tables never trip the guard no matter how they jitter;
  *  - growth ≥4x across a 10x corpus: date spines (fixed 7-year range),
  *    |p_size| frontiers and other bounded domains grow ~1x; anything
  *    near-linear reads ≥8x and trips;
  *  - partitions ≤64 at sf0.01: a window partitioned by a genuinely
  *    high-cardinality key (customer, order) distributes fine and is
  *    exempt; ~5 event types or one global partition is the cliff.
  */
class WindowScaleGuardSpec extends SparkSuite {

  private val sfSmall = "/root/testdata/sf0.001"
  private val sfBig = "/root/testdata/sf0.01"
  private val rowFloor = 256L
  private val growthFlag = 4.0
  private val fewParts = 64L

  /** key -> reason (with measured counts) the flagged growth is accepted. */
  private val allowlist: Map[String, String] = Map(
    "q_win_rank" -> ("declares Spark's NATIVE rank/dense_rank/" +
      "percent_rank/ntile surface over the 5-value o_orderpriority " +
      "partition (orders 1500 -> 15000 rows, sf0.001 -> sf0.01); " +
      "percent_rank/ntile are intrinsically whole-group. The " +
      "distributed spelling of the SAME query ships as q_win_rank_dist " +
      "(r14, identical oracle SQL, no few-partition window); this key " +
      "pins the native operators against the oracle."),
    "q_win_nav" -> ("declares Spark's NATIVE first/last/nth_value/" +
      "cume_dist surface over the same 5-partition demo grouping " +
      "(orders 1500 -> 15000 rows); cume_dist is intrinsically " +
      "whole-group. The distributed spelling of the SAME query ships " +
      "as q_win_nav_dist (r15, identical oracle SQL, no few-partition " +
      "window); this key pins the native operators against the oracle."),
    "q_survival" -> ("window input is the distinct-tenure-day domain, " +
      "bounded by the fixture's ~2400-day date range regardless of " +
      "corpus: measured 135 -> 808 -> 1574 rows at sf0.001/0.01/0.1 — " +
      "saturating (6.0x then 1.9x per decade), not corpus-linear."))

  private def windowsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.collectWithSubqueries { case w: LWindow => w }

  private object Aqe extends AdaptiveSparkPlanHelper

  test("no declared plan runs a few-partition window over corpus-growing " +
       "input outside the measured allowlist") {
    val topkKeys = Set("q_topn_native", "q_theta_sketch")
    topkKeys.foreach(k => Registry.byName(k).fn(spark, sfSmall))
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val leaked = scala.collection.mutable.ArrayBuffer.empty[String]
    Registry.all.foreach { case (key, q) =>
      try {
        val small = q.fn(spark, sfSmall)
        if (!topkKeys(key) && Aqe.collectWithSubqueries(small.queryExecution.executedPlan) {
              case t: graft.plans.TopKPerGroupExec => t }.nonEmpty)
          leaked += key
        val smallWins = windowsOf(small.queryExecution.optimizedPlan)
        if (smallWins.nonEmpty) {
          val bigWins = windowsOf(
            q.fn(spark, sfBig).queryExecution.optimizedPlan)
          // zip would silently truncate/misalign if a plan rewrite fires
          // at one sf only and the Window node counts differ (r14 ADVICE)
          if (smallWins.size != bigWins.size)
            failures += key -> (s"window count differs across sf " +
              s"(${smallWins.size} at sf0.001 vs ${bigWins.size} at " +
              s"sf0.01) — guard cannot pair windows for growth measurement")
          smallWins.zip(bigWins).foreach { case (ws, wb) =>
            val nBig = Frames.ofRows(spark, wb.child).count()
            if (nBig > rowFloor) {
              val nSmall = Frames.ofRows(spark, ws.child).count()
              if (nBig >= growthFlag * math.max(nSmall, 1L)) {
                // growing input — only a problem when the partitioning
                // cannot spread it: unpartitioned/foldable, or few
                // distinct partition values
                // two-pass kernel exemption: a window partitioned on the
                // spark_partition_id column (__pid in H.prefixSums, pid
                // in the hand-rolled twins) has partition count = the
                // kernel's `parts` KNOB — it scales with the cluster,
                // not the data, so "few partitions at sf0.01" is not a
                // cliff; PlanAuditSpec separately pins those kernels'
                // single-evaluation shape.
                val pidPartitioned = wb.partitionSpec.exists(_.exists {
                  case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
                    a.name == "__pid" || a.name == "pid"
                  case _ => false
                })
                val parts =
                  if (pidPartitioned) Long.MaxValue
                  else if (wb.partitionSpec.isEmpty ||
                      wb.partitionSpec.forall(_.foldable)) 1L
                  else Frames.ofRows(spark,
                    Aggregate(wb.partitionSpec,
                      wb.partitionSpec.zipWithIndex.map { case (e, i) =>
                        Alias(e, s"g$i")() },
                      wb.child)).count()
                if (parts <= fewParts)
                  flagged += key -> (s"window input $nSmall -> $nBig rows " +
                    s"(sf0.001 -> sf0.01) across $parts partition(s): " +
                    s"one task owns a corpus-growing sort")
              }
            }
          }
        }
      } catch { case e: Throwable =>
        failures += key -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty,
      s"guard could not inspect ${failures.size} key(s): " +
        failures.take(5).map { case (k, m) => s"$k ($m)" }.mkString("; "))
    assert(leaked.isEmpty,
      s"the top-k rewrite asked for by $topkKeys reached other keys: $leaked")
    val unlisted = flagged.filterNot { case (k, _) => allowlist.contains(k) }
    assert(unlisted.isEmpty,
      "few-partition windows over corpus-growing input with no allowlist " +
        "entry (fix the plan — H.prefixSums/two-pass rank — or adjudicate " +
        "with measured counts):\n" +
        unlisted.map { case (k, m) => s"  $k: $m" }.mkString("\n"))
    // the allowlist must stay honest: no stale entries for keys that no
    // longer flag (they would mask a future reintroduction)
    val stale = allowlist.keySet -- flagged.map(_._1).toSet
    assert(stale.isEmpty,
      s"allowlist entries no longer flagged (delete them): $stale")
  }
}
