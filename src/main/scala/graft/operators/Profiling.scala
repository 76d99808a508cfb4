package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Round-5 data-quality operators — the reference's validation-report
  * flavor generalized: a one-pass column profile (the "what did we just
  * ingest" report every manual-registration ETL runs before accepting a
  * batch) and a Benford first-digit screen (the classic bulk-amount
  * fraud/entry-error detector).
  *
  * Both reduce in a single scan: the profile is one aggregation row
  * stacked to long form (count-distincts share one Expand pass), the
  * digit screen one 9-group aggregate. Doubles are surfaced as
  * fixed-format strings ('%.2f' of the true binary value — identical in
  * both engines) so the compare never sees raw float formatting. */
object Profiling {

  val qs: Seq[(String, Q)] = Seq(

    // Column profile of a just-ingested batch: rows, nulls, distincts,
    // min/max per profiled column, in one corpus pass (the distinct
    // counts expand map-side; nothing but the 1-row aggregate crosses
    // the wire). Output is the long-form report the reference's
    // validation step prints.
    "q_profile" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val a = o.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderstatus")).as("nd_status"),
          countDistinct(col("o_orderpriority")).as("nd_prio"),
          countDistinct(col("o_custkey")).as("nd_cust"),
          countDistinct(col("o_totalprice")).as("nd_price"),
          (count(lit(1)) - count(col("o_orderstatus"))).as("nn_status"),
          (count(lit(1)) - count(col("o_orderpriority"))).as("nn_prio"),
          (count(lit(1)) - count(col("o_custkey"))).as("nn_cust"),
          (count(lit(1)) - count(col("o_totalprice"))).as("nn_price"),
          min(col("o_orderstatus")).as("mn_status"),
          max(col("o_orderstatus")).as("mx_status"),
          min(col("o_orderpriority")).as("mn_prio"),
          max(col("o_orderpriority")).as("mx_prio"),
          min(col("o_custkey")).cast("string").as("mn_cust"),
          max(col("o_custkey")).cast("string").as("mx_cust"),
          format_string("%.2f", min(col("o_totalprice"))).as("mn_price"),
          format_string("%.2f", max(col("o_totalprice"))).as("mx_price"))
        a.selectExpr("n_rows",
          """stack(4,
               'o_custkey',      nd_cust,   nn_cust,   mn_cust,   mx_cust,
               'o_orderpriority', nd_prio,  nn_prio,   mn_prio,   mx_prio,
               'o_orderstatus',  nd_status, nn_status, mn_status, mx_status,
               'o_totalprice',   nd_price,  nn_price,  mn_price,  mx_price)
             AS (col_name, n_distinct, n_null, min_s, max_s)""")
          .select(col("col_name"), col("n_rows"), col("n_distinct"),
                  col("n_null"), col("min_s"), col("max_s"))
          .orderBy(col("col_name"))
      },
      Some("""WITH a AS (
                SELECT COUNT(*) AS n_rows,
                       COUNT(DISTINCT o_orderstatus) AS nd_status,
                       COUNT(DISTINCT o_orderpriority) AS nd_prio,
                       COUNT(DISTINCT o_custkey) AS nd_cust,
                       COUNT(DISTINCT o_totalprice) AS nd_price,
                       COUNT(*) - COUNT(o_orderstatus) AS nn_status,
                       COUNT(*) - COUNT(o_orderpriority) AS nn_prio,
                       COUNT(*) - COUNT(o_custkey) AS nn_cust,
                       COUNT(*) - COUNT(o_totalprice) AS nn_price,
                       MIN(o_orderstatus) AS mn_status,
                       MAX(o_orderstatus) AS mx_status,
                       MIN(o_orderpriority) AS mn_prio,
                       MAX(o_orderpriority) AS mx_prio,
                       CAST(MIN(o_custkey) AS VARCHAR) AS mn_cust,
                       CAST(MAX(o_custkey) AS VARCHAR) AS mx_cust,
                       printf('%.2f', MIN(o_totalprice)) AS mn_price,
                       printf('%.2f', MAX(o_totalprice)) AS mx_price
                FROM orders)
              SELECT col_name, n_rows, n_distinct, n_null, min_s, max_s
              FROM (
                SELECT 'o_custkey' AS col_name, n_rows, nd_cust AS n_distinct,
                       nn_cust AS n_null, mn_cust AS min_s, mx_cust AS max_s FROM a
                UNION ALL
                SELECT 'o_orderpriority', n_rows, nd_prio, nn_prio, mn_prio, mx_prio FROM a
                UNION ALL
                SELECT 'o_orderstatus', n_rows, nd_status, nn_status, mn_status, mx_status FROM a
                UNION ALL
                SELECT 'o_totalprice', n_rows, nd_price, nn_price, mn_price, mx_price FROM a)
              ORDER BY col_name""")),

    // Benford first-digit screen over order amounts: observed digit
    // shares vs log10(1 + 1/d), the bulk-entry anomaly detector. The
    // digit comes off the fixed '%.2f' rendering of the true binary
    // double (identical both engines — never floor(log10(x)), whose ulp
    // at exact powers of ten flips the digit), the shares ride the
    // exact-decimal path, and the reference curve rounds at 6. One
    // map-side-combined 9-group aggregate.
    "q_benford" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir).filter(col("o_totalprice") > 0)
        val digits = o.select(
          substring(format_string("%.2f", col("o_totalprice")), 1, 1).as("digit"))
        digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(digits.agg(count(lit(1)).as("n_total"))))
          .select(col("digit"), col("n"),
                  (col("n").cast("decimal(38,6)") / col("n_total"))
                    .cast("decimal(38,6)").cast("double").as("p_obs"),
                  round(log10(lit(1.0) + lit(1.0) /
                    col("digit").cast("double")), 6).as("p_benford"))
          .orderBy(col("digit"))
      },
      Some("""WITH d AS (SELECT substr(printf('%.2f', o_totalprice), 1, 1) AS digit
                         FROM orders WHERE o_totalprice > 0),
                   g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
                   t AS (SELECT COUNT(*) AS n_total FROM d)
              SELECT digit, n,
                     CAST(CAST(CAST(n AS DECIMAL(38,6)) / n_total
                               AS DECIMAL(38,6)) AS DOUBLE) AS p_obs,
                     round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS p_benford
              FROM g, t ORDER BY digit""")),

    // Functional-dependency audit — the schema-integrity half of the
    // validation report: for each candidate FD lhs → rhs, how many lhs
    // groups exist, how many violate (distinct rhs > 1), and the worst
    // fan-out. This is how an ingest gate discovers that a column the
    // downstream model assumes is determined (name → brand) actually
    // isn't. Each FD is one two-level hash agg (groupBy lhs with a
    // map-side-combined distinct, then a 1-row summary); the four
    // summaries union into the 4-row report — no joins, no windows,
    // linear in each audited table regardless of scale. The violation
    // share is one double division of exact integer inputs (SURVEY §7.4:
    // never decimal/bigint division for new ratio columns).
    "q_fd_check" -> Q(
      (s, dir) => {
        def audit(df: org.apache.spark.sql.DataFrame, fd: String,
                  lhs: String, rhs: String) =
          df.groupBy(col(lhs))
            .agg(countDistinct(col(rhs)).as("nd"))
            .agg(count(lit(1)).as("n_groups"),
                 sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
                 max(col("nd")).as("max_fanout"))
            .select(lit(fd).as("fd"), col("n_groups"), col("n_violating"),
                    col("max_fanout"),
                    round((col("n_violating") * 100).cast("double") /
                          col("n_groups"), 6).as("violation_pct"))
        val p = Tables.part(s, dir)
        val o = Tables.orders(s, dir)
        audit(p, "p_name->p_brand", "p_name", "p_brand")
          .unionByName(audit(p, "p_name->p_type", "p_name", "p_type"))
          .unionByName(audit(o, "o_custkey->o_orderpriority",
                             "o_custkey", "o_orderpriority"))
          .unionByName(audit(o, "o_orderkey->o_orderstatus",
                             "o_orderkey", "o_orderstatus"))
          .orderBy(col("fd"))
      },
      Some("""WITH a AS (
                SELECT 'p_name->p_brand' AS fd, COUNT(*) AS n_groups,
                       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_violating,
                       MAX(nd) AS max_fanout
                FROM (SELECT p_name, COUNT(DISTINCT p_brand) AS nd
                      FROM part GROUP BY 1)
                UNION ALL
                SELECT 'p_name->p_type', COUNT(*),
                       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                       MAX(nd)
                FROM (SELECT p_name, COUNT(DISTINCT p_type) AS nd
                      FROM part GROUP BY 1)
                UNION ALL
                SELECT 'o_custkey->o_orderpriority', COUNT(*),
                       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                       MAX(nd)
                FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
                      FROM orders GROUP BY 1)
                UNION ALL
                SELECT 'o_orderkey->o_orderstatus', COUNT(*),
                       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                       MAX(nd)
                FROM (SELECT o_orderkey, COUNT(DISTINCT o_orderstatus) AS nd
                      FROM orders GROUP BY 1))
              SELECT fd, n_groups, n_violating, max_fanout,
                     round(CAST(n_violating * 100 AS DOUBLE) / n_groups, 6)
                       AS violation_pct
              FROM a ORDER BY fd""")),

    // Shuffle-balance audit — the pre-flight skew report you read BEFORE
    // picking a join/agg key at scale: hash the candidate key into 32
    // buckets (one per would-be reducer), report per-bucket row load,
    // key cardinality, and load ratio vs the uniform ideal, flagging
    // buckets past 1.3x. The bucket hash is the engine-portable md5
    // lane (tid60 kernel ≡ the oracle's hex-prefix spelling), NOT
    // Spark's Murmur3 hashpartitioning — a diagnostic an engine can't
    // reproduce elsewhere can't be compared or acted on; md5 buckets
    // make the report identical across engines, runs, and partition
    // counts. One scan, one 32-group agg with map-side distinct
    // partials; the hot flag is exact integer arithmetic (n_rows*320 >
    // n_total*13 avoids ever comparing floats).
    "q_shuffle_balance" -> Q(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .withColumn("bucket", expr("tid60(CAST(l_partkey AS STRING)) % 32"))
        li.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
               countDistinct(col("l_partkey")).as("n_keys"))
          .crossJoin(broadcast(li.agg(count(lit(1)).as("n_total"))))
          .select(col("bucket"), col("n_rows"), col("n_keys"),
                  round((col("n_rows") * 32).cast("double") /
                        col("n_total"), 6).as("load_ratio"),
                  (col("n_rows") * 320 > col("n_total") * 13).as("hot"))
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                                               1, 15))::BIGINT % 32 AS bucket,
                                l_partkey
                         FROM lineitem),
                   g AS (SELECT bucket, COUNT(*) AS n_rows,
                                COUNT(DISTINCT l_partkey) AS n_keys
                         FROM b GROUP BY 1),
                   t AS (SELECT COUNT(*) AS n_total FROM b)
              SELECT bucket, n_rows, n_keys,
                     round(CAST(n_rows * 32 AS DOUBLE) / n_total, 6)
                       AS load_ratio,
                     n_rows * 320 > n_total * 13 AS hot
              FROM g, t ORDER BY bucket""")),

    // Z-order layout report — the multi-dimensional clustering technique
    // behind Delta/Iceberg OPTIMIZE ZORDER, as a declared query: range-
    // normalize (l_partkey, l_suppkey) to 16 bits each, interleave with
    // the magic-mask Morton spread (4 shift/mask steps per dim — pure
    // BIGINT arithmetic, bit-identical in any engine), and report each
    // of the 64 z-range buckets' row count and BOTH dimensions' spans.
    // The point the report makes is the one that matters at 100 TB: a
    // z-bucket bounds partkey AND suppkey simultaneously (~1/8 of each
    // range per bucket on an 8x8 grid), so a file laid out by z-ranges
    // serves min/max-pruned scans on EITHER predicate — a single-key
    // sort gives one of the two. Everything is scan-pipelined integer
    // math + one hash agg; the min/max anchors broadcast from a 1-row
    // aggregate (the q_decay_sum pattern).
    "q_zorder_layout" -> Q(
      (s, dir) => {
        def spread(x: String): String = {
          val a = s"((($x) | shiftleft(($x), 8)) & 16711935)"
          val b = s"(($a | shiftleft($a, 4)) & 252645135)"
          val c = s"(($b | shiftleft($b, 2)) & 858993459)"
          s"(($c | shiftleft($c, 1)) & 1431655765)"
        }
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey"))
        val bounds = li.agg(min(col("l_partkey")).as("p_lo"),
                            max(col("l_partkey")).as("p_hi"),
                            min(col("l_suppkey")).as("s_lo"),
                            max(col("l_suppkey")).as("s_hi"))
        val p16 = "((l_partkey - p_lo) * 65535 div greatest(p_hi - p_lo, 1))"
        val s16 = "((l_suppkey - s_lo) * 65535 div greatest(s_hi - s_lo, 1))"
        li.crossJoin(broadcast(bounds))
          .withColumn("z",
            expr(s"${spread(p16)} | shiftleft(${spread(s16)}, 1)"))
          .withColumn("zbucket", expr("z div 67108864"))
          .groupBy(col("zbucket"))
          // count + min/max only — every function here partial-combines
          // map-side to 64 rows per task. (countDistinct per bucket was
          // tried and REJECTED by the plan audit: two distinct columns
          // plan through an Expand that triples the corpus and a second
          // corpus-sized exchange keyed by (zbucket, p, s, gid) — the
          // spans carry the clustering claim without it.)
          .agg(count(lit(1)).as("n_rows"),
               (max(col("l_partkey")) - min(col("l_partkey"))).as("p_span"),
               (max(col("l_suppkey")) - min(col("l_suppkey"))).as("s_span"))
          .orderBy(col("zbucket"))
      },
      Some("""WITH b AS (SELECT MIN(l_partkey) AS p_lo, MAX(l_partkey) AS p_hi,
                                MIN(l_suppkey) AS s_lo, MAX(l_suppkey) AS s_hi
                         FROM lineitem),
                   n AS (SELECT l_partkey, l_suppkey,
                                (l_partkey - p_lo) * 65535
                                  // greatest(p_hi - p_lo, 1) AS p16,
                                (l_suppkey - s_lo) * 65535
                                  // greatest(s_hi - s_lo, 1) AS s16
                         FROM lineitem, b),
                   m AS (SELECT l_partkey, l_suppkey,
                                ((p16 | (p16 << 8)) & 16711935) AS pa,
                                ((s16 | (s16 << 8)) & 16711935) AS sa
                         FROM n),
                   m2 AS (SELECT l_partkey, l_suppkey,
                                 ((pa | (pa << 4)) & 252645135) AS pb,
                                 ((sa | (sa << 4)) & 252645135) AS sb
                          FROM m),
                   m3 AS (SELECT l_partkey, l_suppkey,
                                 ((pb | (pb << 2)) & 858993459) AS pc,
                                 ((sb | (sb << 2)) & 858993459) AS sc
                          FROM m2),
                   z AS (SELECT l_partkey, l_suppkey,
                                (((pc | (pc << 1)) & 1431655765) |
                                 (((sc | (sc << 1)) & 1431655765) << 1))
                                  // 67108864 AS zbucket
                         FROM m3)
              SELECT zbucket, COUNT(*) AS n_rows,
                     MAX(l_partkey) - MIN(l_partkey) AS p_span,
                     MAX(l_suppkey) - MIN(l_suppkey) AS s_span
              FROM z GROUP BY 1 ORDER BY zbucket""")),

    // Zone-map (min/max stats) skipping estimator — the q_zorder_layout
    // companion that measures what the stats are FOR: bucket the fact
    // into 256-order zones (the write order, i.e. rowgroup boundaries),
    // reduce each to min/max of the clustered key and an unclustered
    // column, then score two representative range predicates against
    // the zone table: one on the clustered l_orderkey (should skip
    // nearly everything) and one on the uncorrelated l_shipdate (should
    // skip nearly nothing — the motivating contrast for re-clustering /
    // z-ordering). Shape: ONE map-combined pass reduces the corpus to
    // ~|zones| rows carrying min/max/count plus the per-zone matching-
    // row counts; both predicate scores then aggregate that tiny table.
    // All comparisons are integer/timestamp exact — no float anywhere.
    "q_zonemap_skip" -> Q(
      (s, dir) => {
        val okLo = 3000L; val okHi = 4500L
        val sdLo = "TIMESTAMP_NTZ'1997-01-01 00:00:00'"
        val sdHi = "TIMESTAMP_NTZ'1997-03-01 00:00:00'"
        val z = Tables.lineitem(s, dir)
          .select(expr("l_orderkey div 256").as("zone"),
                  col("l_orderkey"), col("l_shipdate"))
          .groupBy(col("zone"))
          .agg(count(lit(1)).as("n"),
               min(col("l_orderkey")).as("ok_min"),
               max(col("l_orderkey")).as("ok_max"),
               min(col("l_shipdate")).as("sd_min"),
               max(col("l_shipdate")).as("sd_max"),
               sum(when(col("l_orderkey") >= okLo &&
                        col("l_orderkey") < okHi, 1L).otherwise(0L))
                 .as("match_ok"),
               sum(when(col("l_shipdate") >= expr(sdLo) &&
                        col("l_shipdate") < expr(sdHi), 1L).otherwise(0L))
                 .as("match_sd"))
        def score(predCol: String, skipped: org.apache.spark.sql.Column,
                  matches: String) =
          z.agg(count(lit(1)).as("n_zones"),
                sum(when(skipped, 1L).otherwise(0L)).as("n_skipped"),
                sum(when(skipped, 0L).otherwise(col("n"))).as("rows_scanned"),
                sum(col(matches)).as("rows_selected"))
            .select(lit(predCol).as("pred_col"), col("n_zones"),
                    col("n_skipped"), col("rows_scanned"), col("rows_selected"))
        score("l_orderkey",
              col("ok_max") < okLo || col("ok_min") >= okHi, "match_ok")
          .unionByName(
            score("l_shipdate",
                  col("sd_max") < expr(sdLo) || col("sd_min") >= expr(sdHi),
                  "match_sd"))
          .orderBy(col("pred_col"))
      },
      Some("""WITH z AS (
                SELECT l_orderkey // 256 AS zone, COUNT(*) AS n,
                       MIN(l_orderkey) AS ok_min, MAX(l_orderkey) AS ok_max,
                       MIN(l_shipdate) AS sd_min, MAX(l_shipdate) AS sd_max,
                       SUM(CASE WHEN l_orderkey >= 3000 AND l_orderkey < 4500
                                THEN 1 ELSE 0 END) AS match_ok,
                       SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                                 AND l_shipdate < TIMESTAMP '1997-03-01'
                                THEN 1 ELSE 0 END) AS match_sd
                FROM lineitem GROUP BY 1)
              SELECT 'l_orderkey' AS pred_col, COUNT(*) AS n_zones,
                     CAST(SUM(CASE WHEN ok_max < 3000 OR ok_min >= 4500
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
                     CAST(SUM(CASE WHEN ok_max < 3000 OR ok_min >= 4500
                              THEN 0 ELSE n END) AS BIGINT) AS rows_scanned,
                     CAST(SUM(match_ok) AS BIGINT) AS rows_selected
              FROM z
              UNION ALL
              SELECT 'l_shipdate' AS pred_col, COUNT(*) AS n_zones,
                     CAST(SUM(CASE WHEN sd_max < TIMESTAMP '1997-01-01'
                                    OR sd_min >= TIMESTAMP '1997-03-01'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
                     CAST(SUM(CASE WHEN sd_max < TIMESTAMP '1997-01-01'
                                    OR sd_min >= TIMESTAMP '1997-03-01'
                              THEN 0 ELSE n END) AS BIGINT) AS rows_scanned,
                     CAST(SUM(match_sd) AS BIGINT) AS rows_selected
              FROM z
              ORDER BY pred_col""")),

    // Quantile normalization — replace each group's values by the
    // cross-group mean at the same rank, forcing every group onto one
    // distribution (the batch-effect correction from bioinformatics,
    // equally the feature-alignment step when merging score columns
    // from differently-calibrated sources). Distributed shape (r13: a
    // bare PARTITION BY event_type window puts corpus/|types| rows
    // through ONE task each — ~5 event types means 20%-of-corpus
    // single-task sorts, the q_pareto disease one level down; measured
    // e = 1.25 at sf10 before the rewrite): range-repartition on
    // (event_type, value, event_id), rank WITHIN each (pid, type) run,
    // and add back per-type prefix offsets from the broadcast
    // (pid × type)-row count table — the q_ntile_binning two-pass
    // pattern, per group. The per-rank reference means then reduce to
    // max-group-size rows and join back on the rank key. Groups of
    // unequal size contribute to a rank's reference only while they
    // still have rows at that rank — declared semantics, identical in
    // the oracle. Means ride the decimal lane.
    "q_quantile_norm" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // PlanCut.once (r14): the pid-stamped frame feeds BOTH the offset
        // aggregation and the probe join — same double-consumption hazard
        // H.prefixSums carries (range boundaries re-sampled per exchange
        // if the optimizer diverges the branches; observed live on
        // q_mannwhitney). One evaluated RDD, shared by construction.
        val parted = org.apache.spark.sql.graft.PlanCut.once(
          Tables.events(s, dir)
            .select(col("event_type"), col("event_id"), col("value"))
            .repartitionByRange(
              s.conf.get("spark.sql.shuffle.partitions").toInt,
              col("event_type"), col("value"), col("event_id"))
            .withColumn("pid", spark_partition_id()))
        val localW = Window.partitionBy(col("pid"), col("event_type"))
          .orderBy(col("value"), col("event_id"))
        val local = parted.withColumn("lrk", row_number().over(localW).cast("long"))
        val offW = Window.partitionBy(col("event_type")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = local.groupBy(col("pid"), col("event_type"))
          .agg(count(lit(1)).as("pn"))
          .withColumn("off", coalesce(sum(col("pn")).over(offW), lit(0L)))
          .select(col("pid"), col("event_type"), col("off"))
        val ranked = local.join(broadcast(offsets), Seq("pid", "event_type"))
          .withColumn("rk", col("off") + col("lrk"))
          .select(col("event_type"), col("event_id"), col("value"), col("rk"))
        val refs = ranked.groupBy(col("rk"))
          .agg((sum(col("value").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("qn_value"))
        ranked.join(refs, Seq("rk"))
          .select(col("event_type"), col("event_id"), col("value"),
                  col("rk"), col("qn_value"))
          .orderBy(col("event_type"), col("rk"))
      },
      Some("""WITH r AS (SELECT event_type, event_id, value,
                                ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rk
                         FROM events),
                   m AS (SELECT rk,
                                CAST(CAST(SUM(CAST(value AS DECIMAL(38,6)))
                                          / COUNT(*) AS DECIMAL(38,6))
                                     AS DOUBLE) AS qn_value
                         FROM r GROUP BY 1)
              SELECT r.event_type, r.event_id, r.value, r.rk, m.qn_value
              FROM r JOIN m USING (rk)
              ORDER BY r.event_type, r.rk""")),

    // Referential-integrity audit across every FK edge of the star
    // schema in one report: child rows whose FK has no parent — the
    // registry-completeness check an ingest pipeline runs before
    // publishing (an orphaned lineitem.l_partkey means a part was
    // deleted or a load raced). REDUCE-FIRST per edge: the child
    // collapses to (fk, row-count) — map-side combined, |distinct fk|
    // rows — and only that reduced table anti-joins the parent key
    // column, so a billion-row child costs one linear reduce, never a
    // billion-row join probe. Dim-sized parents broadcast. The fixture
    // is FK-clean by construction, so every edge reports 0 orphans —
    // the audit's value is the SHAPE (7 edges, one scan each), and the
    // ScalaTest twin injects orphans to prove the counter counts.
    "q_ri_audit" -> Q(
      (s, dir) => {
        def edge(name: String, child: org.apache.spark.sql.DataFrame,
                 fk: String, parent: org.apache.spark.sql.DataFrame,
                 pk: String): org.apache.spark.sql.DataFrame = {
          val reduced = child.groupBy(col(fk).as("k"))
            .agg(count(lit(1)).as("cnt"))
          reduced
            .join(broadcast(parent.select(col(pk).as("k"))), Seq("k"),
                  "left_anti")
            .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_orphan_rows"),
                 count(lit(1)).as("n_orphan_keys"))
            .select(lit(name).as("edge"), col("n_orphan_rows"),
                    col("n_orphan_keys"))
        }
        val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
        val p = Tables.part(s, dir); val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        edge("customer.nation", c, "c_nationkey", n, "n_nationkey")
          .unionAll(edge("lineitem.orders", li, "l_orderkey", o, "o_orderkey"))
          .unionAll(edge("lineitem.part", li, "l_partkey", p, "p_partkey"))
          .unionAll(edge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"))
          .unionAll(edge("nation.region", n, "n_regionkey", r, "r_regionkey"))
          .unionAll(edge("orders.customer", o, "o_custkey", c, "c_custkey"))
          .unionAll(edge("supplier.nation", su, "s_nationkey", n, "n_nationkey"))
          .orderBy(col("edge"))
      },
      Some("""WITH e AS (
                SELECT 'customer.nation' AS edge, c_nationkey AS k
                FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
                UNION ALL
                SELECT 'lineitem.orders', l_orderkey
                FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
                UNION ALL
                SELECT 'lineitem.part', l_partkey
                FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
                UNION ALL
                SELECT 'lineitem.supplier', l_suppkey
                FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
                UNION ALL
                SELECT 'nation.region', n_regionkey
                FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)
                UNION ALL
                SELECT 'orders.customer', o_custkey
                FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
                UNION ALL
                SELECT 'supplier.nation', s_nationkey
                FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)),
              names(edge) AS (VALUES ('customer.nation'), ('lineitem.orders'),
                                     ('lineitem.part'), ('lineitem.supplier'),
                                     ('nation.region'), ('orders.customer'),
                                     ('supplier.nation')),
              agg AS (SELECT edge, CAST(COUNT(*) AS BIGINT) AS n_orphan_rows,
                             CAST(COUNT(DISTINCT k) AS BIGINT) AS n_orphan_keys
                      FROM e GROUP BY 1)
              SELECT n.edge,
                     COALESCE(a.n_orphan_rows, 0) AS n_orphan_rows,
                     COALESCE(a.n_orphan_keys, 0) AS n_orphan_keys
              FROM names n LEFT JOIN agg a USING (edge)
              ORDER BY n.edge"""))
  )
}
