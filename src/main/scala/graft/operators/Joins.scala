package graft.operators

import graft.{H, Q, Tables}
import graft.llm.Memo
import org.apache.spark.sql.functions._

/** SURVEY §2c — joins. Reference capability: registry lookups (broadcast),
  * not-yet-registered detection (anti), reconciliation (full outer).
  * Scale notes per query inline: broadcast below the 10 MB threshold is
  * automatic; large-large goes sort-merge on shuffled keys; the range and
  * as-of joins are written equi-key-first so the shuffle is on the join
  * key (user_id), never a cross product. */
object Joins {

  val qs: Seq[(String, Q)] = Seq(

    // Flagship (TPC-H Q5 shape): revenue by nation. nation/customer are
    // dims → broadcast; lineitem⋈orders is the only real shuffle.
    "q_join_broadcast" -> Q(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o  = Tables.orders(s, dir)
        val c  = Tables.customer(s, dir)
        val n  = Tables.nation(s, dir)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
                      ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                      COUNT(*) AS n_items
               FROM lineitem
               JOIN orders   ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               GROUP BY n_name
               ORDER BY revenue DESC, n_name""")),

    // Large-large equi-join → SortMergeJoin (hinted; at 100 TB both sides
    // would be bucketed on orderkey to make this shuffle-free).
    "q_join_sortmerge" -> Q(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o  = Tables.orders(s, dir)
        li.hint("merge")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                  col("o_custkey"), col("o_orderstatus"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, o_custkey, o_orderstatus
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              ORDER BY l_orderkey, l_linenumber""")),

    "q_join_left" -> Q(
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first),
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              ORDER BY c_custkey, o_orderkey NULLS FIRST""")),

    // Full-outer reconciliation of two derived views of "important
    // customers": by account balance vs by realized spend.
    "q_join_full" -> Q(
      (s, dir) => {
        val rich  = Tables.customer(s, dir).filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey"), col("c_acctbal"))
        val spend = Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(H.dsum(col("o_totalprice")).as("spend"))
          .filter(col("spend") > 500000.0)
        rich.join(spend, col("c_custkey") === col("o_custkey"), "full")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
                  col("c_acctbal"), col("spend"))
          .orderBy(col("custkey"))
      },
      Some(s"""SELECT COALESCE(a.c_custkey, b.o_custkey) AS custkey, a.c_acctbal, b.spend
               FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0) a
               FULL JOIN (SELECT o_custkey, ${H.oSum("o_totalprice")} AS spend
                          FROM orders GROUP BY o_custkey
                          HAVING ${H.oSum("o_totalprice")} > 500000.0) b
                 ON a.c_custkey = b.o_custkey
               ORDER BY custkey""")),

    // "keep rows whose key exists in the registry"
    "q_join_semi" -> Q(
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name
              FROM customer SEMI JOIN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') o
                ON c_custkey = o_custkey
              ORDER BY c_custkey""")),

    // "find rows NOT yet registered" — the classic manual-ingest check
    // (customers with no pending 'P' order; every customer has *some*
    // order in the fixtures, so plain anti-vs-orders would match nothing).
    "q_join_anti" -> Q(
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name
              FROM customer ANTI JOIN (SELECT o_custkey FROM orders
                                       WHERE o_orderstatus = 'P') o
                ON c_custkey = o_custkey
              ORDER BY c_custkey""")),

    // Range join, equi-key first: clicks within ±4 h of each error by
    // the same user. Shuffles on user_id only; the time band is a local
    // predicate — no cross product at any scale.
    "q_join_range" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        val errs   = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_id"), col("ts").as("err_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        errs.join(clicks,
            col("user_id") === col("c_user") &&
            col("click_ts") >= col("err_ts") - expr("INTERVAL 4 HOURS") &&
            col("click_ts") <= col("err_ts") + expr("INTERVAL 4 HOURS"))
          .groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_clicks"))
          .orderBy(col("err_id"))
      },
      Some("""SELECT e.event_id AS err_id, COUNT(*) AS n_clicks
              FROM events e JOIN events c
                ON e.user_id = c.user_id
               AND c.event_type = 'click'
               AND c.ts BETWEEN e.ts - INTERVAL '4 hours' AND e.ts + INTERVAL '4 hours'
              WHERE e.event_type = 'error'
              GROUP BY err_id
              ORDER BY err_id""")),

    // As-of join: for each purchase, the latest strictly-earlier event of
    // the same user. Implemented as ONE window pass (lag over user's event
    // timeline) instead of the naive join+rank — the join materializes
    // O(events²/users) intermediate rows (measured 36 s at sf0.1 vs ~1 s
    // for this shape), while the lag plan shuffles events exactly once on
    // user_id. Event ts is strictly increasing per user (fixture ts is a
    // global positive cumsum), so the immediate predecessor IS the latest
    // strictly-earlier event; the oracle keeps the declarative join+rank
    // spec and the hash gate proves equivalence.
    "q_join_asof" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prior_id", lag(col("event_id"), 1).over(w))
          .withColumn("prior_ts", lag(col("ts"), 1).over(w))
          .withColumn("prior_type", lag(col("event_type"), 1).over(w))
          .filter(col("event_type") === "purchase" && col("prior_ts") < col("ts"))
          .select(col("event_id").as("buy_id"), col("prior_id"), col("prior_type"))
          .orderBy(col("buy_id"))
      },
      Some("""SELECT buy_id, prior_id, prior_type FROM (
                SELECT b.event_id AS buy_id, p.event_id AS prior_id,
                       p.event_type AS prior_type,
                       ROW_NUMBER() OVER (PARTITION BY b.event_id
                                          ORDER BY p.ts DESC, p.event_id DESC) AS rn
                FROM events b JOIN events p
                  ON b.user_id = p.user_id AND p.ts < b.ts
                WHERE b.event_type = 'purchase')
              WHERE rn = 1
              ORDER BY buy_id""")),

    // Nearest-neighbor as-of: each error event matched to its CLOSEST
    // purchase by the same user in EITHER time direction (backward asof
    // takes only <=; nearest takes min |Δt|, ties to the earlier side).
    // Shape: union the tagged streams, one user_id shuffle + one sort,
    // and read the latest-preceding / earliest-following reference with
    // frame-bounded ignore-null window navs — both window passes share
    // the single exchange+sort. The fixture has no (user, ts) collisions
    // (verified at sf0.1), so the tie spelling is exercised only on
    // |Δt| equality. Probes whose user never purchases are dropped (no
    // null timestamps may reach a declared output). At 100 TB this is
    // the partition-and-sort-within asof plan — no per-probe scans.
    "q_join_asof_nearest" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("error", "purchase"))
          .select(col("event_id"), col("user_id"),
                  expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
                  when(col("event_type") === "purchase", 0).otherwise(1).as("kind"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("kind"))
        val refStruct = when(col("kind") === 0, struct(col("us"), col("event_id")))
        val navd = ev
          .withColumn("prev",
            last(refStruct, ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("next",
            first(refStruct, ignoreNulls = true)
              .over(w.rowsBetween(1, Window.unboundedFollowing)))
          .filter(col("kind") === 1)
        navd
          .withColumn("dp", col("us") - col("prev.us"))
          .withColumn("dn", col("next.us") - col("us"))
          .withColumn("use_prev",
            col("prev").isNotNull && (col("next").isNull || col("dp") <= col("dn")))
          .filter(col("prev").isNotNull || col("next").isNotNull)
          .select(col("event_id"), col("user_id"),
                  when(col("use_prev"), col("prev.event_id"))
                    .otherwise(col("next.event_id")).as("nearest_event_id"),
                  when(col("use_prev"), col("dp")).otherwise(col("dn")).as("diff_us"),
                  when(col("use_prev"), "before").otherwise("after").as("direction"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us
                         FROM events WHERE event_type = 'error'),
                   r AS (SELECT event_id, user_id, epoch_us(ts) AS us
                         FROM events WHERE event_type = 'purchase'),
                   cand AS (
                     SELECT e.event_id, e.user_id,
                            r.event_id AS nearest_event_id,
                            abs(r.us - e.us) AS diff_us,
                            CASE WHEN r.us <= e.us THEN 'before'
                                 ELSE 'after' END AS direction,
                            ROW_NUMBER() OVER (PARTITION BY e.event_id
                                               ORDER BY abs(r.us - e.us), r.us)
                              AS rn
                     FROM e JOIN r USING (user_id))
              SELECT event_id, user_id, nearest_event_id, diff_us, direction
              FROM cand WHERE rn = 1 ORDER BY event_id""")),

    // The reference's whole ingest workflow as ONE declared query:
    // validate rows (range + domain predicates), null-clean, look up the
    // registry (broadcast), flag unregistered entries (the anti-join
    // check, kept as a left join so the report can COUNT them), roll up
    // to the per-nation/status validation report. Every stage is the
    // declarative form of a reference capability; Catalyst fuses them
    // into scan→broadcast-joins→partial-agg with no extra passes.
    "q_pipeline_e2e" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .withColumn("valid",
            col("o_totalprice").between(1.0, 600000.0) &&
            col("o_orderstatus").isin("F", "O", "P") &&
            col("o_orderdate").isNotNull)
        // registry with a deterministic gap so the unregistered path is
        // exercised (every 37th customer "not yet registered")
        val reg = Tables.customer(s, dir).filter(col("c_custkey") % 37 =!= 0)
          .withColumn("seg", coalesce(expr("NULLIF(c_mktsegment, 'BUILDING')"),
                                      lit("UNKNOWN")))
          .select(col("c_custkey"), col("seg"), col("c_nationkey"))
        val n = Tables.nation(s, dir)
        o.join(broadcast(reg), col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
          .groupBy(coalesce(col("n_name"), lit("(unregistered)")).as("nation"),
                   col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
               sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
               sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_unreg"),
               H.dsum(when(col("valid") && col("c_custkey").isNotNull,
                           col("o_totalprice")).otherwise(0.0)).as("total_valid"))
          .orderBy(col("nation"), col("o_orderstatus"))
      },
      Some(s"""SELECT COALESCE(n_name, '(unregistered)') AS nation, o_orderstatus,
                      COUNT(*) AS n_orders,
                      CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                      CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unreg,
                      ${H.oSum("CASE WHEN valid AND c_custkey IS NOT NULL THEN o_totalprice ELSE 0.0 END")} AS total_valid
               FROM (SELECT o_custkey, o_orderstatus, o_totalprice,
                            o_totalprice BETWEEN 1.0 AND 600000.0
                              AND o_orderstatus IN ('F','O','P')
                              AND o_orderdate IS NOT NULL AS valid
                     FROM orders) o
               LEFT JOIN (SELECT c_custkey, c_nationkey FROM customer
                          WHERE c_custkey % 37 <> 0) c
                 ON o.o_custkey = c.c_custkey
               LEFT JOIN nation ON c.c_nationkey = n_nationkey
               GROUP BY COALESCE(n_name, '(unregistered)'), o_orderstatus
               ORDER BY nation, o_orderstatus""")),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): nullable
    // derived keys where NULL must match NULL — the "ungrouped bucket"
    // join a plain equi-join silently drops.
    "q_join_nullsafe" -> Q(
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .withColumn("seg_n", expr("NULLIF(c_mktsegment, 'BUILDING')"))
        val sizes = c.groupBy(col("seg_n").as("g_seg"))
          .agg(count(lit(1)).as("group_size"))
        c.join(sizes, col("seg_n") <=> col("g_seg"))
          .select(col("c_custkey"), coalesce(col("seg_n"), lit("(null)")).as("seg"),
                  col("group_size"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH c AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_n
                         FROM customer),
              s AS (SELECT seg_n AS g_seg, COUNT(*) AS group_size
                    FROM c GROUP BY 1)
              SELECT c_custkey, COALESCE(seg_n, '(null)') AS seg, group_size
              FROM c JOIN s ON seg_n IS NOT DISTINCT FROM g_seg
              ORDER BY c_custkey""")),

    // CDC MERGE/upsert shape without a table format: base FULL OUTER
    // JOIN delta on the key; update rows overwrite, insert rows append,
    // untouched rows pass through (the coalesce-per-column pattern Delta/
    // Iceberg MERGE INTO compiles to). The delta is derived
    // deterministically from the fixtures (every 97th key updated, every
    // 997th key inserted under a shifted id).
    "q_merge_upsert" -> Q(
      (s, dir) => {
        val base = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val updates = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").as("u_key"), lit("X").as("u_status"),
                  (col("o_totalprice") * 1.1).as("u_price"))
        val inserts = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 997 === 0)
          .select((col("o_orderkey") + 10000000L).as("u_key"),
                  lit("NEW").as("u_status"), lit(1000.0).as("u_price"))
        base.join(updates.unionAll(inserts), col("o_orderkey") === col("u_key"), "full")
          .select(coalesce(col("u_key"), col("o_orderkey")).as("merge_key"),
                  coalesce(col("u_status"), col("o_orderstatus")).as("status"),
                  coalesce(col("u_price"), col("o_totalprice")).as("price"))
          .orderBy(col("merge_key"))
      },
      Some("""WITH delta AS (
                SELECT o_orderkey AS u_key, 'X' AS u_status,
                       o_totalprice * 1.1 AS u_price
                FROM orders WHERE o_orderkey % 97 = 0
                UNION ALL
                SELECT o_orderkey + 10000000 AS u_key, 'NEW' AS u_status,
                       1000.0 AS u_price
                FROM orders WHERE o_orderkey % 997 = 0)
              SELECT COALESCE(u_key, o_orderkey) AS merge_key,
                     COALESCE(u_status, o_orderstatus) AS status,
                     COALESCE(u_price, o_totalprice) AS price
              FROM orders FULL JOIN delta ON o_orderkey = u_key
              ORDER BY merge_key""")),

    // Collation-aware equi-join — Spark 4 collations (SQL-standard
    // COLLATE on StringType): the curator-data reality is key fields
    // arriving in inconsistent case ("Algeria" vs "ALGERIA"), and the
    // engine-native fix is comparing under UTF8_LCASE collation instead
    // of wrapping every reference in lower() — collation-aware equality
    // stays a plain equi-join key (hash/sort on the collation key), so
    // the join still shuffles/broadcasts like any other; a lower()
    // wrapper would do the same here but loses the type-level contract
    // and (on a lake table) the ability to declare the collation once in
    // the schema. ICU collations (UNICODE_CI: ß=SS etc.) are pinned in
    // ScalaTest — the oracled fixture stays ASCII where UTF8_LCASE and
    // lower() agree by definition.
    "q_join_collated" -> Q(
      (s, dir) => {
        val a = Tables.nation(s, dir)
          .select(col("n_nationkey"), lower(col("n_name")).as("name_a"))
        val b = Tables.nation(s, dir)
          .select(upper(col("n_name")).as("name_b"), col("n_regionkey"))
        a.join(b, collate(col("name_a"), "UTF8_LCASE") ===
                  collate(col("name_b"), "UTF8_LCASE"))
          .select(col("n_nationkey"), col("name_a"), col("name_b"),
                  col("n_regionkey"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT a.n_nationkey, a.name_a, b.name_b, b.n_regionkey
              FROM (SELECT n_nationkey, lower(n_name) AS name_a FROM nation) a
              JOIN (SELECT upper(n_name) AS name_b, n_regionkey FROM nation) b
                ON lower(a.name_a) = lower(b.name_b)
              ORDER BY a.n_nationkey""")),

    // CDC changelog APPLY — the other half of the MERGE story: not one
    // delta batch but an ORDERED multi-version log of I/U/D events per
    // key (what a Debezium/Kafka CDC feed or a table format's change
    // stream delivers). Compaction semantics are last-writer-wins by
    // sequence number, with a terminal D tombstone dropping the key
    // entirely. Scale shape: ONE hash shuffle on the key, then a
    // per-partition window — identical to the dedup shape, no driver
    // state, no iteration; a 100 TB log compacts in a single pass. The
    // log is derived deterministically from orders: key-space folded %
    // 5000 so keys genuinely carry multiple versions, o_orderkey itself
    // is the (unique, monotone) sequence.
    "q_cdc_apply" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val log = Tables.orders(s, dir).select(
          (col("o_orderkey") % 5000L).as("k"),
          col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 11 === 0, "D")
            .when(col("o_orderkey") % 3 === 0, "U")
            .otherwise("I").as("op"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
        log
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("seq").desc)))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select(col("k"), col("seq"), col("op"), col("status"), col("price"))
          .orderBy(col("k"))
      },
      Some("""WITH log AS (
                SELECT o_orderkey % 5000 AS k, o_orderkey AS seq,
                       CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                            WHEN o_orderkey % 3 = 0 THEN 'U'
                            ELSE 'I' END AS op,
                       o_orderstatus AS status, o_totalprice AS price
                FROM orders),
              lww AS (
                SELECT k, seq, op, status, price,
                       ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
                FROM log)
              SELECT k, seq, op, status, price
              FROM lww WHERE rn = 1 AND op <> 'D'
              ORDER BY k""")),

    // CDC ROUND TRIP — snapshot diff ∘ changelog apply == identity: the
    // changelog is GENERATED by full-outer diffing two table snapshots
    // (I where only new has the key, D where only old, U where the
    // image changed — the q_snapshot_diff mechanics), then APPLIED back
    // onto the old snapshot (anti-join the D/U keys, union the I/U
    // post-images). The oracle is the NEW snapshot's SQL directly, so
    // the hash gate is the end-to-end proof that diff-then-apply
    // reconstructs the target exactly — the invariant every
    // replication/backfill pipeline silently assumes and rarely tests
    // (the q_scd2_incremental proof pattern, applied to CDC). Scale
    // shape: one full-outer hash join on the key + one anti/union pass,
    // all key-partitioned, no iteration.
    "q_cdc_roundtrip" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
        // Two deterministic snapshots: old misses %7 keys; new drops %13
        // keys and bumps %5 prices — inserts, deletes, AND updates all
        // genuinely occur in the diff.
        val a = o.filter(col("k") % 7 =!= 0)
        val b = o.filter(col("k") % 13 =!= 0)
          .withColumn("price", when(col("k") % 5 === 0, col("price") + 100.0)
                                 .otherwise(col("price")))
        val diff = a.select(col("k"), col("status").as("a_status"),
                            col("price").as("a_price"))
          .join(b.select(col("k"), col("status").as("b_status"),
                         col("price").as("b_price")), Seq("k"), "full_outer")
          .withColumn("op",
            when(col("a_price").isNull, "I")
              .when(col("b_price").isNull, "D")
              .when(col("a_price") =!= col("b_price") ||
                    col("a_status") =!= col("b_status"), "U"))
          .filter(col("op").isNotNull)
        a.join(diff.filter(col("op").isin("D", "U")).select(col("k")),
               Seq("k"), "left_anti")
          .unionByName(diff.filter(col("op").isin("I", "U"))
            .select(col("k"), col("b_status").as("status"),
                    col("b_price").as("price")))
          .orderBy(col("k"))
      },
      Some("""SELECT o_orderkey AS k, o_orderstatus AS status,
                     CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS price
              FROM orders
              WHERE o_orderkey % 13 <> 0
              ORDER BY k""")),

    // Bucketed co-located join — the shuffle-free 100 TB join layout:
    // both sides pre-bucketed (8 buckets) and sorted on the join key, so
    // the SortMergeJoin reads co-located buckets with NO Exchange on
    // either input (PlanAuditSpec pins this). At real scale the bucketed
    // write is the one-time layout cost that every subsequent join
    // amortizes.
    "q_join_bucketed" -> Q(
      (s, dir) => {
        // The bucketed LAYOUT is a one-time cost, amortized like any table
        // layout at 100 TB: written once per (table, data dir, data
        // version) by Memo.materializedPath, so every later invocation
        // (second bench iteration, next JVM) reuses it and a regenerated
        // source gets a fresh layout. The files come from Spark's bucketed
        // writer (a throwaway external table over the temp dir), so their
        // names carry the bucket ids; the table over the published path
        // is named after that path, so a session catalog (which forgets
        // across JVMs) re-registers it with one DDL.
        def bucketed(table: String, src: org.apache.spark.sql.DataFrame,
                     key: String): String = {
          val out = new java.io.File(Memo.materializedPath(
              s, dir, s"graft_b_$table", Seq(s"$table.parquet")) { tmp =>
            val staging = "graft_b_tmp_" + java.util.UUID.randomUUID.toString.replace('-', '_')
            src.write.bucketBy(8, key).sortBy(key)
              .format("parquet").option("path", tmp).saveAsTable(staging)
            s.sql(s"DROP TABLE $staging") // external: the files stay
          })
          val tbl = out.getName
          s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl (${src.schema.toDDL})
                    USING parquet
                    CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                    LOCATION '${out.toURI}'""")
          tbl
        }
        val tOrders = bucketed("orders",
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus")),
          "o_orderkey")
        val tLineitem = bucketed("lineitem",
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
          "l_orderkey")
        // merge hint: the tiny fixture dim would otherwise broadcast and
        // never exercise the bucketed-SMJ path this key exists to declare
        s.table(tLineitem).hint("merge")
          .join(s.table(tOrders), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"), H.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_items,
                      ${H.oSum("l_quantity")} AS sum_qty
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               GROUP BY o_orderstatus
               ORDER BY o_orderstatus""")),

    // Explicit skew salting — the named 100 TB technique as a real query,
    // not a comment: the fact's join key collapses to 3 hot values, so a
    // plain shuffle join puts a third of the corpus in one task. Salting
    // splits each hot key into 8 shards (fact side: deterministic salt
    // from the row id; dim side: replicated ×8) and joins on (key, salt)
    // — same result, 8× the parallelism on the hot keys. AQE's skew-join
    // handles sort-merge cases adaptively (PlanAuditSpec proves it);
    // salting is the layout-level fix that also covers aggregations.
    "q_join_salted" -> Q(
      (s, dir) => {
        val S = 8
        val fact = Tables.events(s, dir)
          .withColumn("hot_key", col("user_id") % 3)
          .withColumn("salt", pmod(col("event_id"), lit(S)))
        val dim = Tables.events(s, dir)
          .groupBy((col("user_id") % 3).as("d_key"))
          .agg(count(lit(1)).as("key_total"))
          .withColumn("salt_d", explode(expr(s"sequence(0, ${S - 1})")))
        fact.join(dim, col("hot_key") === col("d_key") &&
                       col("salt") === col("salt_d"))
          .groupBy(col("hot_key"), col("key_total"))
          .agg(count(lit(1)).as("n_events"),
               H.dsum(col("value")).as("sum_value"))
          .orderBy(col("hot_key"))
      },
      Some(s"""SELECT hot_key, key_total, COUNT(*) AS n_events,
                      ${H.oSum("value")} AS sum_value
               FROM (SELECT user_id % 3 AS hot_key, value FROM events) f
               JOIN (SELECT user_id % 3 AS d_key, COUNT(*) AS key_total
                     FROM events GROUP BY 1) d
                 ON hot_key = d_key
               GROUP BY hot_key, key_total
               ORDER BY hot_key""")),

    // Blocked self-join: dedup candidate pairs, same lang, near-equal
    // length. A PairJoin on (lang, n_chars DIV 20) whose A side probes
    // its band ± 1, so a qualifying pair meets EXACTLY once — no distinct
    // needed — and candidates per block drop from |lang-block|² to
    // 3·Σ band·band. The |len_a-len_b| <= 2 predicate stays in the join,
    // so the banding is pure pruning: same rows as the dense spelling.
    "q_join_self_pairs" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("band", floor(col("n_chars") / 20))
        PairJoin.candidates(d, Seq("lang", "band"), "doc_id", Seq("n_chars"),
            on = Some(abs(col("n_chars_a") - col("n_chars_b")) <= 2),
            probe = PairJoin.A)
          .select(col("lang"), col("id_a"), col("id_b"),
                  col("n_chars_a").as("len_a"), col("n_chars_b").as("len_b"))
          .orderBy(col("lang"), col("id_a"), col("id_b"))
      },
      Some("""SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
                     a.n_chars AS len_a, b.n_chars AS len_b
              FROM documents a JOIN documents b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
               AND abs(a.n_chars - b.n_chars) <= 2
              ORDER BY lang, id_a, id_b"""))
    ,

    // Point-in-time DIMENSION join — the feature-store correctness
    // join: every purchase event picks up the user's SCD2 status AS OF
    // the purchase instant via validity-interval containment
    // (valid_from <= ts < valid_to, open interval = NULL-to). This is
    // what training-set assembly must use instead of joining today's
    // dimension onto yesterday's facts (label leakage); the q_scd2
    // intervals partition each user's timeline, so every fact lands in
    // EXACTLY one dim row — no row explosion, no loss — and the
    // purchase that itself opened a run matches that run (>= on the
    // open edge). Shape: equi-join on user_id with the interval
    // predicate as a residual filter — one user-keyed shuffle pair; at
    // 100 TB both sides co-partition on the key and the residual
    // evaluates in the join, never a theta/nested-loop plan.
    "q_join_pit" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val ch = Tables.events(s, dir)
          .withColumn("prev_status", lag(col("event_type"), 1).over(w))
          .filter(col("prev_status").isNull ||
                  col("prev_status") =!= col("event_type"))
          .select(col("user_id"), col("event_id"),
                  col("event_type").as("status"), col("ts").as("valid_from"))
        val w2 = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("event_id"))
        val dim = ch.withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
          .select(col("user_id").as("d_user"), col("status"),
                  col("valid_from"), col("valid_to"))
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("buy_id"), col("user_id"), col("ts"))
          .join(dim,
            col("user_id") === col("d_user") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
          .select(col("buy_id"), col("user_id"), col("ts"),
                  col("status"), col("valid_from"))
          .orderBy(col("buy_id"))
      },
      Some("""WITH o AS (SELECT user_id, event_id, ts, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_status
                   FROM events),
                   ch AS (SELECT user_id, event_id, event_type AS status,
                                 ts AS valid_from
                          FROM o
                          WHERE prev_status IS NULL OR prev_status <> event_type),
                   dim AS (SELECT user_id AS d_user, status, valid_from,
                                  LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, event_id) AS valid_to
                           FROM ch)
              SELECT b.event_id AS buy_id, b.user_id, b.ts,
                     d.status, d.valid_from
              FROM events b JOIN dim d
                ON b.user_id = d.d_user
               AND b.ts >= d.valid_from
               AND (d.valid_to IS NULL OR b.ts < d.valid_to)
              WHERE b.event_type = 'purchase'
              ORDER BY buy_id"""))
  )
}
