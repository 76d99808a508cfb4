package graft.operators

import graft.{H, Q, Tables}
import graft.llm.TextRules.{duckToks, toksE}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 insight/feature-engineering additions: market-basket pair
  * affinity, event-sequence Markov transitions, time-decayed customer
  * value, Pareto (ABC) revenue banding, series autocorrelation,
  * deterministic weighted sampling (A-ES), RFM quartile scoring, and a
  * Zipf rank-frequency fit over the document corpus.
  *
  * The shared scale discipline: reduce the fact table FIRST (group to
  * parts / customers / days / vocab), so every global window or
  * single-partition sort here runs over a dimension-sized table, never
  * the raw corpus. The only full-corpus costs are map-side-combined
  * aggregations, one bounded self-join (basket pairs, k≤7 items/order)
  * and one top-k selection (weighted sample → TakeOrderedAndProject).
  * All float emission follows the H.dsum doctrine: exact decimal inside,
  * one cast to DOUBLE at the end; libm-grade expressions round at 6. */
object Insights {

  /** Shared in-row pair explosion — see [[graft.H.pairsE]] (promoted to H
    * in r6 so the co-supply edge builders in Analytics reuse it). */
  private def pairsE(arr: String) = H.pairsE(arr)

  /** Exact-quadratic scored pairs (id_a, id_b, name_a, name_b, jw ≥ 0.93)
    * within (mktsegment, nationkey) blocks over an arbitrary
    * (c_custkey, c_name, c_mktsegment, c_nationkey) corpus — the
    * declared fn_jaro substrate AND the ground-truth stream ScaleRecall
    * derives every recall view from (each view is its own streaming
    * pass; the stream is never persisted — r12 disk-full finding).
    * Exact, therefore Σ block² (adjudicated in BASELINE §r8-sf1).
    * `corpus`' session must be installed ([[graft.Tables.configure]]). */
  private[graft] def jaroScoredOf(corpus: org.apache.spark.sql.DataFrame) = {
    // Hand-spelled on purpose: both sides are the bare scan, and a
    // PairJoin's suffix renames would add a Project to each.
    val c = corpus.select(col("c_custkey"), col("c_name"),
                          col("c_mktsegment"), col("c_nationkey"))
    c.as("a").join(c.as("b"),
        col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
              col("a.c_name").as("name_a"), col("b.c_name").as("name_b"))
      .withColumn("jw", round(expr("jaro_winkler(name_a, name_b)"), 6))
      .filter(col("jw") >= 0.93)
  }

  /** SNM scored candidate pairs over an arbitrary corpus (same columns
    * as [[jaroScoredOf]]; a pair can appear in both passes — dedupe at
    * the consumer's grain). */
  private[graft] def snmScoredOf(corpus: org.apache.spark.sql.DataFrame,
                                 w: Int = SNM_W) =
    snmCandidates(corpus, w)
      .withColumn("jw", round(expr("jaro_winkler(name_a, name_b)"), 6))
      .filter(col("jw") >= 0.93)

  /** Top-100 under the declared (jw desc, id_a, id_b) total order.
    * `excludeEqual = true` restricts to genuinely NEAR pairs
    * (name_a ≠ name_b): under ScaleGen replication names copy VERBATIM,
    * so at sf10 every name has ~100 exact copies and the unrestricted
    * top-100 saturates with ONE clique's id-ordered jw = 1.0 pairs — a
    * tie artifact that measures the id tiebreaker, not the matcher (see
    * BASELINE.md's sf10 recall adjudication). Production removes exact
    * duplicates BEFORE fuzzy matching (the llm_ingest_e2e funnel stage
    * 1); the near-restricted variant is the recall ground truth for
    * what SNM exists to find. */
  private[graft] def topPairs(scored: org.apache.spark.sql.DataFrame,
                              excludeEqual: Boolean = false) =
    (if (excludeEqual) scored.filter(col("name_a") =!= col("name_b"))
     else scored)
      .select(col("id_a"), col("id_b"), col("jw"))
      .distinct()
      .orderBy(col("jw").desc, col("id_a"), col("id_b"))
      .limit(100)

  private[graft] def jaroExactTop(s: org.apache.spark.sql.SparkSession,
                                  dir: String) = {
    topPairs(jaroScoredOf(Tables.customer(s, dir)))
  }

  /** The declared fn_jaro_snm window. One definition shared with the
    * adversarial recall spec, so a silent production change to W moves
    * the measured recall the spec pins. */
  private[graft] val SNM_W = 10

  /** Multi-pass sorted-neighborhood CANDIDATE pairs over a (c_custkey,
    * c_name, c_mktsegment, c_nationkey) corpus: two [[PairJoin.neighbors]]
    * passes per (mktsegment, nationkey) block, by c_name and by
    * reverse(c_name). Linear — rows × 2W comparisons for any block size
    * distribution. Parameterized on corpus and W so the adversarial
    * recall spec (PrefixJoinSpec) can drive the SAME kernel the declared
    * fn_jaro_snm uses on a middle-edit corpus and at shrunken windows.
    * Returns (id_a, id_b, name_a, name_b) — names by window side, not by
    * id order (jw is symmetric) — duplicates across passes retained. */
  private[graft] def snmCandidates(corpus: org.apache.spark.sql.DataFrame,
                                   W: Int): org.apache.spark.sql.DataFrame = {
    // ONE evaluation of the (possibly dedup-reduced) corpus (r15): it
    // feeds both passes, and each pass's rank table feeds both sides.
    val c = graft.llm.Memo.cut(corpus.sparkSession)(corpus
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              col("c_nationkey"))
      .withColumn("rname", reverse(col("c_name"))))
    Seq("c_name", "rname").map { sk =>
      PairJoin.neighbors(c, Seq("c_mktsegment", "c_nationkey"), sk, "c_custkey", W,
                         Seq("c_name"))
        .select(col("id_a"), col("id_b"),
                col("c_name_a").as("name_a"), col("c_name_b").as("name_b"))
    }.reduce(_ unionAll _)
  }

  val qs: Seq[(String, Q)] = Seq(

    // Market-basket affinity: part pairs co-bought in the same order.
    // JOIN-FREE: the corpus reduces to one sorted item-set per order
    // (collect_set partial-merges map-side), the ≤ C(k,2) in-row pairs
    // explode off that array (items per order are bounded, TPC-H ≤ 7),
    // and a pair-keyed count finishes — two linear shuffles total, vs
    // the classic self-join's distinct + join + agg chain. Support ≥ 2 +
    // total-ordered top-100 keeps the answer stable.
    "q_basket_pairs" -> Q(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
          .select(explode(expr(pairsE("items"))).as("pr"))
          .groupBy(col("pr.a").as("p1"), col("pr.b").as("p2"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
          .orderBy(col("n_orders").desc, col("p1"), col("p2"))
          .limit(100)
      },
      Some("""WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
              SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                     COUNT(*) AS n_orders
              FROM i a JOIN i b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING COUNT(*) >= 2
              ORDER BY n_orders DESC, p1, p2 LIMIT 100""")),

    // Gini coefficient of customer revenue concentration — the
    // inequality number next to q_pareto's ABC bands: with x sorted
    // ascending, G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx). Customers reduce
    // first, but the customer dim still grows with the corpus (1.5 M rows
    // at sf10, unbounded at 100×), so the global rank comes from
    // H.prefixSums (value = 1L ⇒ `c_before` is the 0-based rank under the
    // same (x, custkey) total order — r14, the q_rfm rewrite applied
    // here), never a bare Window.orderBy whose SinglePartition sort one
    // task would own at any cluster size. Every product and sum stays in
    // exact DECIMAL off the rank integers, so G is one deterministic
    // decimal division cast to DOUBLE at the end.
    "q_gini" -> Q(
      (s, dir) => {
        val cust = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast(H.D)).as("x"))
        graft.H.prefixSums(cust, Seq(col("x"), col("o_custkey")),
                           Seq("c" -> lit(1L)))
          .withColumn("i", col("c_before") + lit(1L))
          .agg(count(lit(1)).as("n"),
               sum(col("x")).as("s"),
               sum(col("x") * col("i")).as("srx"))
          .select(col("n"),
                  col("s").cast("double").as("total_rev"),
                  ((lit(2) * col("srx") - (col("n") + 1) * col("s")) /
                   (col("n") * col("s"))).cast("decimal(38,6)")
                    .cast("double").as("gini"))
      },
      Some("""WITH c AS (SELECT o_custkey,
                                SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS x
                         FROM orders GROUP BY 1),
                   r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
                                       AS BIGINT) AS i
                         FROM c)
              SELECT COUNT(*) AS n,
                     CAST(SUM(x) AS DOUBLE) AS total_rev,
                     CAST(CAST((2 * SUM(x * i) - (COUNT(*) + 1) * SUM(x))
                               / (COUNT(*) * SUM(x)) AS DECIMAL(38,6))
                          AS DOUBLE) AS gini
              FROM r""")),

    // Association rules over the basket pairs — the market-basket step
    // AFTER q_basket_pairs's co-occurrence counts: per pair, both
    // directed confidences conf(a→b) = supp(ab)/supp(a) and the
    // symmetric lift = supp(ab)·N / (supp(a)·supp(b)), top-50 by lift.
    // Shapes stay linear: baskets reduce in-row to C(k,2) pairs (the
    // H.pairsE explode — no self-join), item supports are one hash-agg
    // over the distinct (order, part) projection and BROADCAST back to
    // the pair table (part-dim-sized), and the ratios are exact integer
    // fractions in DECIMAL so the ranking never sees a float division.
    "q_assoc_rules" -> Q(
      (s, dir) => {
        // ONE evaluated basket table (r15): items feeds the order count,
        // the per-part supports, and the pair explosion — left
        // declarative the lineitem scan + distinct ran three times (8
        // parquet scans in the r14 plan). The PlanCut rebase shares the
        // scan + distinct exchange across all three consumers.
        val items = org.apache.spark.sql.graft.PlanCut.once(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_partkey")).distinct())
        val nOrders = items.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        val supp = items.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_p"))
        val pairs = items.groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
          .select(explode(expr(H.pairsE("items"))).as("pr"))
          .groupBy(col("pr.a").as("p1"), col("pr.b").as("p2"))
          .agg(count(lit(1)).as("n_both"))
          .filter(col("n_both") >= 2)
        pairs
          .join(broadcast(supp.select(col("l_partkey").as("p1"),
                                      col("n_p").as("n_p1"))), Seq("p1"))
          .join(broadcast(supp.select(col("l_partkey").as("p2"),
                                      col("n_p").as("n_p2"))), Seq("p2"))
          .crossJoin(broadcast(nOrders))
          .withColumn("conf_12", (col("n_both").cast("decimal(18,6)") /
                                  col("n_p1")).cast("decimal(18,6)"))
          .withColumn("conf_21", (col("n_both").cast("decimal(18,6)") /
                                  col("n_p2")).cast("decimal(18,6)"))
          .withColumn("liftd",
            ((col("n_both") * col("n_orders")).cast("decimal(38,6)") /
             (col("n_p1") * col("n_p2"))).cast("decimal(38,6)"))
          .orderBy(col("liftd").desc, col("p1"), col("p2"))
          .limit(50)
          .select(col("p1"), col("p2"), col("n_p1"), col("n_p2"),
                  col("n_both"),
                  col("conf_12").cast("double").as("conf_12"),
                  col("conf_21").cast("double").as("conf_21"),
                  col("liftd").cast("double").as("lift"))
          .orderBy(col("lift").desc, col("p1"), col("p2"))
      },
      Some("""WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
                   n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM i),
                   s AS (SELECT l_partkey, COUNT(*) AS n_p FROM i GROUP BY 1),
                   p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                                COUNT(*) AS n_both
                         FROM i a JOIN i b
                           ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
                         GROUP BY 1, 2 HAVING COUNT(*) >= 2)
              SELECT p1, p2, n_p1, n_p2, n_both,
                     CAST(conf_12 AS DOUBLE) AS conf_12,
                     CAST(conf_21 AS DOUBLE) AS conf_21,
                     CAST(liftd AS DOUBLE) AS lift
              FROM (SELECT p.p1, p.p2, sa.n_p AS n_p1, sb.n_p AS n_p2, n_both,
                           CAST(CAST(n_both AS DECIMAL(18,6)) / sa.n_p
                                AS DECIMAL(18,6)) AS conf_12,
                           CAST(CAST(n_both AS DECIMAL(18,6)) / sb.n_p
                                AS DECIMAL(18,6)) AS conf_21,
                           CAST(CAST(n_both * n_orders AS DECIMAL(38,6))
                                / (sa.n_p * sb.n_p) AS DECIMAL(38,6)) AS liftd
                    FROM p JOIN s sa ON p.p1 = sa.l_partkey
                           JOIN s sb ON p.p2 = sb.l_partkey, n
                    ORDER BY liftd DESC, p1, p2 LIMIT 50) z
              ORDER BY lift DESC, p1, p2""")),

    // Event-sequence Markov transition matrix: P(next event type | this
    // event type), from per-user time-ordered chains. The window is
    // partitioned by user_id (corpus shuffles once, on the natural key);
    // the transition matrix itself is |types|² ≤ ~25 rows, so the
    // probability normalization window is free. (ts, event_id) is the
    // total per-user order — ts alone can tie.
    "q_markov" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
                  col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        trans
          .withColumn("p", round(col("n") / sum(col("n"))
                                   .over(Window.partitionBy(col("from_type"))), 6))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH t AS (SELECT event_type AS from_type,
                                LEAD(event_type) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)
                                  AS to_type
                         FROM events),
                   c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
                         WHERE to_type IS NOT NULL GROUP BY 1, 2)
              SELECT from_type, to_type, n,
                     round(n / SUM(n) OVER (PARTITION BY from_type), 6) AS p
              FROM c ORDER BY from_type, to_type""")),

    // Exponentially time-decayed customer value (half-life ≈ 21 days):
    // weight = exp(-age_days/30) anchored at the corpus max order date.
    // One 1-row broadcast for the anchor, one map-side-combined groupBy —
    // the cheapest possible shape at any scale. Each term rounds at 6
    // (the libm-parity grain for exp) and sums in exact DECIMAL(38,6) so
    // the aggregate is order-independent.
    "q_decay_sum" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val ref = o.agg(max(col("o_orderdate")).as("ref"))
        o.crossJoin(broadcast(ref))
          .withColumn("age", datediff(col("ref"), col("o_orderdate")).cast("double"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
               sum(round(col("o_totalprice") * exp(col("age") / lit(-30.0)), 6)
                     .cast("decimal(38,6)")).cast("double").as("decayed_value"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH r AS (SELECT MAX(o_orderdate) AS ref FROM orders)
              SELECT o_custkey, COUNT(*) AS n_orders,
                     CAST(SUM(CAST(round(o_totalprice *
                         exp(date_diff('day', CAST(o_orderdate AS DATE),
                                       CAST(ref AS DATE)) / -30.0), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS decayed_value
              FROM orders, r GROUP BY 1 ORDER BY 1""")),

    // Pareto / ABC banding: parts ranked by revenue, banded by cumulative
    // share (A ≤ 80%, B ≤ 95%, C rest). The fact table reduces to one
    // row per part before any window touches it; cum/total stay in exact
    // decimal until the band comparison, which happens on the two
    // identically-derived doubles (H doctrine: decimal → one double cast).
    "q_pareto" -> Q(
      (s, dir) => {
        val pr = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                     .cast(H.D)).as("rev"))
        // DISTRIBUTED global running sum (r13c-sf10 flag: the bare
        // `SUM OVER (ORDER BY rev DESC)` plans a SinglePartition window
        // — 20M parts through one spilling task at sf10, e = 1.51).
        // H.prefixSums: range-repartition on the sort key, cumsum WITHIN
        // each range partition, broadcast per-partition decimal offsets;
        // decimal addition is associative, so before + rev is
        // bit-identical to the single-partition spelling at any split.
        H.prefixSums(pr, Seq(col("rev").desc, col("l_partkey")),
                     Seq("rev" -> col("rev")))
          .select(col("rev"),
                  (col("rev_before") + col("rev")).cast("double").as("cum_d"),
                  col("rev_tot").cast("double").as("tot_d"))
          .withColumn("band",
                      when(col("cum_d") <= col("tot_d") * 0.80, "A")
                        .when(col("cum_d") <= col("tot_d") * 0.95, "B")
                        .otherwise("C"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_parts"),
               sum(col("rev")).cast("double").as("band_rev"))
          .orderBy(col("band"))
      },
      Some("""WITH pr AS (SELECT l_partkey,
                                 SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                          AS DECIMAL(38,4))) AS rev
                          FROM lineitem GROUP BY 1),
                   c AS (SELECT rev,
                                CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_d,
                                CAST(SUM(rev) OVER () AS DOUBLE) AS tot_d
                         FROM pr)
              SELECT CASE WHEN cum_d <= tot_d * 0.80 THEN 'A'
                          WHEN cum_d <= tot_d * 0.95 THEN 'B'
                          ELSE 'C' END AS band,
                     COUNT(*) AS n_parts,
                     CAST(SUM(rev) AS DOUBLE) AS band_rev
              FROM c GROUP BY 1 ORDER BY 1""")),

    // Lag-1..3 autocorrelation of the daily revenue series. The corpus
    // reduces to ~one row per ship-day first; the lag window and the
    // corr aggregates then run over that series (single partition over a
    // few thousand rows — the reduced-table exemption). corr is a
    // double co-moment merge, so it rounds at 6 like q_agg_corr.
    "q_autocorr" -> Q(
      (s, dir) => {
        val daily = Tables.lineitem(s, dir)
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("rev"))
        val w = Window.orderBy(col("day"))
        daily
          .select(col("rev"),
                  lag(col("rev"), 1).over(w).as("l1"),
                  lag(col("rev"), 2).over(w).as("l2"),
                  lag(col("rev"), 3).over(w).as("l3"))
          .agg(round(corr(col("rev"), col("l1")), 6).as("c1"),
               round(corr(col("rev"), col("l2")), 6).as("c2"),
               round(corr(col("rev"), col("l3")), 6).as("c3"))
          .selectExpr("stack(3, bigint(1), c1, bigint(2), c2, bigint(3), c3) AS (lag, acf)")
          .orderBy(col("lag"))
      },
      Some(s"""WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                                 ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS rev
                          FROM lineitem GROUP BY 1),
                    l AS (SELECT rev,
                                 LAG(rev, 1) OVER (ORDER BY day) AS l1,
                                 LAG(rev, 2) OVER (ORDER BY day) AS l2,
                                 LAG(rev, 3) OVER (ORDER BY day) AS l3
                          FROM d),
                    a AS (SELECT round(corr(rev, l1), 6) AS c1,
                                 round(corr(rev, l2), 6) AS c2,
                                 round(corr(rev, l3), 6) AS c3
                          FROM l)
               SELECT * FROM (
                 SELECT CAST(1 AS BIGINT) AS lag, c1 AS acf FROM a
                 UNION ALL SELECT CAST(2 AS BIGINT), c2 FROM a
                 UNION ALL SELECT CAST(3 AS BIGINT), c3 FROM a)
               ORDER BY lag""")),

    // Weighted sample without replacement (Efraimidis–Spirtsis A-ES):
    // per-row exponential key -ln(u)/w with the engine's deterministic
    // md5 uniform (tid60 kernel — no RNG, rerunning reproduces the
    // sample) and weight = o_totalprice. Top-k by smallest key IS the
    // weighted sample; physically a TakeOrderedAndProject, so only 100
    // rows ever leave the executors. The float key is sort-only and
    // never emitted; a cross-engine ln() ULP difference could still
    // flip WHICH rows sit at the rank-100 boundary, but only if two
    // keys coincide within ~1 ulp there — not observed at any fixture
    // SF, and deterministic per engine build either way.
    "q_weighted_sample" -> Q(
      (s, dir) => {
        Tables.orders(s, dir)
          .withColumn("u", (expr("tid60(CAST(o_orderkey AS STRING)) % 1000000") + lit(1))
                             .cast("double") / lit(1000001.0))
          .withColumn("ekey", -log(col("u")) / col("o_totalprice"))
          .orderBy(col("ekey"), col("o_orderkey"))
          .limit(100)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM (
                SELECT o_orderkey, o_totalprice,
                       -ln(((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                             % 1000000) + 1) / 1000001.0) / o_totalprice AS ekey
                FROM orders
                ORDER BY ekey, o_orderkey LIMIT 100)
              ORDER BY o_orderkey""")),

    // RFM quartile scoring: recency / frequency / monetary per customer,
    // each ntile(4)-ranked with a custkey tiebreak so the quartile
    // assignment is a pure function of the data. r13: the three bare
    // global NTILE windows were SinglePartition sorts of the customer
    // dim — now three H.prefixSums rank passes (range-repartitioned,
    // value = 1L so `_before` IS the 0-based global rank) + the
    // q_ntile_binning bucket arithmetic, bit-identical to NTILE(4) (the
    // oracle keeps the plain NTILE spelling and gates it).
    "q_rfm" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val ref = o.agg(max(col("o_orderdate")).as("ref"))
        val cust = o.crossJoin(broadcast(ref))
          .groupBy(col("o_custkey"))
          .agg(datediff(min(col("ref")), max(col("o_orderdate"))).as("recency"),
               count(lit(1)).as("frequency"),
               sum(col("o_totalprice").cast(H.D)).as("mon_d"))
        def quartile(df: org.apache.spark.sql.DataFrame,
                     ord: Seq[org.apache.spark.sql.Column], out: String) =
          graft.H.prefixSums(df, ord, Seq("c" -> lit(1L)))
            .withColumn(out, expr(
              """CASE WHEN c_before < (c_tot % 4) * (c_tot DIV 4 + 1)
                      THEN c_before DIV (c_tot DIV 4 + 1)
                      ELSE (c_tot % 4) + (c_before - (c_tot % 4) * (c_tot DIV 4 + 1))
                           DIV (c_tot DIV 4)
                 END + 1""").cast("int"))
            .drop("c_before", "c_tot")
        val q3 = quartile(quartile(quartile(cust,
          Seq(col("recency"), col("o_custkey")), "r_q"),
          Seq(col("frequency").desc, col("o_custkey")), "f_q"),
          Seq(col("mon_d").desc, col("o_custkey")), "m_q")
        q3.select(col("o_custkey"), col("recency"), col("frequency"),
                  col("mon_d").cast("double").as("monetary"),
                  col("r_q"), col("f_q"), col("m_q"))
          .withColumn("rfm", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH r AS (SELECT MAX(o_orderdate) AS ref FROM orders),
                   c AS (SELECT o_custkey,
                                date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                                          CAST(MIN(ref) AS DATE)) AS recency,
                                COUNT(*) AS frequency,
                                SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS mon_d
                         FROM orders, r GROUP BY 1)
              SELECT o_custkey, recency, frequency,
                     CAST(mon_d AS DOUBLE) AS monetary,
                     NTILE(4) OVER (ORDER BY recency, o_custkey) AS r_q,
                     NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
                     NTILE(4) OVER (ORDER BY mon_d DESC, o_custkey) AS m_q,
                     NTILE(4) OVER (ORDER BY recency, o_custkey) * 100
                       + NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) * 10
                       + NTILE(4) OVER (ORDER BY mon_d DESC, o_custkey) AS rfm
              FROM c ORDER BY o_custkey""")),

    // Deterministic Bloom filter — the last classic sketch next to HLL /
    // CMS / top-k / bottom-k-quantile / minhash / simhash: build a
    // 16384-bit, k=3 filter over the EARLY customer set (512 bigint
    // words via bit_or — broadcastable), probe the LATE customers, and
    // account exactly: every true member tests positive (no false
    // negatives, the Bloom guarantee) and the false-positive rate lands
    // where 1-(1-1/m)^{kn} cubed predicts. md5-derived bit positions
    // make the filter — and therefore the FP count itself — a pure
    // function of the data, so the oracle pins the whole row exactly,
    // not with a tolerance. At scale: build is one map-combined bit_or
    // reduce; the probe ships 512 words broadcast, never the member set.
    "q_bloom_filter" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val cut = lit("1998-01-01").cast("timestamp_ntz")
        val early = o.filter(col("o_orderdate") < cut)
          .select(col("o_custkey")).distinct()
        val late = o.filter(col("o_orderdate") >= cut)
          .select(col("o_custkey")).distinct()
        def buckets(df: org.apache.spark.sql.DataFrame) = df
          .select(col("o_custkey"), explode(lit(Array(0, 1, 2))).as("i"))
          .select(col("o_custkey"), expr(
            "tid60(concat(CAST(i AS STRING), ':', CAST(o_custkey AS STRING))) % 16384")
            .as("b"))
        val words = buckets(early)
          .select(expr("b DIV 32").as("w"),
                  expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("bit"))
          .groupBy(col("w")).agg(expr("bit_or(bit)").as("mask"))
        val probed = buckets(late)
          .select(col("o_custkey"), expr("b DIV 32").as("w"),
                  (col("b") % 32).as("bit"))
          .join(broadcast(words), Seq("w"), "left_outer")
          .withColumn("hit", when(col("mask").isNotNull &&
            expr("(shiftright(mask, CAST(bit AS INT)) & 1) = 1"), 1L).otherwise(0L))
          .groupBy(col("o_custkey"))
          .agg((sum(col("hit")) === 3).as("positive"))
        val truth = late.join(early.withColumnRenamed("o_custkey", "m"),
                              col("o_custkey") === col("m"), "left_outer")
          .select(col("o_custkey"), col("m").isNotNull.as("member"))
        probed.join(truth, Seq("o_custkey"))
          .agg(count(lit(1)).as("n_probes"),
               sum(when(col("positive"), 1L).otherwise(0L)).as("n_positive"),
               sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
               sum(when(col("positive") && !col("member"), 1L).otherwise(0L))
                 .as("n_false_pos"),
               sum(when(!col("positive") && col("member"), 1L).otherwise(0L))
                 .as("n_false_neg"))
      },
      Some("""WITH early AS (SELECT DISTINCT o_custkey FROM orders
                             WHERE o_orderdate < TIMESTAMP '1998-01-01'),
                   late AS (SELECT DISTINCT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
                   eb AS (SELECT o_custkey,
                                 ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                                    CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                                   % 16384 AS b
                          FROM early, (SELECT unnest([0, 1, 2]) AS i) ii),
                   words AS (SELECT b // 32 AS w,
                                    bit_or(CAST(1 AS BIGINT) << CAST(b % 32 AS INT))
                                      AS mask
                             FROM eb GROUP BY 1),
                   lb AS (SELECT o_custkey,
                                 ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                                    CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                                   % 16384 AS b
                          FROM late, (SELECT unnest([0, 1, 2]) AS i) ii),
                   probed AS (SELECT o_custkey,
                                     SUM(CASE WHEN mask IS NOT NULL AND
                                          ((mask >> CAST(b % 32 AS INT)) & 1) = 1
                                         THEN 1 ELSE 0 END) = 3 AS positive
                              FROM lb LEFT JOIN words ON lb.b // 32 = words.w
                              GROUP BY 1),
                   truth AS (SELECT l.o_custkey,
                                    (e.o_custkey IS NOT NULL) AS member
                             FROM late l LEFT JOIN early e
                               ON l.o_custkey = e.o_custkey)
              SELECT COUNT(*) AS n_probes,
                     CAST(SUM(CASE WHEN positive THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_positive,
                     CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_members,
                     CAST(SUM(CASE WHEN positive AND NOT member THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_false_pos,
                     CAST(SUM(CASE WHEN NOT positive AND member THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_false_neg
              FROM probed JOIN truth USING (o_custkey)""")),

    // Theta/KMV sketch set algebra — the mergeable-sketch family's set
    // closer: HLL unions but cannot intersect; a bottom-k (KMV) theta
    // sketch supports BOTH, which is how a 100 TB curation run answers
    // "how many members do corpus A and corpus B share?" without joining
    // the corpora — each side reduces to a k-row sketch and the algebra
    // runs on ≤2k rows. Members hash to deterministic uniforms (tid60
    // md5 kernel), the per-set bottom-64 is the declarative
    // row_number()<=k spelling that TopKPerGroup rewrites to bounded
    // partial/final buffers (no per-set sort, survivors-only shuffle —
    // the q_topn_native plan), and the estimators are the classic KMV
    // forms: |S| ≈ (k−1)/θ_k, |A∩B| ≈ |{common < θ}|/θ with
    // θ = min(θ_a, θ_b). Every number is a pure function of the data, so
    // the oracle pins the ESTIMATES bit-for-bit, with the exact counts
    // beside them — sketch error is visible in the row, not asserted
    // away. (A production pipeline would persist the k-row sketches and
    // run only the algebra per query; the declared form recomputes the
    // build because a declared query is one expression.)
    "q_theta_sketch" -> Q(
      (s, dir) => {
        graft.plans.TopK.install(s)
        val k = 64
        val o = Tables.orders(s, dir)
        // ONE scan + ONE evaluated member table (r15): the old per-tag
        // members() built two separate filtered distinct scans, and m
        // fed both the sketch and the exact-truth branches — 10 parquet
        // scans in the r14 plan, zero ReusedExchange. One filter over
        // both priorities with the tag derived in-row reduces to the
        // identical (tag, custkey) distinct set; the PlanCut rebase
        // shares the scan + distinct exchange between the two consumers.
        val m = org.apache.spark.sql.graft.PlanCut.once(
          o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
            .select(col("o_custkey"),
                    when(col("o_orderpriority") === "1-URGENT", lit("a"))
                      .otherwise(lit("b")).as("tag"))
            .distinct()
            .withColumn("u",
              (expr("tid60(CAST(o_custkey AS STRING)) % 1000000007") + lit(1L))
                .cast("double") / lit(1000000008.0)))
        val wSet = Window.partitionBy(col("tag"))
          .orderBy(col("u"), col("o_custkey"))
        val sk = m.withColumn("rk", row_number().over(wSet))
          .filter(col("rk") <= k)
        // one row per sketched member, tag membership as flags — every
        // downstream stat reads this ≤2k-row table (PlanCut: THREE
        // consumers — stats, the union sketch, the intersection count)
        val skT = org.apache.spark.sql.graft.PlanCut.once(
          sk.groupBy(col("o_custkey"), col("u"))
          .agg(max(when(col("tag") === "a", 1L).otherwise(0L)).as("ia"),
               max(when(col("tag") === "b", 1L).otherwise(0L)).as("ib")))
        val stats = skT.agg(
          sum(col("ia")).as("nk_a"),
          max(when(col("ia") === 1L, col("u"))).as("theta_a"),
          sum(col("ib")).as("nk_b"),
          max(when(col("ib") === 1L, col("u"))).as("theta_b"))
        // union sketch = bottom-k of the merged distinct hashes (a
        // member of both sets hashes once); the global window sees only
        // the ≤2k sketch rows, never the data
        val wU = Window.orderBy(col("u"), col("o_custkey"))
        val pu = skT.withColumn("rk", row_number().over(wU))
          .filter(col("rk") <= k)
          .agg(count(lit(1)).as("nk_u"), max(col("u")).as("theta_u"))
        val cc = skT.crossJoin(broadcast(stats))
          .filter(col("ia") === 1L && col("ib") === 1L &&
                  col("u") < least(col("theta_a"), col("theta_b")))
          .agg(count(lit(1)).as("c"))
        val ex = m.groupBy(col("o_custkey"))
          .agg(max(when(col("tag") === "a", 1L).otherwise(0L)).as("xa"),
               max(when(col("tag") === "b", 1L).otherwise(0L)).as("xb"))
          .agg(sum(col("xa")).as("exact_a"), sum(col("xb")).as("exact_b"),
               count(lit(1)).as("exact_union"),
               sum(col("xa") * col("xb")).as("exact_intersect"))
        stats.crossJoin(pu).crossJoin(cc).crossJoin(ex)
          .select(
            when(col("nk_a") < k, col("nk_a").cast("double"))
              .otherwise(lit((k - 1).toDouble) / col("theta_a")).as("est_a"),
            when(col("nk_b") < k, col("nk_b").cast("double"))
              .otherwise(lit((k - 1).toDouble) / col("theta_b")).as("est_b"),
            when(col("nk_u") < k, col("nk_u").cast("double"))
              .otherwise(lit((k - 1).toDouble) / col("theta_u")).as("est_union"),
            (col("c").cast("double") /
              least(col("theta_a"), col("theta_b"))).as("est_intersect"),
            col("exact_a"), col("exact_b"),
            col("exact_union"), col("exact_intersect"))
      },
      Some("""WITH ma AS (SELECT DISTINCT o_custkey FROM orders
                          WHERE o_orderpriority = '1-URGENT'),
                   mb AS (SELECT DISTINCT o_custkey FROM orders
                          WHERE o_orderpriority = '2-HIGH'),
                   m AS (SELECT 'a' AS tag, o_custkey FROM ma
                         UNION ALL SELECT 'b' AS tag, o_custkey FROM mb),
                   h AS (SELECT tag, o_custkey,
                                ((('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                                  1, 15))::BIGINT
                                  % 1000000007) + 1) / 1000000008.0 AS u
                         FROM m),
                   sk AS (SELECT * FROM (
                            SELECT tag, o_custkey, u,
                                   row_number() OVER (PARTITION BY tag
                                                      ORDER BY u, o_custkey) AS rk
                            FROM h) WHERE rk <= 64),
                   skt AS (SELECT o_custkey, u,
                                  MAX(CASE WHEN tag = 'a' THEN 1 ELSE 0 END) AS ia,
                                  MAX(CASE WHEN tag = 'b' THEN 1 ELSE 0 END) AS ib
                           FROM sk GROUP BY 1, 2),
                   stats AS (SELECT CAST(SUM(ia) AS BIGINT) AS nk_a,
                                    MAX(CASE WHEN ia = 1 THEN u END) AS theta_a,
                                    CAST(SUM(ib) AS BIGINT) AS nk_b,
                                    MAX(CASE WHEN ib = 1 THEN u END) AS theta_b
                             FROM skt),
                   pu AS (SELECT COUNT(*) AS nk_u, MAX(u) AS theta_u FROM (
                            SELECT * FROM (
                              SELECT u, row_number() OVER
                                          (ORDER BY u, o_custkey) AS rk
                              FROM skt) z WHERE rk <= 64)),
                   cc AS (SELECT COUNT(*) AS c FROM skt, stats
                          WHERE ia = 1 AND ib = 1
                            AND u < LEAST(theta_a, theta_b)),
                   ex AS (SELECT CAST(SUM(xa) AS BIGINT) AS exact_a,
                                 CAST(SUM(xb) AS BIGINT) AS exact_b,
                                 COUNT(*) AS exact_union,
                                 CAST(SUM(xa * xb) AS BIGINT) AS exact_intersect
                          FROM (SELECT o_custkey,
                                       MAX(CASE WHEN tag = 'a' THEN 1 ELSE 0 END) AS xa,
                                       MAX(CASE WHEN tag = 'b' THEN 1 ELSE 0 END) AS xb
                                FROM m GROUP BY 1) t)
              SELECT CASE WHEN nk_a < 64 THEN CAST(nk_a AS DOUBLE)
                          ELSE 63.0 / theta_a END AS est_a,
                     CASE WHEN nk_b < 64 THEN CAST(nk_b AS DOUBLE)
                          ELSE 63.0 / theta_b END AS est_b,
                     CASE WHEN nk_u < 64 THEN CAST(nk_u AS DOUBLE)
                          ELSE 63.0 / theta_u END AS est_union,
                     CAST(c AS DOUBLE) / LEAST(theta_a, theta_b) AS est_intersect,
                     exact_a, exact_b, exact_union, exact_intersect
              FROM stats, pu, cc, ex""")),

    // Per-group OLS regression stats (price ~ quantity): slope,
    // intercept, R², n — the regr_* aggregate family in one
    // map-combined pass per group. Co-moment merges are double
    // accumulations, so everything rounds at the corr-precedent grain
    // (6). (The synthetic fixture prices are drawn independently of
    // quantity — the fit is weak by design; the operator's contract is
    // the regr_* algebra, not the fixture's economics.)
    "q_regression" -> Q(
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("regr_count(l_extendedprice, l_quantity)").as("n"),
             round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
             round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6)
               .as("intercept"),
             round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
                     regr_count(l_extendedprice, l_quantity) AS n,
                     round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                     round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
                     round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
              FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Exact weighted median (price weighted by quantity) per return
    // flag: smallest v with cum_weight(≤v) ≥ half the total, spelled
    // cum ≥ tot − cum so the exact decimals never widen (a ×2 would
    // overflow DuckDB's 38-digit multiply). Weights pre-reduce per
    // (flag, value); the per-flag cumulative ORDER is inherent to any
    // EXACT weighted quantile (a global order statistic — the
    // sketch-grade alternative is udaf_quantile_sketch), but the SCAN
    // need not serialize on the 3-cardinality flag: the r8 verdict named
    // the flag-partitioned windows a 3-task ceiling (three tasks sorting
    // ~20 M reduced rows each at 100×). r9 de-skews with the
    // q_rolling_corr two-level sweep (BASELINE §r6 precedent): bucket
    // the VALUE axis by a fixed price stride (bkt = floor(v/512) — a
    // monotone coarsening of the sort key, so bucket order IS value
    // order, ~200 buckets over the TPC-H price domain at any corpus
    // size), compute in-bucket prefix sums on 3×~200 parallel tasks,
    // then add per-bucket carry-in offsets from an exclusive prefix over
    // the TINY (flag, bkt) totals table (the only flag-partitioned
    // window left runs on ~600 rows, broadcast back). All arithmetic
    // stays exact decimal(38,4) — addition is associative, so cum, the
    // crossing row, and the oracle hash are bit-identical to the direct
    // single-window spelling the oracle keeps.
    "q_weighted_median" -> Q(
      (s, dir) => {
        // ONE evaluated value table (r15): the local-cumsum branch and
        // the offsets branch both consume g — left declarative, column
        // pruning specializes the two subtrees, exchange reuse stops
        // firing, and the lineitem scan + reduce ran TWICE (4 parquet
        // scans in the r14 plan, zero ReusedExchange). PlanCut.once
        // rebases both consumers onto one evaluated RDD: one scan, one
        // reduce shuffle, shared map outputs.
        val g = org.apache.spark.sql.graft.PlanCut.once(
          Tables.lineitem(s, dir)
            .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
            .agg(sum(col("l_quantity").cast(H.D)).as("w"))
            .withColumn("bkt", floor(col("v") / 512).cast("long")))
        val wLoc = Window.partitionBy(col("l_returnflag"), col("bkt"))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = g.withColumn("lcum", sum(col("w")).over(wLoc))
        val wCar = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = g.groupBy(col("l_returnflag"), col("bkt"))
          .agg(sum(col("w")).as("tw"))
          .select(col("l_returnflag"), col("bkt"),
                  coalesce(sum(col("tw")).over(wCar), lit(0).cast(H.D)).as("carry"),
                  sum(col("tw")).over(
                    Window.partitionBy(col("l_returnflag"))).as("tot"))
        local.join(broadcast(offs), Seq("l_returnflag", "bkt"))
          .withColumn("cum", col("carry") + col("lcum"))
          .filter(col("cum") >= col("tot") - col("cum"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("v")).as("wmedian"),
               min(col("tot")).cast("double").as("total_w"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH g AS (SELECT l_returnflag, l_extendedprice AS v,
                                SUM(CAST(l_quantity AS DECIMAL(38,4))) AS w
                         FROM lineitem GROUP BY 1, 2),
                   c AS (SELECT l_returnflag, v,
                                SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                                             ROWS UNBOUNDED PRECEDING) AS cum,
                                SUM(w) OVER (PARTITION BY l_returnflag) AS tot
                         FROM g)
              SELECT l_returnflag, MIN(v) AS wmedian,
                     CAST(MIN(tot) AS DOUBLE) AS total_w
              FROM c WHERE cum >= tot - cum
              GROUP BY 1 ORDER BY 1""")),

    // Record-linkage candidate pairs by Jaro-Winkler name similarity —
    // the fuzzy-match operator entity resolution runs before a merge.
    // jaro_winkler is the engine's codegen kernel (Sketches.JaroWinkler),
    // fuzz-verified value-identical to DuckDB's jaro_winkler_similarity
    // (3006/3006 random vectors at 1e-12). Classic blocking: pairs only
    // form inside (mktsegment, nation) demographic blocks. NOTE on the
    // cost model (r8 sf1 measurement, BASELINE §r8-sf1): block COUNT is
    // schema-fixed (5×25), so block sizes grow with the corpus and the
    // exact all-pairs cost is Σ block² — measured e = 1.35, and the
    // adjudication derives why no lossless JW-0.93 prefilter exists for
    // these names. ADJUDICATED ROLE: demo-anchor (KEYS.md
    // "Adjudications" carries the machine-readable record) — this key
    // is the EXACT oracle ground truth for the kernel and for
    // fn_jaro_snm's recall row, NOT the 100 TB plan; the linear-scale
    // production variant is fn_jaro_snm below.
    // Top-100 under a total (jw, id, id) order.
    "fn_jaro" -> Q(
      (s, dir) => jaroExactTop(s, dir),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
              FROM customer a JOIN customer b
                ON a.c_mktsegment = b.c_mktsegment
               AND a.c_nationkey = b.c_nationkey
               AND a.c_custkey < b.c_custkey
              WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.93
              ORDER BY jw DESC, id_a, id_b LIMIT 100""")),

    // Multi-pass SORTED-NEIGHBORHOOD fuzzy match (Hernández–Stolfo) —
    // the linear-scale record-linkage plan fn_jaro's adjudication calls
    // for: within each (mktsegment, nation) block, sort once by c_name
    // and once by reverse(c_name), and compare each record only to its
    // next W = 10 neighbors per pass (a forward-sorted pass catches
    // pairs agreeing on a long prefix, the reversed pass pairs agreeing
    // on a long suffix; a pair differing only in middle characters can
    // evade both windows — which is WHY the declared row measures its
    // own recall against the exact top-100 instead of hoping). Cost is
    // rows × 2W comparisons — linear in corpus for ANY block-size
    // distribution, vs the exact plan's Σ block² (measured at sf1:
    // 5.1 s / e = 0.37 vs the exact plan's 42.5 s / e = 1.35 — an 8×
    // win at ×10 data that widens with every further scale step). The neighbor join is an
    // EQUI-join on (block, rank + k), k exploded 1..W — never a
    // range/theta join. W is the recall knob exactly like the ANN ball
    // radius, and recall is MEASURED, not hoped (graft.ScaleRecall;
    // BASELINE.md "fn_jaro_snm measured recall r12"): on the fixture's
    // pathologically self-similar TPC-H name space (63% of all within-
    // block pairs clear JW 0.93, so the top-100 ranks a razor-thin
    // margin over ~562k qualifying pairs at sf0.1) the top-100 recall
    // curve is W=10 → 0.62, 25 → 0.77, 50 → 0.90, 100 → 1.00 with cost
    // linear in W — production picks W from the recall SLA. The earlier
    // "recall 1.0 at sf1" claim was tie-saturated by ScaleGen's verbatim
    // name copies (10 copies/name fit exactly inside W=10) and is
    // corrected in the r12 BASELINE section. Small-fixture recall is
    // pinned in PrefixJoinSpec; the ground truth stays out of the
    // declared row because embedding the quadratic exact join would
    // re-import the very cost model this key exists to escape (a first
    // draft measured e = 1.12 / 44.7 s at sf1 for exactly that reason).
    // STAGE 0 (r12): exact-name dedup before the windows — one
    // representative (min custkey) per (block, name). A no-op on the
    // unique-name fixture (the oracle mirrors it, so the semantics stay
    // identical at every scale), but measured-essential under
    // duplication: at sf1's 10 verbatim copies/name the windows fill
    // with exact copies and crowd out near-name neighbors (entity
    // recall 0.37 → 0.05, graft.ScaleRecall), while dedup-first recall
    // is replication-INVARIANT (0.62 at W=10 at sf0.1/sf1/sf10 alike).
    // Exact-duplicate cliques link through their representative — the
    // same funnel order as llm_ingest_e2e stage 1.
    "fn_jaro_snm" -> Q(
      (s, dir) => {
        val reps = Tables.customer(s, dir)
          .groupBy(col("c_mktsegment"), col("c_nationkey"), col("c_name"))
          .agg(min(col("c_custkey")).as("c_custkey"))
        topPairs(snmScoredOf(reps))
      },
      Some("""WITH c0 AS (SELECT c_mktsegment, c_nationkey, c_name,
                                 MIN(c_custkey) AS c_custkey
                          FROM customer GROUP BY 1, 2, 3),
                   c AS (SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
                                reverse(c_name) AS rname
                         FROM c0),
                   p1 AS (SELECT c_mktsegment, c_nationkey, c_custkey, c_name,
                                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                                                    ORDER BY c_name, c_custkey) AS rn
                          FROM c),
                   p2 AS (SELECT c_mktsegment, c_nationkey, c_custkey, c_name,
                                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                                                    ORDER BY rname, c_custkey) AS rn
                          FROM c),
                   ks AS (SELECT unnest(generate_series(1, 10)) AS k),
                   cand AS (
                     SELECT LEAST(a.c_custkey, b.c_custkey) AS id_a,
                            GREATEST(a.c_custkey, b.c_custkey) AS id_b,
                            a.c_name AS name_a, b.c_name AS name_b
                     FROM p1 a CROSS JOIN ks JOIN p1 b
                       ON a.c_mktsegment = b.c_mktsegment
                      AND a.c_nationkey = b.c_nationkey
                      AND b.rn = a.rn + ks.k
                     UNION ALL
                     SELECT LEAST(a.c_custkey, b.c_custkey),
                            GREATEST(a.c_custkey, b.c_custkey),
                            a.c_name, b.c_name
                     FROM p2 a CROSS JOIN ks JOIN p2 b
                       ON a.c_mktsegment = b.c_mktsegment
                      AND a.c_nationkey = b.c_nationkey
                      AND b.rn = a.rn + ks.k),
                   top AS (
                     SELECT DISTINCT id_a, id_b,
                            round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
                     FROM cand
                     WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.93
                     ORDER BY jw DESC, id_a, id_b LIMIT 100)
              SELECT id_a, id_b, jw FROM top
              ORDER BY jw DESC, id_a, id_b""")),

    // The recall-SLA sibling (r12 VERDICT #1): SAME dedup-first SNM
    // kernel, W = 50 — the measured ≥ 0.9 point on the W-curve
    // (ScaleRecall: W=10/25/50/100 → 0.62/0.77/0.90/1.00, replication-
    // invariant across sf0.1/sf1/sf10). Cost stays linear (rows × 2W
    // comparisons; 5× fn_jaro_snm's candidate count, still nowhere near
    // the exact plan's Σ block²). fn_jaro_snm (W=10) remains declared as
    // the cheap point on the same curve — production picks W from the
    // recall SLA, and this key IS the ≥0.9-SLA pick.
    "fn_jaro_snm_w50" -> Q(
      (s, dir) => {
        val reps = Tables.customer(s, dir)
          .groupBy(col("c_mktsegment"), col("c_nationkey"), col("c_name"))
          .agg(min(col("c_custkey")).as("c_custkey"))
        topPairs(snmScoredOf(reps, 50))
      },
      Some("""WITH c0 AS (SELECT c_mktsegment, c_nationkey, c_name,
                                 MIN(c_custkey) AS c_custkey
                          FROM customer GROUP BY 1, 2, 3),
                   c AS (SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
                                reverse(c_name) AS rname
                         FROM c0),
                   p1 AS (SELECT c_mktsegment, c_nationkey, c_custkey, c_name,
                                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                                                    ORDER BY c_name, c_custkey) AS rn
                          FROM c),
                   p2 AS (SELECT c_mktsegment, c_nationkey, c_custkey, c_name,
                                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                                                    ORDER BY rname, c_custkey) AS rn
                          FROM c),
                   ks AS (SELECT unnest(generate_series(1, 50)) AS k),
                   cand AS (
                     SELECT LEAST(a.c_custkey, b.c_custkey) AS id_a,
                            GREATEST(a.c_custkey, b.c_custkey) AS id_b,
                            a.c_name AS name_a, b.c_name AS name_b
                     FROM p1 a CROSS JOIN ks JOIN p1 b
                       ON a.c_mktsegment = b.c_mktsegment
                      AND a.c_nationkey = b.c_nationkey
                      AND b.rn = a.rn + ks.k
                     UNION ALL
                     SELECT LEAST(a.c_custkey, b.c_custkey),
                            GREATEST(a.c_custkey, b.c_custkey),
                            a.c_name, b.c_name
                     FROM p2 a CROSS JOIN ks JOIN p2 b
                       ON a.c_mktsegment = b.c_mktsegment
                      AND a.c_nationkey = b.c_nationkey
                      AND b.rn = a.rn + ks.k),
                   top AS (
                     SELECT DISTINCT id_a, id_b,
                            round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
                     FROM cand
                     WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.93
                     ORDER BY jw DESC, id_a, id_b LIMIT 100)
              SELECT id_a, id_b, jw FROM top
              ORDER BY jw DESC, id_a, id_b""")),

    // Audience overlap: distinct users per event-type pair, WITHOUT a
    // user-level self-join — the corpus reduces to one row per user
    // (set of types they emitted), pairs explode in-row (≤ C(5,2) per
    // user), and a map-combined count finishes. The n² a naive
    // join-on-user would build never materializes; per-user work is
    // bounded by |types|², constant. Overlap ratios are exact integer
    // ratios rounded once.
    "q_audience_overlap" -> Q(
      (s, dir) => {
        val perUser = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(array_sort(collect_set(col("event_type"))).as("types"))
        val pairs = perUser.select(explode(expr(pairsE("types"))).as("pr"))
          .select(col("pr.a").as("type_a"), col("pr.b").as("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("n_both"))
        val totals = Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).as("n_users"))
        pairs
          .join(broadcast(totals.withColumnRenamed("event_type", "type_a")
                                .withColumnRenamed("n_users", "n_a")), Seq("type_a"))
          .join(broadcast(totals.withColumnRenamed("event_type", "type_b")
                                .withColumnRenamed("n_users", "n_b")), Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
                  (col("n_both").cast("decimal(18,6)") /
                   least(col("n_a"), col("n_b"))).cast("decimal(18,6)")
                    .cast("double").as("overlap"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH pu AS (SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
                          FROM events GROUP BY 1),
                   pr AS (SELECT t1.t AS type_a, t2.t AS type_b
                          FROM pu,
                               LATERAL (SELECT unnest(types) AS t) t1,
                               LATERAL (SELECT unnest(types) AS t) t2
                          WHERE t1.t < t2.t),
                   pc AS (SELECT type_a, type_b, COUNT(*) AS n_both
                          FROM pr GROUP BY 1, 2),
                   tt AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_users
                          FROM events GROUP BY 1)
              SELECT type_a, type_b, n_both, ta.n_users AS n_a, tb.n_users AS n_b,
                     CAST(CAST(CAST(n_both AS DECIMAL(18,6))
                               / LEAST(ta.n_users, tb.n_users) AS DECIMAL(18,6))
                          AS DOUBLE) AS overlap
              FROM pc JOIN tt ta ON pc.type_a = ta.event_type
                      JOIN tt tb ON pc.type_b = tb.event_type
              ORDER BY type_a, type_b""")),

    // Chi-square independence test of event_type × day-of-week — the
    // "is behavior time-dependent" screen. One map-combined corpus agg
    // reduces to ≤ |types|·7 cells; expected counts and the statistic
    // derive from integer marginals via the identity
    // (o−e)²/e = (o·N − r·c)² / (r·c·N), so every per-cell term is the
    // same rational-in-doubles expression on both engines (|o·N−r·c| <
    // 2^53 ⇒ the difference is exact; one rounding at 9 per term, then
    // an exact decimal sum).
    "q_chi2" -> Q(
      (s, dir) => {
        val all = Window.rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)
        val cells = Tables.events(s, dir)
          .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
          .agg(count(lit(1)).as("o"))
          .withColumn("r", sum(col("o")).over(Window.partitionBy(col("event_type"))))
          .withColumn("c", sum(col("o")).over(Window.partitionBy(col("dow"))))
          .withColumn("n", sum(col("o")).over(all))
        val dev = (col("o").cast("double") * col("n") -
                   col("r").cast("double") * col("c"))
        cells
          .withColumn("term", round(dev * dev /
            (col("r").cast("double") * col("c") * col("n")), 9))
          .agg(sum(col("term").cast("decimal(38,9)")).cast("double").as("chi2"),
               ((countDistinct(col("event_type")) - 1) *
                (countDistinct(col("dow")) - 1)).as("dof"),
               count(lit(1)).as("n_cells"))
      },
      Some("""WITH cells AS (
                SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow,
                       COUNT(*) AS o
                FROM events GROUP BY 1, 2),
                   m AS (
                SELECT event_type, dow, o,
                       SUM(o) OVER (PARTITION BY event_type) AS r,
                       SUM(o) OVER (PARTITION BY dow) AS c,
                       SUM(o) OVER () AS n
                FROM cells)
              SELECT CAST(SUM(CAST(round((CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                                         * (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                                         / (CAST(r AS DOUBLE) * c * n), 9)
                                   AS DECIMAL(38,9))) AS DOUBLE) AS chi2,
                     (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof,
                     COUNT(*) AS n_cells
              FROM m""")),

    // Zipf rank-frequency fit over the corpus vocabulary: slope of
    // ln(freq) ~ ln(rank) for the top-200 terms (a healthy natural-
    // language corpus sits near -1; flat slopes flag synthetic or
    // template-heavy data). Vocab reduces first (one corpus shuffle on
    // token); the rank window and the 200-row regression are free.
    "llm_zipf" -> Q(
      (s, dir) => {
        val freq = Tables.documents(s, dir)
          .selectExpr(s"explode($toksE) AS tok")
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        freq
          .select(col("n"),
                  row_number().over(Window.orderBy(col("n").desc, col("tok"))).as("rank"))
          .filter(col("rank") <= 200)
          .agg(round(expr("regr_slope(ln(n), ln(rank))"), 6).as("zipf_slope"),
               count(lit(1)).as("n_terms"))
      },
      Some(s"""WITH f AS (SELECT tok, COUNT(*) AS n
                         FROM (SELECT unnest($duckToks) AS tok
                               FROM documents)
                         WHERE length(tok) > 0 GROUP BY 1),
                   rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
                          FROM f QUALIFY rank <= 200)
              SELECT round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
                     COUNT(*) AS n_terms
              FROM rk""")),

    // Deterministic hash sampling: keep a row iff tid60(key) % 20 = 0 — a
    // reproducible ~5% sample that is a pure function of the row key, so
    // it is STABLE across runs, engines, partitionings, and re-ingests
    // (rand()-based TABLESAMPLE is none of these, and at 100 TB an
    // unstable sample poisons every downstream A/B of pipeline changes).
    // The filter is scan-pipelined codegen (tid60 kernel) ahead of the
    // aggregation shuffle, so the sample never materializes; per-flag
    // sums stay exact-decimal until the final cast, and the sampled
    // count rides along so consumers can compute the realized rate.
    "q_sample_hash" -> Q(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(expr("""tid60(concat(CAST(l_orderkey AS STRING), '-',
                                       CAST(l_linenumber AS STRING))) % 20 = 0"""))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_sampled"),
               H.dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_sampled,
                      ${H.oSum("l_extendedprice")} AS sum_price
               FROM lineitem
               WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                         CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
                     % 20 = 0
               GROUP BY l_returnflag
               ORDER BY l_returnflag""")),

    // Information gain of candidate decision-tree splits: for each
    // quantity threshold, how much the return-flag entropy drops when the
    // fact table is partitioned at it — the split-scoring primitive
    // behind tree induction and feature triage. The fact table reduces
    // ONCE to a |classes| x |distinct quantity| histogram (map-side
    // combined); every threshold is then scored from that tiny table (a
    // 4-way in-row explode, windows over <=8-row partitions), so adding
    // thresholds costs nothing at corpus scale. Entropy terms follow the
    // llm_entropy discipline: round the ln at 6, round the p*ln(p)
    // summand at 6, sum in exact decimal, negate, one cast to double.
    "q_info_gain" -> Q(
      (s, dir) => {
        val hist = Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag").as("cls"), col("l_quantity").as("q"))
          .agg(count(lit(1)).as("n"))
        val cnt = hist
          .select(col("cls"), col("q"), col("n"),
                  explode(expr("array(10.0D, 20.0D, 30.0D, 40.0D)")).as("thr"))
          .groupBy(col("thr"), (col("q") <= col("thr")).as("lft"), col("cls"))
          .agg(sum(col("n")).as("nc"))
        val wSide = Window.partitionBy(col("thr"), col("lft"))
        val hs = cnt
          .withColumn("ns", sum(col("nc")).over(wSide))
          .withColumn("term", round((col("nc") / col("ns"))
                                      * round(log(col("nc") / col("ns")), 6), 6))
          .groupBy(col("thr"), col("lft"))
          .agg(min(col("ns")).as("ns"),
               (-sum(col("term").cast("decimal(38,6)"))).cast("double").as("h"))
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing)
        val par = hist.groupBy(col("cls")).agg(sum(col("n")).as("nc"))
          .withColumn("nt", sum(col("nc")).over(wAll))
          .withColumn("term", round((col("nc") / col("nt"))
                                      * round(log(col("nc") / col("nt")), 6), 6))
          .groupBy(col("nt"))
          .agg((-sum(col("term").cast("decimal(38,6)"))).cast("double").as("h0"))
        hs.groupBy(col("thr"))
          .agg(sum(when(col("lft"), col("ns"))).as("n_left"),
               sum(when(!col("lft"), col("ns"))).as("n_right"),
               sum(when(col("lft"), col("h"))).as("h_left"),
               sum(when(!col("lft"), col("h"))).as("h_right"))
          .crossJoin(broadcast(par))
          .select(col("thr"), col("n_left"), col("n_right"),
                  round(col("h0") - (col("n_left") * col("h_left")
                                     + col("n_right") * col("h_right"))
                                    / col("nt"), 6).as("info_gain"))
          .orderBy(col("thr"))
      },
      Some("""WITH hist AS (SELECT l_returnflag AS cls, l_quantity AS q,
                                   COUNT(*) AS n
                            FROM lineitem GROUP BY 1, 2),
                   cnt AS (SELECT t.thr, h.q <= t.thr AS lft, h.cls,
                                  CAST(SUM(h.n) AS BIGINT) AS nc
                           FROM hist h
                           CROSS JOIN (SELECT CAST(unnest([10.0, 20.0, 30.0,
                                                           40.0]) AS DOUBLE)
                                         AS thr) t
                           GROUP BY 1, 2, 3),
                   sides AS (SELECT thr, lft, nc,
                                    SUM(nc) OVER (PARTITION BY thr, lft) AS ns
                             FROM cnt),
                   hs AS (SELECT thr, lft, CAST(MIN(ns) AS BIGINT) AS ns,
                                 CAST(-SUM(CAST(round((nc / ns)
                                        * round(ln(nc / ns), 6), 6)
                                        AS DECIMAL(38,6))) AS DOUBLE) AS h
                          FROM sides GROUP BY 1, 2),
                   par AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS nc,
                                  CAST(SUM(SUM(n)) OVER () AS BIGINT) AS nt
                           FROM hist GROUP BY 1),
                   h0 AS (SELECT MIN(nt) AS nt,
                                 CAST(-SUM(CAST(round((nc / nt)
                                        * round(ln(nc / nt), 6), 6)
                                        AS DECIMAL(38,6))) AS DOUBLE) AS h0
                          FROM par),
                   a AS (SELECT thr,
                                CAST(SUM(CASE WHEN lft THEN ns END)
                                     AS BIGINT) AS n_left,
                                CAST(SUM(CASE WHEN NOT lft THEN ns END)
                                     AS BIGINT) AS n_right,
                                SUM(CASE WHEN lft THEN h END) AS h_left,
                                SUM(CASE WHEN NOT lft THEN h END) AS h_right
                         FROM hs GROUP BY 1)
              SELECT a.thr, n_left, n_right,
                     round(h0.h0 - (n_left * h_left + n_right * h_right)
                                   / h0.nt, 6) AS info_gain
              FROM a, h0 ORDER BY a.thr"""))
  )
}
