package graft.operators

import graft.{H, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / cardinality trend operators: day-of-week seasonality,
  * month-over-month growth, event trigram motifs, an AMS-style
  * self-join-size estimate (the optimizer-statistics sketch, spelled so
  * both engines reproduce it bit-for-bit), and a zstd parquet codec
  * round-trip. Reduce-first throughout: windows only ever see
  * day/month/dow/sketch-row tables. */
object Trends {

  private val fixDir = graft.Fixtures.dir

  val qs: Seq[(String, Q)] = Seq(

    // Day-of-week seasonal index: avg daily revenue per DOW / overall
    // avg daily revenue. Two reduces (day, then dow) before any window;
    // the OVER () totals run on the 7-row dow table. Spark dayofweek is
    // 1=Sunday; DuckDB dayofweek is 0=Sunday — the oracle shifts by one.
    // All averages ride the H.davg decimal lane; the final index is one
    // double division of two identically-derived doubles, rounded at 6.
    "q_seasonal_idx" -> Q(
      (s, dir) => {
        val daily = Tables.lineitem(s, dir)
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                     .cast(H.D)).as("rev_d"))
        val dow = daily
          .groupBy(dayofweek(col("day")).as("dow"))
          .agg(count(lit(1)).as("n_days"), sum(col("rev_d")).as("srev"))
        val all = Window.rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)
        dow
          .select(col("dow"), col("n_days"),
                  (col("srev") / col("n_days")).cast(H.D).cast("double").as("avg_rev"),
                  (sum(col("srev")).over(all) / sum(col("n_days")).over(all))
                    .cast(H.D).cast("double").as("ovr"))
          .withColumn("seasonal_idx", round(col("avg_rev") / col("ovr"), 6))
          .drop("ovr")
          .orderBy(col("dow"))
      },
      Some("""WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                                SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                         AS DECIMAL(38,4))) AS rev_d
                         FROM lineitem GROUP BY 1),
                   w AS (SELECT dayofweek(day) + 1 AS dow, COUNT(*) AS n_days,
                                SUM(rev_d) AS srev
                         FROM d GROUP BY 1)
              SELECT dow, n_days,
                     CAST(CAST(srev / n_days AS DECIMAL(38,4)) AS DOUBLE) AS avg_rev,
                     round(CAST(CAST(srev / n_days AS DECIMAL(38,4)) AS DOUBLE)
                           / CAST(CAST(SUM(srev) OVER () / SUM(n_days) OVER ()
                                       AS DECIMAL(38,4)) AS DOUBLE), 6) AS seasonal_idx
              FROM w ORDER BY dow""")),

    // Classical additive decomposition of the daily revenue series:
    // trend = centered 7-day moving mean, seasonal = day-of-week mean of
    // the detrended series, residual = what's left — the three-lane
    // series view behind anomaly triage (is the spike trend, weekday, or
    // noise?). Orders reduce to the day table before the one ordered
    // window; the 7-row DOW profile broadcasts back. r14 hardening: the
    // old spelling divided DECIMALs and re-rounded to scale 4 on both
    // engines — at sf0.1 one dow mean landed on a rounding tie and the
    // engines split it differently (343 rows off by 1e-4). There is now
    // NO decimal division anywhere: every mean is kept as an exact
    // integer-scaled NUMERATOR (det x 420/cnt — 420 = lcm(4..7), the
    // only window counts the ±3 frame produces), decimal sums stay
    // associative/exact, and the single division per lane happens in
    // IEEE DOUBLE at emit, where both engines round identically.
    "q_seasonal_decompose" -> Q(
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(H.D)).as("revd"))
        val fr = Window.orderBy(col("day")).rowsBetween(-3, 3)
        val t = daily
          .withColumn("tnum", sum(col("revd")).over(fr))
          .withColumn("cnt", count(lit(1)).over(fr))
          .withColumn("dow", dayofweek(col("day")))
          .withColumn("dets", col("revd") * col("cnt") - col("tnum"))
        val seas = t.groupBy(col("dow"))
          .agg(sum(col("dets") * expr("420 div cnt")).as("snum"),
               count(lit(1)).as("n"))
        t.join(broadcast(seas), Seq("dow"))
          .select(col("day"), col("revd").cast("double").as("rev"),
                  (col("tnum").cast("double") / col("cnt")).as("trend"),
                  (col("snum").cast("double") / (col("n") * 420.0))
                    .as("seasonal"),
                  (col("dets").cast("double") / col("cnt") -
                   col("snum").cast("double") / (col("n") * 420.0))
                    .as("residual"))
          .orderBy(col("day"))
      },
      Some("""WITH d AS (SELECT date_trunc('day', o_orderdate) AS day,
                                SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                                  AS revd
                         FROM orders GROUP BY 1),
                   t AS (SELECT day, revd,
                                SUM(revd) OVER w AS tnum,
                                COUNT(*) OVER w AS cnt,
                                dayofweek(day) + 1 AS dow
                         FROM d
                         WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                      AND 3 FOLLOWING)),
                   t2 AS (SELECT day, revd, tnum, cnt, dow,
                                 revd * cnt - tnum AS dets FROM t),
                   s AS (SELECT dow, SUM(dets * (420 // cnt)) AS snum,
                                COUNT(*) AS n
                         FROM t2 GROUP BY 1)
              SELECT day, CAST(revd AS DOUBLE) AS rev,
                     CAST(tnum AS DOUBLE) / cnt AS trend,
                     CAST(snum AS DOUBLE) / (n * 420.0) AS seasonal,
                     CAST(dets AS DOUBLE) / cnt
                       - CAST(snum AS DOUBLE) / (n * 420.0) AS residual
              FROM t2 JOIN s USING (dow)
              ORDER BY day""")),

    // Month-over-month revenue growth: the fact table reduces to one row
    // per month; lag + ratio run single-partition over that ~84-row
    // series. Growth is a double ratio of two H.dsum doubles, round 6;
    // the first month's growth is NULL by construction.
    "q_growth_rate" -> Q(
      (s, dir) => {
        val monthly = Tables.lineitem(s, dir)
          .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("rev"))
        val w = Window.orderBy(col("month"))
        monthly
          .withColumn("prev", lag(col("rev"), 1).over(w))
          .withColumn("growth", round((col("rev") - col("prev")) / col("prev"), 6))
          .drop("prev")
          .orderBy(col("month"))
      },
      Some(s"""WITH m AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
                                 ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS rev
                          FROM lineitem GROUP BY 1)
               SELECT month, rev,
                      round((rev - LAG(rev) OVER (ORDER BY month))
                            / LAG(rev) OVER (ORDER BY month), 6) AS growth
               FROM m ORDER BY month""")),

    // Sparse-to-dense reporting grid: the (month × priority) matrix with
    // explicit zero rows for month/priority cells that saw no orders —
    // the densification step every report/forecast consumer needs
    // before it can difference or window the series. The spine
    // generates from the series' own bounds (one 1-row agg, broadcast);
    // the grid is |months|·|priorities| rows, joined LEFT against the
    // reduced actuals. Catalyst specializes the three orders scans
    // (bounds reads one column with min/max pushed past the group-by)
    // — each is a narrow dim-table scan, cheaper than forcing reuse of
    // the widest reduce.
    "q_densify" -> Q(
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .groupBy(col("o_orderpriority").as("prio"),
                   trunc(to_date(col("o_orderdate")), "month").as("month"))
          .agg(count(lit(1)).as("n"))
        val spine = m.agg(min(col("month")).as("mn"), max(col("month")).as("mx"))
          .selectExpr("explode(sequence(mn, mx, interval 1 month)) AS month")
        // prios/bounds derive from the REDUCED actuals — all three uses
        // share one groupBy subtree, so the orders scan replays as
        // ReusedExchange instead of re-reading the corpus
        val prios = m.select(col("prio")).distinct()
        spine.crossJoin(broadcast(prios))
          .join(m, Seq("month", "prio"), "left_outer")
          .select(col("month"), col("prio"),
                  coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("month"), col("prio"))
      },
      Some("""WITH m AS (SELECT o_orderpriority AS prio,
                                date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                                COUNT(*) AS n
                         FROM orders GROUP BY 1, 2),
                   bounds AS (SELECT MIN(month) AS mn, MAX(month) AS mx FROM m),
                   spine AS (SELECT unnest(generate_series(mn, mx,
                                                           INTERVAL 1 MONTH)) AS month
                             FROM bounds),
                   prios AS (SELECT DISTINCT prio FROM m)
              SELECT CAST(s.month AS DATE) AS month, p.prio AS prio,
                     COALESCE(n, 0) AS n
              FROM spine s CROSS JOIN prios p
              LEFT JOIN m ON m.month = CAST(s.month AS DATE) AND m.prio = p.prio
              ORDER BY month, prio""")),

    // Seasonal-naive forecast backtest: forecast(m) = revenue(m−12),
    // scored per month by absolute percentage error — the baseline every
    // real forecasting model must beat, and the eval-harness shape
    // (align by lag, score, report) any backtest uses. All on the
    // month-reduced series; APE is a double ratio of two H.dsum
    // doubles, rounded once.
    "q_backtest" -> Q(
      (s, dir) => {
        val monthly = Tables.lineitem(s, dir)
          .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("rev"))
        val w = Window.orderBy(col("month"))
        monthly
          .withColumn("fcst", lag(col("rev"), 12).over(w))
          .filter(col("fcst").isNotNull)
          .withColumn("ape", round(abs(col("rev") - col("fcst")) / col("rev"), 6))
          .orderBy(col("month"))
      },
      Some(s"""WITH m AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
                                 ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS rev
                          FROM lineitem GROUP BY 1),
                    f AS (SELECT month, rev,
                                 LAG(rev, 12) OVER (ORDER BY month) AS fcst
                          FROM m)
               SELECT month, rev, fcst,
                      round(abs(rev - fcst) / rev, 6) AS ape
               FROM f WHERE fcst IS NOT NULL
               ORDER BY month""")),

    // Top-20 behavioral trigram motifs: 3-step event-type paths per user
    // journey (lead ×2 inside the user_id window — one corpus shuffle),
    // counted globally. The journey-pattern miner funnels generalize.
    "q_motifs" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
                  col("event_type").as("e1"))
          .withColumn("e2", lead(col("e1"), 1).over(w))
          .withColumn("e3", lead(col("e1"), 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT event_type AS e1,
                                LEAD(event_type, 1) OVER w AS e2,
                                LEAD(event_type, 2) OVER w AS e3
                         FROM events
                         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT e1, e2, e3, COUNT(*) AS n
              FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
              GROUP BY 1, 2, 3
              ORDER BY n DESC, e1, e2, e3 LIMIT 20""")),

    // AMS-style self-join-size (second frequency moment) estimate — the
    // optimizer-statistics sketch: hash l_partkey into 4 independent
    // 8192-bucket rows (md5-derived, engine-portable), estimate
    // F2 = Σ cnt(k)² as min_i Σ_b cnt_i(b)² and compare with the exact
    // moment. Merging keys into buckets only ever raises Σ c² — the
    // estimate upper-bounds exactly; the (deterministic) within_3x
    // column records whether 4×8192 cells were enough at this SF. Cost:
    // the 4-row replicate is the only corpus expansion; every aggregate
    // is map-side combined, nothing ever materializes per-pair.
    // Simple exponential smoothing forecast (α = 0.5, an exact binary
    // fraction) over the daily revenue series, with one-step-ahead error
    // accounting: s_t = α·x_t + (1−α)·s_{t−1}, forecast_next = s_T, and
    // MAE of the t≥2 prediction errors x_t − s_{t−1} — the level-only
    // member of the forecasting family beside q_backtest's seasonal
    // naive. The recurrence is inherently sequential, so it runs as an
    // in-row left fold over the CALENDAR-bounded day array (the q_ewma
    // technique — ~2.4k elements regardless of corpus size; the corpus
    // itself reduces to the day table first). Both engines fold
    // identically: the element list is pre-shaped as (s, serr) structs so
    // DuckDB's first-element-seeded list_reduce and Spark's aggregate
    // seeded with element 1 run the same op sequence.
    "q_ses" -> Q(
      (s, dir) => {
        val day = Tables.orders(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(H.D)).cast("double").as("rev"))
        day.agg(array_sort(collect_list(struct(col("day"), col("rev"))))
                  .as("a"))
          .select(expr(
            """transform(a, x ->
                 named_struct('s', x.rev, 'serr', CAST(0.0 AS DOUBLE)))""")
            .as("b"))
          .select(size(col("b")).cast("bigint").as("n_days"),
                  expr("""aggregate(slice(b, 2, size(b) - 1),
                            element_at(b, 1),
                            (acc, x) -> named_struct(
                              's', acc.s * 0.5 + x.s * 0.5,
                              'serr', acc.serr + abs(x.s - acc.s)))""")
                    .as("r"))
          .select(col("n_days"),
                  round(col("r.s"), 6).as("forecast_next"),
                  round(col("r.serr") / (col("n_days") - 1), 6).as("mae"))
      },
      // (oracle is a RECURSIVE CTE, not list_reduce: DuckDB 1.0's
      // list_reduce evaluates every field of a struct_pack accumulator
      // to the FIRST field's expression — probed directly; the recursion
      // runs the same (s, serr) op sequence the Spark fold does)
      Some("""WITH RECURSIVE day AS (
                     SELECT date_trunc('day', o_orderdate) AS day,
                            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                                 AS DOUBLE) AS rev
                     FROM orders GROUP BY 1),
                   d AS (SELECT CAST(row_number() OVER (ORDER BY day)
                                     AS BIGINT) AS i, rev FROM day),
                   n AS (SELECT COUNT(*) AS n_days FROM d),
                   r AS (SELECT i, rev AS s, CAST(0.0 AS DOUBLE) AS serr
                         FROM d WHERE i = 1
                         UNION ALL
                         SELECT d.i, r.s * 0.5 + d.rev * 0.5,
                                r.serr + abs(d.rev - r.s)
                         FROM r JOIN d ON d.i = r.i + 1)
              SELECT n_days, round(s, 6) AS forecast_next,
                     round(serr / (n_days - 1), 6) AS mae
              FROM r, n WHERE i = n_days""")),

    // Holt double exponential smoothing (level + trend) over the same
    // daily revenue series — the forecast q_ses cannot make: SES is flat
    // beyond t+1, Holt extrapolates the damped-free linear trend to any
    // horizon (here t+1 and t+7). Same architecture as q_ses: the series
    // reduces to one row per day (map-side combined), collects once into
    // an in-row array, and the recurrence is a sequential `aggregate`
    // fold over a (level, trend, abs-err) struct — order-pinned by
    // construction, so the doubles are IEEE-identical to the oracle's
    // RECURSIVE CTE running the same parenthesized update (l' spelled
    // inline in the trend update on BOTH sides; list_reduce stays
    // unusable for struct accumulators per the q_ses probe). alpha=0.5,
    // beta=0.3, trend seeded at 0 so day 1 needs no lookahead.
    "q_holt" -> Q(
      (s, dir) => {
        val day = Tables.orders(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(H.D)).cast("double").as("rev"))
        day.agg(array_sort(collect_list(struct(col("day"), col("rev"))))
                  .as("a"))
          .select(expr("transform(a, x -> x.rev)").as("b"))
          .select(size(col("b")).cast("bigint").as("n_days"),
                  expr("""aggregate(slice(b, 2, size(b) - 1),
                            named_struct('l', element_at(b, 1),
                                         't', CAST(0.0 AS DOUBLE),
                                         'serr', CAST(0.0 AS DOUBLE)),
                            (acc, y) -> named_struct(
                              'l', 0.5 * y + 0.5 * (acc.l + acc.t),
                              't', 0.3 * (0.5 * y + 0.5 * (acc.l + acc.t)
                                          - acc.l) + 0.7 * acc.t,
                              'serr', acc.serr + abs(y - (acc.l + acc.t))))""")
                    .as("r"))
          .select(col("n_days"),
                  round(col("r.l") + col("r.t"), 6).as("forecast_1"),
                  round(col("r.l") + lit(7) * col("r.t"), 6).as("forecast_7"),
                  round(col("r.serr") / (col("n_days") - 1), 6).as("mae"))
      },
      Some("""WITH RECURSIVE day AS (
                     SELECT date_trunc('day', o_orderdate) AS day,
                            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                                 AS DOUBLE) AS rev
                     FROM orders GROUP BY 1),
                   d AS (SELECT CAST(row_number() OVER (ORDER BY day)
                                     AS BIGINT) AS i, rev FROM day),
                   n AS (SELECT COUNT(*) AS n_days FROM d),
                   r AS (SELECT i, rev AS l, CAST(0.0 AS DOUBLE) AS t,
                                CAST(0.0 AS DOUBLE) AS serr
                         FROM d WHERE i = 1
                         UNION ALL
                         SELECT d.i,
                                0.5 * d.rev + 0.5 * (r.l + r.t),
                                0.3 * (0.5 * d.rev + 0.5 * (r.l + r.t)
                                       - r.l) + 0.7 * r.t,
                                r.serr + abs(d.rev - (r.l + r.t))
                         FROM r JOIN d ON d.i = r.i + 1)
              SELECT n_days, round(l + t, 6) AS forecast_1,
                     round(l + 7 * t, 6) AS forecast_7,
                     round(serr / (n_days - 1), 6) AS mae
              FROM r, n WHERE i = n_days""")),

    // Holt-Winters additive triple smoothing (level + trend + 7-day
    // season) — the full classical-forecasting ladder above q_ses and
    // q_holt. The seasonal state is a rotating 7-slot array carried
    // INSIDE the fold accumulator: each step reads slot 1 (the value
    // from one season ago), then appends the refreshed index to the
    // tail — so the recurrence stays a single sequential pass in both
    // engines (Spark in-row `aggregate`; DuckDB recursive CTE carrying
    // a LIST column), with the level update spelled inline inside the
    // trend and season updates exactly as q_holt pins. alpha=0.5,
    // beta=0.3, gamma=0.25; seasons seed at 0 so no lookahead.
    // Alignment invariant: after processing day T, slot 1 holds
    // s_{T-6} — exactly the season index day T+1 needs (T+1 minus one
    // 7-day season) — so the t+1 forecast is l + t + seas[1] with no
    // extra rotation.
    "q_holt_winters" -> Q(
      (s, dir) => {
        val day = Tables.orders(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(H.D)).cast("double").as("rev"))
        day.agg(array_sort(collect_list(struct(col("day"), col("rev"))))
                  .as("a"))
          .select(expr("transform(a, x -> x.rev)").as("b"))
          .select(size(col("b")).cast("bigint").as("n_days"),
                  expr("""aggregate(slice(b, 2, size(b) - 1),
                            named_struct('l', element_at(b, 1),
                                         't', CAST(0.0 AS DOUBLE),
                                         'seas', array_repeat(CAST(0.0 AS DOUBLE), 7),
                                         'serr', CAST(0.0 AS DOUBLE)),
                            (acc, y) -> named_struct(
                              'l', 0.5 * (y - element_at(acc.seas, 1))
                                   + 0.5 * (acc.l + acc.t),
                              't', 0.3 * (0.5 * (y - element_at(acc.seas, 1))
                                          + 0.5 * (acc.l + acc.t) - acc.l)
                                   + 0.7 * acc.t,
                              'seas', concat(slice(acc.seas, 2, 6),
                                array(0.25 * (y - (0.5 * (y - element_at(acc.seas, 1))
                                                   + 0.5 * (acc.l + acc.t)))
                                      + 0.75 * element_at(acc.seas, 1))),
                              'serr', acc.serr + abs(y - (acc.l + acc.t
                                        + element_at(acc.seas, 1)))))""")
                    .as("r"))
          .select(col("n_days"),
                  round(col("r.l") + col("r.t")
                          + expr("element_at(r.seas, 1)"), 6).as("forecast_1"),
                  round(col("r.serr") / (col("n_days") - 1), 6).as("mae"))
      },
      Some("""WITH RECURSIVE day AS (
                     SELECT date_trunc('day', o_orderdate) AS day,
                            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                                 AS DOUBLE) AS rev
                     FROM orders GROUP BY 1),
                   d AS (SELECT CAST(row_number() OVER (ORDER BY day)
                                     AS BIGINT) AS i, rev FROM day),
                   n AS (SELECT COUNT(*) AS n_days FROM d),
                   r AS (SELECT i, rev AS l, CAST(0.0 AS DOUBLE) AS t,
                                [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0,
                                 0.0, 0.0, 0.0] AS seas,
                                CAST(0.0 AS DOUBLE) AS serr
                         FROM d WHERE i = 1
                         UNION ALL
                         SELECT d.i,
                                0.5 * (d.rev - r.seas[1])
                                  + 0.5 * (r.l + r.t),
                                0.3 * (0.5 * (d.rev - r.seas[1])
                                       + 0.5 * (r.l + r.t) - r.l)
                                  + 0.7 * r.t,
                                list_concat(r.seas[2:7],
                                  [0.25 * (d.rev - (0.5 * (d.rev - r.seas[1])
                                                    + 0.5 * (r.l + r.t)))
                                   + 0.75 * r.seas[1]]),
                                r.serr + abs(d.rev - (r.l + r.t + r.seas[1]))
                         FROM r JOIN d ON d.i = r.i + 1)
              SELECT n_days,
                     round(l + t + seas[1], 6) AS forecast_1,
                     round(serr / (n_days - 1), 6) AS mae
              FROM r, n WHERE i = n_days""")),

    // CUSUM changepoint detection on the daily revenue series — the
    // classic regime-shift locator: cumulative deviations from the global
    // mean peak (in absolute value) exactly where the level shifts. All
    // arithmetic stays in DECIMAL(38,4) (the H.D lane: deviations,
    // prefix sums, the peak comparison — unscaled values stay far under
    // 2^53, the scale-6 double-rounding trap q_rolling_corr documented),
    // so the flag is an exact-decimal equality, identical per engine.
    // Reduce-first: orders collapse to the day table before the one
    // ordered window; emit casts to DOUBLE last.
    "q_changepoint" -> Q(
      (s, dir) => {
        val day = Tables.orders(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(H.D)).as("revd"))
        val mu = day.agg((sum(col("revd")) / count(lit(1)))
                           .cast(H.D).as("mu"))
        val ord = Window.orderBy(col("day"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = ord.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
        day.crossJoin(broadcast(mu))
          .withColumn("cusum", sum(col("revd") - col("mu")).over(cum))
          .withColumn("is_changepoint",
            abs(col("cusum")) === max(abs(col("cusum"))).over(all))
          .select(col("day"), col("revd").cast("double").as("rev"),
                  col("cusum").cast("double").as("cusum"),
                  col("is_changepoint"))
          .orderBy(col("day"))
      },
      Some("""WITH day AS (SELECT date_trunc('day', o_orderdate) AS day,
                                  SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                                    AS revd
                           FROM orders GROUP BY 1),
                   tot AS (SELECT CAST(SUM(revd) / COUNT(*) AS DECIMAL(38,4))
                             AS mu FROM day),
                   c AS (SELECT day, revd,
                                SUM(revd - mu) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND
                                  CURRENT ROW) AS cusum
                         FROM day, tot)
              SELECT day, CAST(revd AS DOUBLE) AS rev,
                     CAST(cusum AS DOUBLE) AS cusum,
                     abs(cusum) = MAX(abs(cusum)) OVER () AS is_changepoint
              FROM c ORDER BY day""")),

    // Kaplan–Meier survival curve over customer lifetimes with right
    // censoring — the survival-analysis estimator (churn curves, content
    // half-life) the retention matrix can't express: lifetime = days
    // between a customer's first and last order, censored (event=0) when
    // the last order falls inside the final 90 days (still active, fate
    // unknown). KM: S(t) = Π_{u≤t} (1 − d_u/n_u) with d = events at u,
    // n = at-risk (lifetime ≥ u, censored included). Engine shape: the
    // corpus reduces to one row per customer, then per-lifetime counts —
    // every window (at-risk suffix sum, log-survival prefix sum) runs
    // over the distinct-lifetime table, days-sized, never the orders.
    // Numeric parity: the product runs in log space — per-term
    // round(ln, 6) (libm ulp), DECIMAL(38,6) running sum (exact), one
    // round(exp, 6) at the end (the q_decay_sum precedent); suffix-sum
    // BIGINTs cast before emitting (DuckDB window SUM → HUGEINT). A
    // whole-cohort death at the final lifetime would make ln(0) = −∞, so
    // that row (and everything after) pins S = 0 via the zcum flag
    // instead of arithmetic on infinities.
    "q_survival" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val ref = o.agg(max(col("o_orderdate")).as("refd"))
        val cust = o.groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("first_d"),
               max(col("o_orderdate")).as("last_d"))
          .crossJoin(broadcast(ref))
          .select(datediff(col("last_d"), col("first_d")).as("t"),
                  when(datediff(col("refd"), col("last_d")) < 90, 0L)
                    .otherwise(1L).as("event"))
        val byT = cust.groupBy(col("t"))
          .agg(count(lit(1)).as("n_total"), sum(col("event")).as("d"))
        val wRisk = Window.orderBy(col("t"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wCum = Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT
          .withColumn("n_at_risk", sum(col("n_total")).over(wRisk))
          .withColumn("term",
            when(col("d") < col("n_at_risk"),
              round(log(lit(1.0) -
                col("d").cast("double") / col("n_at_risk")), 6))
              .otherwise(lit(0.0)))
          .withColumn("z", when(col("d") === col("n_at_risk"), 1L)
                             .otherwise(0L))
          .withColumn("zcum", sum(col("z")).over(wCum))
          .withColumn("survival",
            when(col("zcum") > 0, lit(0.0))
              .otherwise(round(exp(
                sum(col("term").cast("decimal(38,6)")).over(wCum)
                  .cast("double")), 6)))
          .select(col("t"), col("n_at_risk"), col("d").as("n_events"),
                  (col("n_total") - col("d")).as("n_censored"),
                  col("survival"))
          .orderBy(col("t"))
      },
      Some("""WITH r AS (SELECT MAX(o_orderdate) AS refd FROM orders),
                   c AS (SELECT o_custkey,
                                date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                                          CAST(MAX(o_orderdate) AS DATE)) AS t,
                                CASE WHEN date_diff('day',
                                            CAST(MAX(o_orderdate) AS DATE),
                                            CAST(MIN(refd) AS DATE)) < 90
                                     THEN 0 ELSE 1 END AS event
                         FROM orders, r GROUP BY o_custkey),
                   bt AS (SELECT t, COUNT(*) AS n_total,
                                 CAST(SUM(event) AS BIGINT) AS d
                          FROM c GROUP BY 1),
                   k AS (SELECT t, n_total, d,
                                CAST(SUM(n_total) OVER (ORDER BY t
                                       ROWS BETWEEN CURRENT ROW AND
                                       UNBOUNDED FOLLOWING) AS BIGINT)
                                  AS n_at_risk
                         FROM bt),
                   j AS (SELECT t, n_total, d, n_at_risk,
                                CASE WHEN d < n_at_risk
                                     THEN round(ln(1.0 - CAST(d AS DOUBLE)
                                                        / n_at_risk), 6)
                                     ELSE 0.0 END AS term,
                                CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS z
                         FROM k)
               SELECT t, n_at_risk, d AS n_events,
                      n_total - d AS n_censored,
                      CASE WHEN CAST(SUM(z) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) > 0 THEN 0.0
                           ELSE round(exp(CAST(SUM(CAST(term AS DECIMAL(38,6)))
                                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                        PRECEDING AND CURRENT ROW)
                                  AS DOUBLE)), 6) END AS survival
               FROM j
               ORDER BY t""")),

    "q_f2_moment" -> Q(
      (s, dir) => {
        val keys = Tables.lineitem(s, dir).select(col("l_partkey"))
        val exact = keys.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).as("exact"))
        val est = keys
          .select(col("l_partkey"), explode(lit(Array(0, 1, 2, 3))).as("i"))
          .select(col("i"), expr(
            "tid60(concat(CAST(i AS STRING), ':', CAST(l_partkey AS STRING))) % 8192")
            .as("b"))
          .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
          .groupBy(col("i")).agg(sum(col("c") * col("c")).as("est_i"))
          .agg(min(col("est_i")).as("est"))
        exact.crossJoin(est)
          .withColumn("within_3x", col("est") >= col("exact") &&
                                   col("est") <= col("exact") * 3)
      },
      Some("""WITH k AS (SELECT l_partkey FROM lineitem),
                   e AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact
                         FROM (SELECT COUNT(*) AS c FROM k GROUP BY l_partkey)),
                   h AS (SELECT i,
                                ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                                   CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 8192 AS b
                         FROM k, (SELECT unnest([0, 1, 2, 3]) AS i) ii),
                   s AS (SELECT i, CAST(SUM(c * c) AS BIGINT) AS est_i
                         FROM (SELECT i, b, COUNT(*) AS c FROM h GROUP BY 1, 2)
                         GROUP BY 1),
                   m AS (SELECT MIN(est_i) AS est FROM s)
              SELECT exact, est,
                     est >= exact AND est <= exact * 3 AS within_3x
              FROM e, m""")),

    // Fulfillment lead time: ship-date minus order-date distribution per
    // order priority — the ops-latency report. One fact⋈fact join on the
    // orderkey FK (orders side projected to two columns), then a
    // group-reduced stats row per priority: exact-decimal mean, exact
    // discrete p50/p90 at the round-6 percentile grain (the
    // q_anomaly_mad parity convention).
    "q_lead_time" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
                                             col("o_orderpriority"))
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("delay", datediff(col("l_shipdate"), col("o_orderdate")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
               (sum(col("delay").cast(H.D)) / count(lit(1))).cast(H.D)
                 .cast("double").as("avg_delay"),
               round(expr("percentile(delay, 0.5)"), 6).as("p50"),
               round(expr("percentile(delay, 0.9)"), 6).as("p90"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
                      ${H.oAvg("date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))")}
                        AS avg_delay,
                      round(quantile_cont(date_diff('day', CAST(o_orderdate AS DATE),
                                                    CAST(l_shipdate AS DATE)), 0.5), 6) AS p50,
                      round(quantile_cont(date_diff('day', CAST(o_orderdate AS DATE),
                                                    CAST(l_shipdate AS DATE)), 0.9), 6) AS p90
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q3 shape (shipping priority): the 3-table
    // customer⋈orders⋈lineitem pipeline with selective filters on both
    // ends. Catalyst order: the filtered customer dim broadcasts into
    // orders, the surviving orders broadcast into the lineitem scan —
    // the fact table is never shuffled; one agg exchange on the
    // (orderkey, date, priority) group; top-10 via TakeOrdered.
    "q_tpch_q3" -> Q(
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1997-06-15"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit("1997-06-15"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                      ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
               FROM customer, orders, lineitem
               WHERE c_mktsegment = 'BUILDING'
                 AND c_custkey = o_custkey AND l_orderkey = o_orderkey
                 AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
                 AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
               GROUP BY 1, 2
               ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // TPC-H Q5 shape (local-supplier volume): the 6-table star-with-
    // snowflake join. All four dims (supplier, customer, nation, region)
    // reduce to broadcastable sizes after their filters; the only
    // corpus-sized work is the lineitem⋈orders hash join and one agg
    // exchange on n_name. The c_nationkey = s_nationkey "local" clause
    // rides the joined row, not an extra join.
    "q_tpch_q5" -> Q(
      (s, dir) => {
        val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        val nation = Tables.nation(s, dir)
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val supp = Tables.supplier(s, dir)
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
                  col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"),
                  col("l_extendedprice"), col("l_discount"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
                                 col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
                      ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
               FROM customer, orders, lineitem, supplier, nation, region
               WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                 AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                 AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                 AND r_name = 'ASIA'
                 AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
               GROUP BY 1 ORDER BY revenue DESC, n_name""")),

    // TPC-H Q10 shape (returned-item reporting): which customers sent
    // the most revenue back this quarter. The quarter filter prunes
    // orders first; the returnflag filter prunes lineitem at the scan
    // (both reach PushedFilters); nation broadcasts into customer. The
    // customer dim is explicitly broadcast here because the grouping key
    // IS the customer — at a scale where customer itself stops being
    // broadcastable this becomes a shuffle join on o_custkey, and the
    // plan degrades gracefully (AQE picks it) rather than wrongly.
    // Top-20 via TakeOrdered; revenue in the exact-decimal lane.
    "q_tpch_q10" -> Q(
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-10-01") &&
                  col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val cust = Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)
                  .select(col("n_nationkey"), col("n_name"))),
                col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
                      ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
               FROM customer, orders, lineitem, nation
               WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                 AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                 AND l_returnflag = 'R' AND c_nationkey = n_nationkey
               GROUP BY 1, 2, 3, 4
               ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q1 shape (pricing summary report): the canonical full-scan
    // aggregation — one predicate that reaches PushedFilters, then a
    // map-side-combined agg onto the 6-ish (returnflag, linestatus)
    // groups. No join, no window: at 100 TB this is the pure
    // scan-throughput benchmark, and the plan is a single exchange of 6
    // partially-aggregated rows per task. All sums and averages ride the
    // exact-decimal lane (H.dsum/H.davg). charge (the three-factor
    // product) goes FULLY exact: each 2-decimal factor casts to a
    // scale-2 decimal before multiplying — dec(9,2)·dec(9,2) → dec(19,4),
    // ·dec(18,2) → dec(38,6), all loss-free — because the double product
    // rounds differently per engine at a scale-4 cast (measured: 6
    // boundary rows in 32 k flipped the sum's 4th decimal). The sum then
    // casts STRAIGHT to double with no rescale: a scale-6 rescale-to-4
    // is also unsafe (measured here: DuckDB TRUNCATES decimal downscale
    // where Spark rounds HALF_UP — .44579 → .4457 vs .4458), and the
    // scale-6 unscaled sum stays under 2^53 so the final decimal→double
    // conversion is the same single correctly-rounded division in both
    // engines (the H scale-4 argument, one digit deeper).
    "q_tpch_q1" -> Q(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(H.dsum(col("l_quantity")).as("sum_qty"),
               H.dsum(col("l_extendedprice")).as("sum_base_price"),
               H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("sum_disc_price"),
               sum(col("l_extendedprice").cast("decimal(18,2)") *
                     ((lit(1.0) - col("l_discount")).cast("decimal(9,2)") *
                      (lit(1.0) + col("l_tax")).cast("decimal(9,2)")))
                 .cast("double").as("sum_charge"),
               H.davg(col("l_quantity")).as("avg_qty"),
               H.davg(col("l_extendedprice")).as("avg_price"),
               H.davg(col("l_discount")).as("avg_disc"),
               count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
                      ${H.oSum("l_quantity")} AS sum_qty,
                      ${H.oSum("l_extendedprice")} AS sum_base_price,
                      ${H.oSum("(l_extendedprice * (1.0 - l_discount))")} AS sum_disc_price,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                               (CAST(1.0 - l_discount AS DECIMAL(9,2)) *
                                CAST(1.0 + l_tax AS DECIMAL(9,2))))
                           AS DOUBLE) AS sum_charge,
                      ${H.oAvg("l_quantity")} AS avg_qty,
                      ${H.oAvg("l_extendedprice")} AS avg_price,
                      ${H.oAvg("l_discount")} AS avg_disc,
                      COUNT(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
               GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TPC-H Q6 shape (forecasting revenue change): the pure
    // predicate-pushdown benchmark — three range filters, no grouping,
    // one global sum. All three predicates must reach PushedFilters
    // (plan-audited); the aggregate is a single exact-decimal reduce to
    // one row, so the whole query is scan throughput at any scale.
    "q_tpch_q6" -> Q(
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
                col("l_shipdate") < lit("1997-01-01") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24.0)
        .agg(H.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
             count(lit(1)).as("n_rows"))
      ,
      Some(s"""SELECT ${H.oSum("l_extendedprice * l_discount")} AS revenue,
                      COUNT(*) AS n_rows
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                 AND l_discount >= 0.05 AND l_discount <= 0.07
                 AND l_quantity < 24.0""")),

    // TPC-H Q19 shape (discounted revenue, promo parts), adapted to the
    // fixture's columns (no p_container/l_shipmode in the driver data —
    // brand/size/quantity carry the same structure): the OR-of-ANDs
    // predicate benchmark. The three disjunct groups share the join key,
    // so Catalyst extracts the common l_partkey equi-join and pushes the
    // partial disjuncts (p_brand IN (...), p_size <= 35, l_quantity
    // ranges) below the join into both scans — the plan every
    // brand-promotion query needs at lake scale, where a naive OR would
    // block all pushdown and scan everything into the join.
    "q_tpch_q19" -> Q(
      (s, dir) => {
        val p = Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        Tables.lineitem(s, dir)
          .join(p, col("l_partkey") === col("p_partkey"))
          .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 15)
                     && col("l_quantity").between(1, 11)) ||
                  (col("p_brand") === "Brand#2" && col("p_size").between(1, 25)
                     && col("l_quantity").between(10, 20)) ||
                  (col("p_brand") === "Brand#3" && col("p_size").between(1, 35)
                     && col("l_quantity").between(20, 30)))
          .agg(H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("revenue"),
               count(lit(1)).as("n_rows"))
      },
      Some(s"""SELECT ${H.oSum("l_extendedprice * (1.0 - l_discount)")}
                        AS revenue,
                      COUNT(*) AS n_rows
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 1 AND 11)
                  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                      AND l_quantity BETWEEN 10 AND 20)
                  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                      AND l_quantity BETWEEN 20 AND 30)""")),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity clears a HAVING threshold, re-joined to their lines and
    // buyer. The scalable shape: the inner groupBy(l_orderkey) is
    // map-side combined and the HAVING keeps a tiny key set (46 of 15 k
    // orders at sf0.01), so the surviving keys SEMI-join back into the
    // fact scan as a broadcast — lineitem is scanned twice but shuffled
    // only once (the inner agg); the outer re-agg groups only surviving
    // orders. Customer broadcasts. Top-100 via TakeOrdered on
    // (o_totalprice desc, o_orderkey).
    "q_tpch_q18" -> Q(
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast(H.D)).as("sq"))
          .filter(col("sq") > 300).select(col("l_orderkey").as("bk"))
        val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
        Tables.orders(s, dir)
          .join(broadcast(big), col("o_orderkey") === col("bk"), "left_semi")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
                   to_date(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"))
          .agg(H.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT c_name, c_custkey, o_orderkey,
                      CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
                      ${H.oSum("l_quantity")} AS sum_qty
               FROM customer, orders, lineitem
               WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                    GROUP BY 1
                                    HAVING SUM(CAST(l_quantity AS DECIMAL(38,4))) > 300)
                 AND c_custkey = o_custkey AND o_orderkey = l_orderkey
               GROUP BY 1, 2, 3, 4, 5
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // TPC-H Q14 shape (promotion effect): the month's revenue share of
    // PROMO-type parts. One pushed-down month scan of the fact, one
    // fact-dim equi-join on partkey (broadcast at fixture scale; at
    // 100 TB both sides are partkey-shuffled, still one linear join),
    // two exact-decimal conditional sums in a single agg pass. The
    // percentage is ONE double division over the two decimal-exact
    // operands (plus one multiply), so the final round(6) sits on a
    // deterministic scalar chain — no decimal division anywhere (Spark
    // and DuckDB disagree on result-scale rules for decimal ÷ decimal).
    "q_tpch_q14" -> Q(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-03-01") &&
                  col("l_shipdate") < lit("1996-04-01"))
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
        li.join(p, col("l_partkey") === col("p_partkey"))
          .agg(
            H.dsum(when(col("p_type") === "PROMO",
                        col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                     .otherwise(lit(0.0))).as("promo_rev"),
            H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("total_rev"),
            count(lit(1)).as("n_rows"))
          .withColumn("promo_pct",
            round(lit(100.0) * col("promo_rev") / col("total_rev"), 6))
      },
      Some(s"""WITH a AS (
                 SELECT ${H.oSum("""CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1.0 - l_discount)
                            ELSE 0.0 END""")} AS promo_rev,
                        ${H.oSum("l_extendedprice * (1.0 - l_discount)")}
                          AS total_rev,
                        COUNT(*) AS n_rows
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
               SELECT promo_rev, total_rev, n_rows,
                      round(100.0 * promo_rev / total_rev, 6) AS promo_pct
               FROM a""")),

    // TPC-H Q17 shape (small-quantity-order revenue), adapted to the
    // fixture schema (brand filter only — the fixture part table has no
    // container column): yearly revenue lost if Brand#12 orders below
    // 20% of their part's average quantity stopped shipping. The
    // correlated scalar subquery decorrelates into a per-part aggregate
    // joined back — the brand filter shrinks both sides FIRST (broadcast
    // semi at any scale: the brand slice of `part` is dim-sized), the
    // per-part avg is map-side combined, and the threshold join keys on
    // partkey, co-partitioned with the agg's own shuffle. The threshold
    // compare rides one rounded decimal→double + one multiply — exact
    // boundary determinism both engines.
    "q_tpch_q17" -> Q(
      (s, dir) => {
        val bp = Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#12")
          .select(col("p_partkey"))
        val li = Tables.lineitem(s, dir)
          .join(broadcast(bp), col("l_partkey") === col("p_partkey"), "left_semi")
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        val thr = li.groupBy(col("l_partkey"))
          .agg((sum(col("l_quantity").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("avg_qty"))
          .select(col("l_partkey").as("t_partkey"), col("avg_qty"))
        li.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg((H.dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
               count(lit(1)).as("n_rows"))
          .select(round(col("avg_yearly"), 6).as("avg_yearly"), col("n_rows"))
      },
      Some(s"""WITH bp AS (SELECT p_partkey FROM part
                           WHERE p_brand = 'Brand#12'),
                li AS (SELECT l_partkey, l_quantity, l_extendedprice
                       FROM lineitem SEMI JOIN bp ON l_partkey = p_partkey),
                thr AS (SELECT l_partkey AS t_partkey,
                               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                                         / COUNT(*) AS DECIMAL(38,6))
                                    AS DOUBLE) AS avg_qty
                        FROM li GROUP BY 1)
               SELECT round(${H.oSum("l_extendedprice")} / 7.0, 6) AS avg_yearly,
                      COUNT(*) AS n_rows
               FROM li JOIN thr ON l_partkey = t_partkey
               WHERE l_quantity < 0.2 * avg_qty""")),

    // Parquet zstd codec round-trip: the storage-efficiency path a 100 TB
    // lake actually runs (zstd ≈ 30-50% smaller than snappy at similar
    // scan speed). Write-with-codec + read-back + aggregate must be
    // byte-faithful; the oracle aggregates the source directly.
    "snk_parquet_zstd" -> Q(
      (s, dir) => {
        val out = s"$fixDir/lineitem_zstd"
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"),
                  col("l_discount"))
          .write.mode("overwrite").option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
               H.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                 .as("rev"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
                      ${H.oSum("l_extendedprice * (1.0 - l_discount)")} AS rev
               FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Parquet bloom-filter sink: point-lookup layout for a high-NDV key.
    // Row-group zone maps (min/max) prune RANGE predicates but are
    // useless for `l_orderkey = ?` on data that isn't sorted by it —
    // the bloom filter is the structure that lets a reader skip row
    // groups on equality probes at a few bits per value, which at 100 TB
    // is the difference between touching every row group of a lake and
    // touching the one that might match. Declared output is the faithful
    // round-trip aggregate (the sink contract); TrendsSpec additionally
    // opens the parquet footer and asserts the bloom header really is
    // attached to l_orderkey and that an equality probe still returns
    // exactly its rows through the filtered scan.
    "snk_parquet_bloom" -> Q(
      (s, dir) => {
        val out = s"$fixDir/lineitem_bloom"
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
          // parquet-mr silently SKIPS the bloom for fully
          // dictionary-encoded column chunks (the dictionary already
          // answers membership exactly); the small fixtures
          // dictionary-encode l_orderkey wholesale, so the filter only
          // materializes if dictionary encoding is off for this column —
          // at lake scale a 200k-NDV key falls out of the dictionary on
          // its own and this toggle becomes a no-op.
          .option("parquet.enable.dictionary#l_orderkey", "false")
          .parquet(out)
        s.read.parquet(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), H.dsum(col("l_quantity")).as("qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
                      ${H.oSum("l_quantity")} AS qty
               FROM lineitem GROUP BY 1 ORDER BY 1"""))
  )
}
