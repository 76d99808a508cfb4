package graft.llm

import graft.{Q, Tables}
import graft.llm.TextRules.{duckToks, toksE}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** Round-11 distributed-training operators: the two pipeline shapes a
  * quality-classifier team runs over the corpus itself.
  *
  *  - `llm_logreg_train`: full-batch logistic-regression training by
  *    broadcast-model / aggregate-gradient — the parameter-server-free
  *    distributed-GD pattern. The MODEL (4 weights) lives on the driver
  *    and re-enters each round as literals in a single codegen'd
  *    projection; the GRADIENT is one `groupBy().agg(sum(...))` whose
  *    partial aggregation combines map-side, so each round moves
  *    O(partitions × 5) numbers over the wire regardless of corpus
  *    size. Three rounds = three scans (at 100 TB the featurized
  *    projection would be a written stage; here the feature build is a
  *    scan-pipelined projection and the fixture read is the cheap part).
  *
  *  - `llm_kl_corpus_shift`: per-source token-distribution drift vs the
  *    whole corpus as smoothed KL in BOTH directions, computed over a
  *    FIXED-width hashed vocabulary sketch (tid60 % 4096, the dsir
  *    bucketing). The only corpus-sized shuffle is the (source, bucket)
  *    count aggregation — everything after is arithmetic on ≤ 4096×
  *    n_sources rows, so the monitor's cost is flat in vocabulary and
  *    corpus size. This is the nightly drift report a curation pipeline
  *    runs between crawl snapshots.
  *
  * Hash parity follows the repo's pinned discipline (Q.scala): exact
  * decimal feature arithmetic, transcendentals on doubles rounded ONCE
  * at scale 6 (deterministic IEEE, identical libm results — the
  * Signals/dsir precedent), decimal-lane sums, one terminal cast to
  * DOUBLE spelled identically in the DuckDB twin. */
object Training {

  /** Featurized corpus: label = "is this document English" (the
    * fasttext-langid-lite shape), features = the three proven exact-
    * decimal surface statistics from the Signals logistic model. */
  private def features(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksE))
      .select(
        col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        expr("""CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300,
                           CAST(1.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))""")
          .as("x_len"),
        expr("""CAST(CAST(size(filter(toks, t ->
                       t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                     AS DECIMAL(18,6)) / size(toks) AS DECIMAL(18,6))""")
          .as("x_stop"),
        expr("""CAST(CAST(size(array_distinct(toks)) AS DECIMAL(18,6))
                     / size(toks) AS DECIMAL(18,6))""").as("x_ttr"))

  /** DuckDB spelling of [[features]] (CTE body). */
  private val duckFeatures: String =
    s"""f AS (SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300,
                                CAST(1.0 AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS x_len,
                     CAST(CAST(len(list_filter($duckToks, t ->
                            t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                          AS DECIMAL(18,6))
                          / len($duckToks) AS DECIMAL(18,6)) AS x_stop,
                     CAST(CAST(len(list_distinct($duckToks)) AS DECIMAL(18,6))
                          / len($duckToks) AS DECIMAL(18,6)) AS x_ttr
              FROM documents)"""

  private val Iters = 3

  /** One DuckDB training round: score with the weights of CTE `wPrev`,
    * aggregate the rounded gradient contributions, emit the updated
    * weights. Spelled to match the Spark side token for token.
    *
    * Rounding discipline (r12, per advisor): every per-row term snaps to
    * the micro grid via floor(x·1e6 + 0.5)/1e6 — floor acts on the binary
    * double identically in both engines, where round()'s decimal-repr tie
    * handling diverges at .xxxxxx5 boundaries (the llm_kl_corpus_shift /
    * llm_embed_quantize precedent). Micro-integer contributions sum
    * exactly in DECIMAL(18,0); the per-example mean re-snaps with the
    * same floor. The loss clamps p into [1e-6, 1-1e-6] via greatest()
    * before ln() so a saturated sigmoid (p rounds to exactly 0 or 1 once
    * |w·x| ≳ 14.5) cannot raise ln(0) in DuckDB while Spark returns
    * -Infinity — unreachable at Iters=3/lr=0.5 but engine-divergent. */
  private def duckRound(i: Int, wPrev: String): String = {
    def grad(x: String) =
      s"""floor(CAST(SUM(CAST(floor((p - y) * CAST($x AS DOUBLE) * 1e6 + 0.5)
             AS DECIMAL(18,0))) AS DOUBLE) / (SELECT n FROM n) + 0.5) / 1e6"""
    s"""s$i AS (SELECT f.*,
                       floor(1.0 / (1.0 + exp(-CAST(w.wb + w.wl * x_len
                           + w.ws * x_stop + w.wt * x_ttr AS DOUBLE)))
                             * 1e6 + 0.5) / 1e6 AS p
                FROM f, $wPrev w),
        g$i AS (SELECT
                  floor(CAST(SUM(CAST(floor((p - y) * 1e6 + 0.5)
                        AS DECIMAL(18,0))) AS DOUBLE)
                        / (SELECT n FROM n) + 0.5) / 1e6 AS gb,
                  ${grad("x_len")} AS gl,
                  ${grad("x_stop")} AS gs,
                  ${grad("x_ttr")} AS gt,
                  floor(CAST(SUM(CAST(floor((CASE WHEN y = 1
                            THEN -ln(greatest(p, 1e-6))
                            ELSE -ln(greatest(1.0 - p, 1e-6)) END)
                            * 1e6 + 0.5)
                        AS DECIMAL(18,0))) AS DOUBLE)
                        / (SELECT n FROM n) + 0.5) / 1e6 AS loss
                FROM s$i),
        w$i AS (SELECT
                  CAST(w.wb - CAST(0.5 AS DECIMAL(2,1))
                       * CAST(g.gb AS DECIMAL(18,6)) AS DECIMAL(18,7)) AS wb,
                  CAST(w.wl - CAST(0.5 AS DECIMAL(2,1))
                       * CAST(g.gl AS DECIMAL(18,6)) AS DECIMAL(18,7)) AS wl,
                  CAST(w.ws - CAST(0.5 AS DECIMAL(2,1))
                       * CAST(g.gs AS DECIMAL(18,6)) AS DECIMAL(18,7)) AS ws,
                  CAST(w.wt - CAST(0.5 AS DECIMAL(2,1))
                       * CAST(g.gt AS DECIMAL(18,6)) AS DECIMAL(18,7)) AS wt
                FROM $wPrev w, g$i g)"""
  }

  val qs: Seq[(String, Q)] = Seq(

    // Full-batch logistic regression, 3 rounds, lr = 0.5, weights
    // initialized to 0. Per round the driver holds 4 weights (a bounded
    // anchor, the PCA-direction precedent) and the cluster computes one
    // map-side-combinable gradient aggregate. Output: one row per round
    // with the POST-update weights and the PRE-update training loss —
    // the learning curve a training job logs.
    "llm_logreg_train" -> Q(
      (s, dir) => {
        val f = features(s, dir)
        val n = f.count()
        var wb, wl, ws, wt = BigDecimal(0).setScale(7)
        val half = BigDecimal("0.5")
        val rows = (1 to Iters).map { i =>
          // toPlainString: BigDecimal(0).setScale(7) prints "0E-7" in
          // scientific notation, which is not a SQL decimal literal.
          def p(w: BigDecimal) = w.underlying.toPlainString
          // Micro-grid discipline mirroring duckRound token for token:
          // floor(x·1e6 + 0.5)/1e6 per term, exact DECIMAL(18,0) sums,
          // clamped ln. See duckRound's scaladoc for why.
          val scored = f.withColumn("p",
            expr(s"""floor(1.0 / (1.0 + exp(-CAST(CAST(${p(wb)} AS DECIMAL(18,7))
                        + CAST(${p(wl)} AS DECIMAL(18,7)) * x_len
                        + CAST(${p(ws)} AS DECIMAL(18,7)) * x_stop
                        + CAST(${p(wt)} AS DECIMAL(18,7)) * x_ttr AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6"""))
          // mean-of-micro-integers: floor(Σmicro/n + 0.5)/1e6, the exact
          // operation order of duckRound (Σmicro/n is already in micro
          // units, so the re-snap needs no further ·1e6).
          def m6(c: org.apache.spark.sql.Column) =
            floor(c.cast("double") / n + lit(0.5)) / lit(1e6)
          def grad(x: String) = m6(
            sum(expr(s"CAST(floor((p - y) * CAST($x AS DOUBLE) * 1e6 + 0.5) AS DECIMAL(18,0))")))
          val g = scored.agg(
            m6(sum(expr("CAST(floor((p - y) * 1e6 + 0.5) AS DECIMAL(18,0))"))).as("gb"),
            grad("x_len").as("gl"), grad("x_stop").as("gs"),
            grad("x_ttr").as("gt"),
            m6(sum(expr("""CAST(floor((CASE WHEN y = 1
                                THEN -ln(greatest(p, 1e-6))
                                ELSE -ln(greatest(1.0 - p, 1e-6)) END)
                                * 1e6 + 0.5) AS DECIMAL(18,0))"""))).as("loss")).head()
          // BigDecimal.valueOf round-trips the round(_, 6) doubles
          // exactly (shortest-repr toString), so the update stays in the
          // exact-decimal lane: scale 6 gradient × 0.5 = scale 7 weight.
          def upd(w: BigDecimal, gd: Double) =
            (w - half * BigDecimal(java.math.BigDecimal.valueOf(gd))).setScale(7)
          wb = upd(wb, g.getDouble(0)); wl = upd(wl, g.getDouble(1))
          ws = upd(ws, g.getDouble(2)); wt = upd(wt, g.getDouble(3))
          Row(i, wl.toDouble, ws.toDouble, wt.toDouble, wb.toDouble,
              g.getDouble(4))
        }
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, StructType(Seq(
            StructField("iter", IntegerType),
            StructField("w_len", DoubleType), StructField("w_stop", DoubleType),
            StructField("w_ttr", DoubleType), StructField("w_bias", DoubleType),
            StructField("loss", DoubleType))))
          .orderBy(col("iter"))
      },
      Some(s"""WITH $duckFeatures,
                    n AS (SELECT COUNT(*) AS n FROM f),
                    w0 AS (SELECT CAST(0 AS DECIMAL(18,7)) AS wb,
                                  CAST(0 AS DECIMAL(18,7)) AS wl,
                                  CAST(0 AS DECIMAL(18,7)) AS ws,
                                  CAST(0 AS DECIMAL(18,7)) AS wt),
                    ${duckRound(1, "w0")},
                    ${duckRound(2, "w1")},
                    ${duckRound(3, "w2")}
               SELECT * FROM (
                 SELECT 1 AS iter, CAST(w.wl AS DOUBLE) AS w_len,
                        CAST(w.ws AS DOUBLE) AS w_stop,
                        CAST(w.wt AS DOUBLE) AS w_ttr,
                        CAST(w.wb AS DOUBLE) AS w_bias, g.loss
                 FROM w1 w, g1 g
                 UNION ALL
                 SELECT 2, CAST(w.wl AS DOUBLE), CAST(w.ws AS DOUBLE),
                        CAST(w.wt AS DOUBLE), CAST(w.wb AS DOUBLE), g.loss
                 FROM w2 w, g2 g
                 UNION ALL
                 SELECT 3, CAST(w.wl AS DOUBLE), CAST(w.ws AS DOUBLE),
                        CAST(w.wt AS DOUBLE), CAST(w.wb AS DOUBLE), g.loss
                 FROM w3 w, g3 g)
               ORDER BY iter""")),

    // Per-source distribution drift vs the corpus: smoothed KL in both
    // directions over the hashed-vocabulary sketch (tid60 % 4096). The
    // bucket join runs source-sketch × corpus-sketch (≤ 4096 rows each
    // side, broadcast), so n_sources × |B| contribution rows exist
    // REGARDLESS of corpus size — including the buckets a source never
    // hits (their floor probability still pays mass into the sum, which
    // an inner join on observed buckets would silently drop). Laplace
    // smoothing uses the OBSERVED bucket count |B| (so both p and q sum
    // to exactly 1 over the shared support and KL ≥ 0 holds up to the
    // per-term rounding grain — smoothing with the nominal 4096 when the
    // fixture's vocabulary occupies fewer buckets leaves Σp < 1 and the
    // "divergence" goes negative). Terms round via floor(x·1e6 + 0.5)
    // (the llm_embed_quantize discipline): floor acts on the binary
    // double identically in both engines, where round()'s decimal-repr
    // tie handling diverges.
    "llm_kl_corpus_shift" -> Q(
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("source"), explode(expr(toksE)).as("tok"))
          .withColumn("b", expr("tid60(tok) % 4096"))
        val ct = tok.groupBy(col("b")).agg(count(lit(1)).as("ct"))
        val cs = tok.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("cs"))
        val ns = tok.groupBy(col("source")).agg(count(lit(1)).as("ns"))
        val tot = tok.agg(count(lit(1)).as("nt"),
                          countDistinct(col("b")).as("nb"))
        // every (source, corpus-bucket) cell: sketch × sketch, both tiny
        val cells = ns.crossJoin(broadcast(ct.crossJoin(broadcast(tot))))
          .join(cs, Seq("source", "b"), "left")
          .na.fill(0L, Seq("cs"))
          // 0.5 parses as DECIMAL(1,1) in Spark SQL and the decimal
          // division would truncate p at scale 16 (DuckDB promotes the
          // same expression to DOUBLE) — force the double lane explicitly.
          .withColumn("p", expr(
            "(cs + CAST(0.5 AS DOUBLE)) / (ns + CAST(0.5 AS DOUBLE) * nb)"))
          .withColumn("q", expr(
            "(ct + CAST(0.5 AS DOUBLE)) / (nt + CAST(0.5 AS DOUBLE) * nb)"))
        cells.groupBy(col("source"))
          .agg(max(col("ns")).as("n_toks"),
               (sum(expr("CAST(floor(p * ln(p / q) * 1e6 + 0.5) AS DECIMAL(18,0))"))
                 .cast("double") / 1e6).as("kl_fwd"),
               (sum(expr("CAST(floor(q * ln(q / p) * 1e6 + 0.5) AS DECIMAL(18,0))"))
                 .cast("double") / 1e6).as("kl_rev"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tok AS (SELECT source,
                                   ('0x' || substr(md5(t.tok), 1, 15))::BIGINT
                                     % 4096 AS b
                            FROM (SELECT source, unnest($duckToks) AS tok
                                  FROM documents) t),
                    ct AS (SELECT b, COUNT(*) AS ct FROM tok GROUP BY 1),
                    cs AS (SELECT source, b, COUNT(*) AS cs FROM tok
                           GROUP BY 1, 2),
                    ns AS (SELECT source, COUNT(*) AS ns FROM tok GROUP BY 1),
                    tot AS (SELECT COUNT(*) AS nt, COUNT(DISTINCT b) AS nb
                            FROM tok),
                    cells AS (SELECT ns.source, ns.ns, ct.b, ct.ct,
                                     tot.nt, tot.nb,
                                     COALESCE(cs.cs, 0) AS cs
                              FROM ns CROSS JOIN ct CROSS JOIN tot
                              LEFT JOIN cs ON cs.source = ns.source
                                          AND cs.b = ct.b),
                    probs AS (SELECT source, ns,
                                     (cs + CAST(0.5 AS DOUBLE))
                                       / (ns + CAST(0.5 AS DOUBLE) * nb) AS p,
                                     (ct + CAST(0.5 AS DOUBLE))
                                       / (nt + CAST(0.5 AS DOUBLE) * nb) AS q
                              FROM cells)
               SELECT source, MAX(ns) AS n_toks,
                      CAST(SUM(CAST(floor(p * ln(p / q) * 1e6 + 0.5)
                           AS DECIMAL(18,0))) AS DOUBLE) / 1e6 AS kl_fwd,
                      CAST(SUM(CAST(floor(q * ln(q / p) * 1e6 + 0.5)
                           AS DECIMAL(18,0))) AS DOUBLE) / 1e6 AS kl_rev
               FROM probs
               GROUP BY source
               ORDER BY source"""))
  )
}
