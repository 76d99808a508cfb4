package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Round-5 per-document signal operators: winnowing fingerprints (the
  * MOSS local-sampling scheme — position-robust substring fingerprints
  * with a guaranteed detection window) and lexical-diversity scoring
  * (token Shannon entropy + type/token ratio), both standard quality /
  * dedup signals in corpus curation.
  *
  * Both are scan-pipelined per-document array programs: the only
  * corpus-wide shuffles are the final fingerprint-df aggregation
  * (winnowing) and the (doc, token) term-frequency aggregation
  * (entropy). Every gram/hash/window stage rides zip_with over
  * top-level slices — never element_at(<computed array>, i) inside a
  * lambda, which Catalyst inlines without CSE into O(tokens²)
  * re-evaluation (the documented Shingles3 trap). */
object Signals {

  private val toksE = "split(lower(trim(text)), ' ')"
  private val duckToks = "string_split(lower(trim(text)), ' ')"

  /** The fixed logistic quality model scored per document — one
    * codegen'd projection, no shuffle (expression chain documented on
    * llm_classifier_apply). Shared by llm_classifier_apply (per-source
    * calibration) and llm_ece (reliability/calibration-error report);
    * the exact-decimal logit and the single round(6) at the sigmoid are
    * the hash-parity contract both keys inherit. */
  private def logisticScored(s: org.apache.spark.sql.SparkSession,
                             dir: String) =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksE))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("stop_ratio", expr(
        """CAST(CAST(size(filter(toks, t ->
             t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DECIMAL(18,6))
           / n_toks AS DECIMAL(18,6))"""))
      .withColumn("short_ratio", expr(
        """CAST(CAST(size(filter(toks, t -> length(t) <= 2)) AS DECIMAL(18,6))
           / n_toks AS DECIMAL(18,6))"""))
      .withColumn("len_norm", expr(
        "CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300, CAST(1.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))"))
      .withColumn("ttr", expr(
        "CAST(CAST(size(array_distinct(toks)) AS DECIMAL(18,6)) / n_toks AS DECIMAL(18,6))"))
      .withColumn("z", expr(
        """CAST(CAST(-0.3 AS DECIMAL(2,1))
                + len_norm * CAST(1.2 AS DECIMAL(2,1))
                + stop_ratio * CAST(-0.8 AS DECIMAL(2,1))
                + short_ratio * CAST(-1.5 AS DECIMAL(2,1))
                + ttr * CAST(0.9 AS DECIMAL(2,1))
           AS DECIMAL(18,7))"""))
      .withColumn("p", round(
        lit(1.0) / (lit(1.0) + exp(-col("z").cast("double"))), 6))

  /** Oracle-side spelling of [[logisticScored]]'s f/z/p pipeline (CTE
    * bodies only; callers append their own consumers). Carries n_chars
    * through so llm_ece can derive its pseudo-label. */
  private val duckLogistic: String =
    s"""f AS (
         SELECT source, n_chars,
                CAST(CAST(len(list_filter($duckToks, t ->
                       t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                     AS DECIMAL(18,6))
                     / len($duckToks) AS DECIMAL(18,6)) AS stop_ratio,
                CAST(CAST(len(list_filter($duckToks,
                       t -> length(t) <= 2)) AS DECIMAL(18,6))
                     / len($duckToks) AS DECIMAL(18,6)) AS short_ratio,
                CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300,
                           CAST(1.0 AS DECIMAL(18,6)))
                     AS DECIMAL(18,6)) AS len_norm,
                CAST(CAST(len(list_distinct($duckToks)) AS DECIMAL(18,6))
                     / len($duckToks) AS DECIMAL(18,6)) AS ttr
         FROM documents),
       z AS (SELECT source, n_chars,
                    CAST(CAST(-0.3 AS DECIMAL(2,1))
                         + len_norm * CAST(1.2 AS DECIMAL(2,1))
                         + stop_ratio * CAST(-0.8 AS DECIMAL(2,1))
                         + short_ratio * CAST(-1.5 AS DECIMAL(2,1))
                         + ttr * CAST(0.9 AS DECIMAL(2,1))
                    AS DECIMAL(18,7)) AS z
             FROM f),
       p AS (SELECT source, n_chars,
                    round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 6) AS p
             FROM z)"""

  /** Ordered (non-distinct) 3-token grams — winnowing needs positional
    * grams, so [[graft.functions.Sketches.Shingles3]] (distinct) does
    * not apply. zip_with arity is 2, so the 3-way combine nests. */
  private val grams3 =
    """CASE WHEN size(toks) >= 3
       THEN zip_with(
              zip_with(slice(toks, 1, size(toks) - 2),
                       slice(toks, 2, size(toks) - 2),
                       (a, b) -> concat(a, ' ', b)),
              slice(toks, 3, size(toks) - 2),
              (x, c) -> concat(x, ' ', c))
       ELSE array() END"""

  /** Per-window (w=4) minimum of the gram-hash sequence: the winnowing
    * fingerprint selection. least() nests pairwise over four aligned
    * slices. */
  private val winMins =
    """CASE WHEN size(hs) >= 4
       THEN zip_with(
              zip_with(slice(hs, 1, size(hs) - 3), slice(hs, 2, size(hs) - 3),
                       (a, b) -> least(a, b)),
              zip_with(slice(hs, 3, size(hs) - 3), slice(hs, 4, size(hs) - 3),
                       (a, b) -> least(a, b)),
              (x, y) -> least(x, y))
       ELSE array() END"""

  val qs: Seq[(String, Q)] = Seq(

    // Winnowing (k=3 token grams, window w=4): every document keeps the
    // minimum gram hash of each sliding window — any shared substring of
    // >= w+k-1 tokens is GUARANTEED to share a fingerprint (the MOSS
    // detection property), at ~2/(w+1) the density of full shingling.
    // Output: the cross-document report — fingerprints seen in >= 2 docs,
    // top 20 by document frequency. At 100 TB the per-doc stage is
    // scan-pipelined codegen (tid60 kernel); the df agg shuffles only
    // distinct (doc, fp) pairs — a ~2/(w+1) sample of the gram stream,
    // the winnowing bandwidth win over llm_dedup_near's full inverted
    // index.
    "llm_winnowing" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("grams", expr(grams3))
          .withColumn("hs", expr("transform(grams, g -> tid60(g))"))
          .select(col("doc_id"), explode(expr(winMins)).as("fp"))
          .distinct()
          .groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
          .orderBy(col("df").desc, col("fp"))
          .limit(20)
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
                    g AS (SELECT doc_id,
                            list_transform(generate_series(1, len(toks) - 2),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                              AS grams
                          FROM t WHERE len(toks) >= 3),
                    h AS (SELECT doc_id,
                            list_transform(grams,
                              gr -> ('0x' || substr(md5(gr), 1, 15))::BIGINT) AS hs
                          FROM g),
                    w AS (SELECT doc_id,
                            list_transform(generate_series(1, len(hs) - 3),
                              i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3])) AS fps
                          FROM h WHERE len(hs) >= 4),
                    d AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w)
               SELECT fp, COUNT(*) AS df FROM d
               GROUP BY fp HAVING COUNT(*) >= 2
               ORDER BY df DESC, fp LIMIT 20""")),

    // Lexical diversity: token Shannon entropy and type/token ratio per
    // document — the standard gibberish/boilerplate quality signals
    // (low entropy = repetitive spam, TTR near 1 on short docs = word
    // salad). Two token-keyed aggs; the tf→doc join is co-partitioned
    // on doc_id (both sides come out of a doc_id shuffle). Per-term ln
    // rounds at 6 (libm ulp grain) and terms sum through the exact-
    // decimal path, the established cross-engine float discipline.
    "llm_entropy" -> Q(
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksE)).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        val nd = tf.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
        tf.join(nd, Seq("doc_id"))
          .withColumn("term",
            round((col("c") / col("n")) * round(log(col("c") / col("n")), 6), 6))
          .groupBy(col("doc_id"))
          .agg(min(col("n")).as("n_toks"),
               min(col("n_types")).as("n_types"),
               (-sum(col("term").cast("decimal(38,6)"))).cast("double").as("entropy"),
               round(min(col("n_types")) / min(col("n")), 6).as("ttr"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tf AS (SELECT doc_id, tok, COUNT(*) AS c
                           FROM (SELECT doc_id, unnest($duckToks) AS tok
                                 FROM documents)
                           GROUP BY 1, 2),
                    nd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                                  COUNT(*) AS n_types
                           FROM tf GROUP BY 1)
               SELECT tf.doc_id AS doc_id,
                      MIN(n) AS n_toks, MIN(n_types) AS n_types,
                      CAST(-SUM(CAST(round((c / n) * round(ln(c / n), 6), 6)
                                     AS DECIMAL(38,6))) AS DOUBLE) AS entropy,
                      round(MIN(n_types) / MIN(n), 6) AS ttr
               FROM tf JOIN nd USING (doc_id)
               GROUP BY 1 ORDER BY 1""")),

    // Out-of-vocabulary rate against the corpus's own top-100 tokens —
    // the tokenizer-coverage signal (how much of each doc a fixed vocab
    // can represent). The vocab is one corpus-reduced top-k (broadcast
    // side by construction: k rows); the per-doc rate is a left join of
    // the token stream against it plus one doc_id agg. At 100 TB the
    // corpus never shuffles on anything but doc_id.
    "llm_oov_rate" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksE)).as("tok"))
        val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("tf").desc, col("tok"))))
          .filter(col("rk") <= 100)
          .select(col("tok"), lit(1).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"),
               sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_toks"), col("n_oov"),
                  round(col("n_oov") / col("n_toks"), 6).as("oov_rate"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok
                            FROM documents),
                    vocab AS (
                      SELECT tok FROM (
                        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                                       tok) AS rk
                        FROM tok GROUP BY tok)
                      WHERE rk <= 100),
                    j AS (SELECT t.doc_id,
                                 CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END
                                   AS oov
                          FROM tok t LEFT JOIN vocab v ON t.tok = v.tok)
               SELECT doc_id, COUNT(*) AS n_toks,
                      CAST(SUM(oov) AS BIGINT) AS n_oov,
                      round(CAST(SUM(oov) AS BIGINT) / COUNT(*), 6) AS oov_rate
               FROM j GROUP BY 1 ORDER BY 1""")),

    // Trained-classifier APPLY — the fastText-style quality-classifier
    // inference pass every corpus curation stack runs at full scale:
    // a fixed logistic model over four engineered lexical features,
    // scored per document in one codegen'd projection (no join, no
    // shuffle before the per-source calibration reduce). Feature ratios
    // and the logit stay in exact decimal (the llm_quality_score lane:
    // scale-6 ratios × scale-1 weights are exact at scale 7, so the
    // logit is computed with ZERO rounding steps); only the sigmoid's
    // exp crosses libm and lands on the round(6) grain, and the per-
    // source mean sums those rounded probabilities in decimal. The
    // predicted-positive compare runs on the ROUNDED p, so the decision
    // boundary is engine-deterministic too.
    "llm_classifier_apply" -> Q(
      (s, dir) => {
        val scored = logisticScored(s, dir)
        scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pos"),
               (sum(col("p").cast("decimal(18,6)")) / count(lit(1)))
                 .cast("decimal(18,6)").cast("double").as("mean_p"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $duckLogistic
               SELECT source, COUNT(*) AS n,
                      CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_pos,
                      CAST(CAST(SUM(CAST(p AS DECIMAL(18,6))) / COUNT(*)
                                AS DECIMAL(18,6)) AS DOUBLE) AS mean_p
               FROM p GROUP BY 1 ORDER BY source""")),

    // LLM-watermark detection (the Kirchenbauer-style green-list
    // z-test, public-literature form): a watermarking sampler biases
    // generation toward a pseudorandom "green" half of the vocabulary,
    // so watermarked text shows a green-token fraction far above 1/2
    // and z = (2g − n)/sqrt(n) explodes. The green partition is the
    // engine's deterministic md5/tid60 token hash (parity-pinned
    // kernel), so detection is a pure scan-local projection — explode,
    // two conditional counts per doc, one sqrt — and the z-threshold
    // flag is decided on exact integers. Human text (this fixture)
    // must sit inside |z| < 4 almost everywhere; the spec pins the
    // false-positive rate the 4-sigma gate implies.
    "llm_watermark_detect" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksE)).as("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"),
               sum(when(expr("tid60(tok) % 2") === 0, 1L).otherwise(0L))
                 .as("n_green"))
          .select(col("doc_id"), col("n_toks"), col("n_green"),
                  round((lit(2L) * col("n_green") - col("n_toks"))
                          .cast("double") / sqrt(col("n_toks").cast("double")),
                        6).as("z_green"),
                  ((lit(2L) * col("n_green") - col("n_toks")).cast("double")
                     > lit(4.0) * sqrt(col("n_toks").cast("double")))
                    .as("watermarked"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS tok
                          FROM documents),
                    g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
                                 CAST(COUNT(*) FILTER (WHERE
                                   ('0x' || substr(md5(tok), 1, 15))::BIGINT
                                   % 2 = 0) AS BIGINT) AS n_green
                          FROM t GROUP BY 1)
               SELECT doc_id, n_toks, n_green,
                      round(CAST(2 * n_green - n_toks AS DOUBLE)
                            / sqrt(CAST(n_toks AS DOUBLE)), 6) AS z_green,
                      CAST(2 * n_green - n_toks AS DOUBLE)
                        > 4.0 * sqrt(CAST(n_toks AS DOUBLE)) AS watermarked
               FROM g ORDER BY doc_id""")),

    // Reliability diagram + expected calibration error of the quality
    // classifier against its length pseudo-label (y = n_chars >= 300) —
    // the eval-report staple that says whether "p=0.9" means 90%: per
    // confidence bin, mean confidence vs empirical accuracy, and
    // ECE = sum over bins of (n_b/N)·|acc_b − conf_b|. The corpus work
    // is exactly [[logisticScored]]'s scan-local projection plus ONE
    // map-combined reduce to ≤10 bin rows; every window below runs on
    // that bin table. conf derives from the rounded-6 p (1−p is exact at
    // the same grain), bin edges floor the rounded value, and the
    // gap/ECE chain is rounded-6 decimal-summed — engine-identical.
    "llm_ece" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing)
        logisticScored(s, dir)
          .withColumn("y", col("n_chars") >= 300)
          .withColumn("conf",
            when(col("p") >= 0.5, col("p")).otherwise(lit(1.0) - col("p")))
          .withColumn("correct",
            when((col("p") >= 0.5) === col("y"), 1L).otherwise(0L))
          .withColumn("bin", least(floor(col("conf") * 10).cast("int"), lit(9)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
               (sum(col("conf").cast("decimal(18,6)")) / count(lit(1)))
                 .cast("decimal(18,6)").cast("double").as("mean_conf"),
               sum(col("correct")).as("n_correct"))
          .withColumn("accuracy",
            round(col("n_correct").cast("double") / col("n"), 6))
          .withColumn("nt", sum(col("n")).over(wAll))
          .withColumn("gap_w", round(col("n").cast("double") / col("nt")
                                       * abs(col("accuracy") - col("mean_conf")), 6))
          .withColumn("ece",
            sum(col("gap_w").cast("decimal(18,6)")).over(wAll).cast("double"))
          .select(col("bin"), col("n"), col("mean_conf"), col("accuracy"),
                  col("gap_w"), col("ece"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH $duckLogistic,
                s2 AS (SELECT p,
                              CASE WHEN p >= 0.5 THEN p ELSE 1.0 - p END AS conf,
                              CASE WHEN (p >= 0.5) = (n_chars >= 300)
                                   THEN 1 ELSE 0 END AS correct
                       FROM p),
                b AS (SELECT least(CAST(floor(conf * 10) AS INT), 9) AS bin,
                             CAST(COUNT(*) AS BIGINT) AS n,
                             CAST(CAST(SUM(CAST(conf AS DECIMAL(18,6)))
                                       / COUNT(*) AS DECIMAL(18,6))
                                  AS DOUBLE) AS mean_conf,
                             CAST(SUM(correct) AS BIGINT) AS n_correct
                      FROM s2 GROUP BY 1),
                w AS (SELECT bin, n, mean_conf,
                             round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy,
                             SUM(n) OVER () AS nt
                      FROM b),
                g AS (SELECT bin, n, mean_conf, accuracy,
                             round(CAST(n AS DOUBLE) / nt
                                   * abs(accuracy - mean_conf), 6) AS gap_w
                      FROM w)
               SELECT bin, n, mean_conf, accuracy, gap_w,
                      CAST(SUM(CAST(gap_w AS DECIMAL(18,6))) OVER ()
                           AS DOUBLE) AS ece
               FROM g ORDER BY bin""")),

    // Delete-one-GROUP jackknife CI for a corpus-level metric (mean doc
    // length) — the deterministic uncertainty quantification an eval
    // report ships next to its point estimate (bootstrap needs RNG,
    // which the engine's determinism contract bans; grouped jackknife
    // is the standard substitute, and leaving out whole SOURCES also
    // respects within-source correlation that a per-doc resample would
    // ignore). ONE corpus scan reduces to per-source (sum, count); each
    // leave-one-out estimate is then pure arithmetic on that reduced
    // table — θ_i = (T−T_i)/(N−N_i) is one exact-int double division —
    // and the SE folds the rounded θ_i's in decimal. Scale shape:
    // everything after the map-combined reduce runs on |sources| rows.
    "llm_jackknife_ci" -> Q(
      (s, dir) => {
        val g = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(sum(col("n_chars")).as("t_i"), count(lit(1)).as("n_i"))
        val tot = g.agg(sum(col("t_i")).as("t"), sum(col("n_i")).as("n"),
                        count(lit(1)).as("k"))
        val theta = g.crossJoin(broadcast(tot))
          .withColumn("theta_i", round(
            (col("t") - col("t_i")).cast("double")
              / (col("n") - col("n_i")).cast("double"), 6))
        val jbar = theta.agg(
          (sum(col("theta_i").cast("decimal(28,6)")) / count(lit(1)))
            .cast("decimal(28,6)").cast("double").as("jbar"),
          max(col("k")).as("k"), max(col("t")).as("t"), max(col("n")).as("n"))
        theta.crossJoin(broadcast(jbar.select(col("jbar"))))
          .withColumn("dev2", round(
            (col("theta_i") - col("jbar")) * (col("theta_i") - col("jbar")), 6))
          .agg(max(col("k")).as("k_groups"),
               round(max(col("t")).cast("double") / max(col("n")), 6).as("theta"),
               round(sqrt(
                 (max(col("k")) - lit(1)).cast("double") / max(col("k"))
                   * sum(col("dev2").cast("decimal(28,6)")).cast("double")), 6)
                 .as("jack_se"))
          .select(col("k_groups"), col("theta"), col("jack_se"),
                  round(col("theta") - lit(1.96) * col("jack_se"), 6).as("ci_lo"),
                  round(col("theta") + lit(1.96) * col("jack_se"), 6).as("ci_hi"))
      },
      Some("""WITH g AS (SELECT source, SUM(n_chars) AS t_i, COUNT(*) AS n_i
                         FROM documents GROUP BY 1),
                   tot AS (SELECT SUM(t_i) AS t, SUM(n_i) AS n,
                                  COUNT(*) AS k FROM g),
                   th AS (SELECT round(CAST(t - t_i AS DOUBLE)
                                       / CAST(n - n_i AS DOUBLE), 6) AS theta_i
                          FROM g, tot),
                   jb AS (SELECT CAST(CAST(SUM(CAST(theta_i AS DECIMAL(28,6)))
                                           / COUNT(*) AS DECIMAL(28,6))
                                      AS DOUBLE) AS jbar
                          FROM th),
                   se AS (SELECT MAX(tot.k) AS k_groups,
                                 round(CAST(MAX(tot.t) AS DOUBLE)
                                       / MAX(tot.n), 6) AS theta,
                                 round(sqrt(CAST(MAX(tot.k) - 1 AS DOUBLE)
                                            / MAX(tot.k)
                                   * CAST(SUM(CAST(round((th.theta_i - jb.jbar)
                                         * (th.theta_i - jb.jbar), 6)
                                       AS DECIMAL(28,6))) AS DOUBLE)), 6)
                                   AS jack_se
                          FROM th, jb, tot)
              SELECT CAST(k_groups AS BIGINT) AS k_groups, theta, jack_se,
                     round(theta - 1.96 * jack_se, 6) AS ci_lo,
                     round(theta + 1.96 * jack_se, 6) AS ci_hi
              FROM se""")),

    // Hashing-trick featurization — fixed-width token-count vectors with
    // NO vocabulary pass (slot = tid60(token) mod D): the featurizer
    // that works on a 100 TB stream precisely because it needs no
    // global dictionary build, no broadcast, no shuffle — one in-row
    // array program per document (collisions are the accepted trade,
    // which is why the declared output also carries nnz). D = 16 keeps
    // the fixture's vector printable; production widens D, same plan.
    // Vectors are emitted as comma-joined strings (declared arrays are
    // banned — the driver's pandas row-sort crashes on ndarray cells).
    "llm_feature_hash" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("fv_arr", expr(
            """transform(sequence(0, 15), s ->
                 size(filter(toks, t -> tid60(t) % 16 = s)))"""))
          .select(col("doc_id"), size(col("toks")).as("n_toks"),
                  size(expr("filter(fv_arr, c -> c > 0)")).as("nnz"),
                  array_join(col("fv_arr"), ",").as("fv"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
                    f AS (SELECT doc_id, toks,
                                 list_transform(generate_series(0, 15), s ->
                                   len(list_filter(toks, tk ->
                                     ('0x' || substr(md5(tk), 1, 15))::BIGINT
                                       % 16 = s))) AS fv_arr
                          FROM t)
               SELECT doc_id,
                      CAST(len(toks) AS INTEGER) AS n_toks,
                      CAST(len(list_filter(fv_arr, c -> c > 0)) AS INTEGER)
                        AS nnz,
                      array_to_string(fv_arr, ',') AS fv
               FROM f ORDER BY doc_id"""))
  )
}
