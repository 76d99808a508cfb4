package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Spectral analysis of the embedding corpus — the PCA-flavored pass a
  * training-data pipeline runs to find the dominant direction of an
  * embedding space (ABTT-style "all-but-the-top" postprocessing,
  * anisotropy diagnostics, whitening prep all start from exactly this
  * computation).
  *
  * llm_pca_power: top principal direction by K=3 rounds of power
  * iteration on the Gram operator — w ← normalize(Aᵀ·normalize(A·w)) —
  * expressed entirely as joins + aggregations over the posexploded
  * embedding table. Each matvec is one equi-join + one map-combined
  * group-by; nothing materializes beyond the n-row (u) and 64-row (w)
  * vectors, so the 100 TB shape is K linear passes with the per-id
  * vector shuffle-joined (Catalyst broadcasts it at small scale) and
  * the 64-row direction + 1-row norms broadcast.
  *
  * Determinism contract (the hash gate): every cross-row SUM rides a
  * rounded DECIMAL(28,8) lane — products round at scale 8 in double
  * (bit-identical both engines), the decimal sum is exact and
  * order-independent, and the unscaled magnitude stays far below 2^53
  * (|terms| ≤ ~1 after each normalization, ≤ 2·10⁴ terms ⇒ ≤ 2·10¹²
  * unscaled — the q_rolling_corr overflow discipline), so the final
  * decimal→double conversion is the same single rounding in both
  * engines. Norms re-round at scale 9 before the division; the oracle
  * unrolls the identical three iterations as chained CTEs. The
  * eigenvector sign is pinned by the all-positive start vector. */
object Spectral {

  private val K = 3

  private def exploded(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
              posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("id"), col("pos"), col("vf").cast("double").as("v"))

  /** The exploded table as a memoized write-once stage (checkpointed,
    * keyed on embeddings' mtime) — referenced 2K+1 times per consumer
    * and by THREE declared keys (power/explained/abtt), so it
    * materializes once per session+dataset instead of once per key. */
  private[llm] def explodedStage(s: org.apache.spark.sql.SparkSession,
                                 dir: String) =
    Memo.stage(s, dir, "pca_exploded", "embeddings.parquet") {
      Memo.cut(s)(exploded(s, dir))
    }

  /** The K-round power-iteration direction as a memoized stage: the
    * 64-row w table is the shared upstream of llm_pca_power,
    * llm_pca_explained, and llm_abtt_apply — without the memo each key
    * re-runs all K x 4 iteration jobs (measured 5.7 s on abtt alone).
    * Bench charges the build to stage:pca_topdir. */
  private[llm] def topDirStage(s: org.apache.spark.sql.SparkSession,
                               dir: String) =
    // SESSION-scoped on purpose (r15): the interrupted build round disk-
    // backed the direction across JVMs keyed on embeddings mtime, which
    // would let a later bench/Verify invocation skip the K x 4-job build
    // it claims to time — cross-run result caching, prohibited by the
    // optimization round's rules. Every invocation re-runs the iteration
    // and the bench charges it honestly as stage:pca_topdir.
    Memo.stage(s, dir, "pca_topdir", "embeddings.parquet") {
      topDirCompute(s, dir)
    }

  /** ARRAY-NATIVE power iteration (r15 optimization round, guide §2.3/
    * §2.4): the r14 shape ran each round as two shuffle-joins + two
    * group-bys over the 64x-exploded table (K x ~4 jobs, two corpus
    * shuffles per round — stage:pca_topdir was the bench's single
    * biggest line item at 5.3 s). Both matvecs are per-row/position-wise
    * over the vector, so neither needs an explode OR a shuffle:
    *
    *  - u_i = Σ_pos round(v·w_pos, 8) is a per-row decimal fold
    *    (zip_with + aggregate against the 64-element w LITERAL — w is
    *    already driver-anchored every round), no join, no exchange;
    *  - wp_pos = Σ_i round(v_pos·un_i, 8) keeps the posexplode +
    *    groupBy(pos) aggregate (map-side combined, dim-row result) but
    *    un_i now RIDES THE ROW (computed from the materialized u and the
    *    collected nu), so the corpus join-by-id that used to attach it
    *    is gone;
    *  - norms/updates run as the ORIGINAL Spark expressions over 1/64-row
    *    LocalRelations (never re-implemented on the driver, so rounding
    *    semantics cannot diverge).
    *
    * Bit-equivalence argument (the oracle hash gate re-proves it): every
    * cross-row / cross-position sum is over CAST(round(.., 8) AS
    * DECIMAL(28,8)) terms — exact, order-independent decimal adds with
    * the same DECIMAL(38,8) accumulator width Spark's Sum uses — and all
    * double-domain steps (round, /, sqrt) keep their exact r14 spellings.
    * Missing/NULL positions contribute nothing in both shapes (the join
    * dropped them; element_at/zip_with yield NULL which the sum skips and
    * the fold coalesces to 0). At 100 TB: 2K linear passes with partial
    * aggregation and a 64-value reduce — no corpus shuffle at all, vs two
    * per round before. */
  private def topDirCompute(s: org.apache.spark.sql.SparkSession,
                            dir: String) = {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"),
                expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("varr"))
      // posexplode emits 0..n-1 per row, so distinct pos == 0..max(n)-1.
      // Guarded head: an empty or all-null embeddings table must fail
      // loudly here (ADVICE r15), not as an NPE three operators later.
      // dim > 0 as well as non-null: with legacy sizeOfNull (non-ANSI)
      // size(null) = -1, so an all-null column reads max = -1, not null.
      val dim = Option(base.agg(max(size(col("varr")))).head().get(0))
        .map(_.asInstanceOf[Int])
        .filter(_ > 0)
        .getOrElse(throw new IllegalStateException(
          s"pca_topdir: embeddings table at $dir is empty, all-null or all-empty"))
      // Accumulator stays DECIMAL(28,8): a (28,8)+(28,8) add yields
      // (29,8) — no precision overflow, so Spark never drops scale (a
      // (38,8) accumulator overflows to p39 on every add and the
      // allowPrecisionLoss rule silently rounds to scale 7 — observed as
      // a 1e-6 drift vs the exploded builder). |partial sums| stay far
      // below 10^20, so the cast back to (28,8) is always exact.
      val dec0 = lit(0).cast("decimal(28,8)")
      // Σ_pos CAST(round(varr[pos] * w[pos], 8) AS DECIMAL(28,8)), as a
      // double — identical to the exploded groupBy(id) sum.
      // w as a driver map keyed by position (sparse-faithful: a position
      // with no w row contributed nothing via the join before; here its
      // array slot is a NULL literal, whose product the fold coalesces
      // to 0 — the identical contribution).
      def uCol(wMap: Map[Int, Double]) = {
        val wLit = array((0 until dim).map(j =>
          wMap.get(j).map(lit).getOrElse(lit(null).cast("double"))): _*)
        aggregate(
          zip_with(col("varr"), wLit,
            (v, w) => round(v * w, 8).cast("decimal(28,8)")),
          dec0,
          (acc, x) => (acc + coalesce(x, dec0)).cast("decimal(28,8)"))
          .cast("double")
      }
      var wMap: Map[Int, Double] = (0 until dim).map(_ -> 0.125).toMap
      for (_ <- 1 to K) {
        // ONE pass materializes (varr, u) per row (Memo.cut: the fold must
        // evaluate once, and the downstream aggregates must not inline
        // its deep lambda tree — a 64-wide literal-bearing aggregate was
        // measured at 10-13 s/stage because every round's distinct nu
        // literal forced a fresh Janino compile of the huge update code).
        val withU = Memo.cut(s)(base.select(col("varr"), uCol(wMap).as("u")))
        val nu = withU
          .agg(round(sqrt(
            sum(expr("CAST(round(u * u, 8) AS DECIMAL(28,8))")).cast("double")), 9))
          .head().getDouble(0)
        // Reverse matvec WITHOUT the join-by-id: un now rides the row, so
        // posexplode + groupBy(pos) is the exact original wp aggregate
        // (same Sum/round/decimal spelling) minus the corpus shuffle that
        // attached un before.
        val wpDf = localPairs(s, withU
          .select(round(col("u") / lit(nu), 9).as("un"),
                  posexplode(col("varr")).as(Seq("pos", "v")))
          .groupBy(col("pos"))
          .agg(sum(expr("CAST(round(v * un, 8) AS DECIMAL(28,8))"))
                 .cast("double").as("wp"))
          .collect().map(r => r.getInt(0) ->
            r.get(1).asInstanceOf[java.lang.Double]), "wp")
        // norm + update on a LocalRelation with the unchanged expressions
        val nw = wpDf.agg(round(sqrt(
          sum(expr("CAST(round(wp * wp, 8) AS DECIMAL(28,8))")).cast("double")), 9)
          .as("nw"))
        wMap = wpDf.crossJoin(broadcast(nw))
          .select(col("pos"), round(col("wp") / col("nw"), 9).as("w"))
          .collect().flatMap(r => Option(r.get(1))
            .map(v => r.getInt(0) -> v.asInstanceOf[Double])).toMap
      }
      localPairs(s, wMap.toSeq.sortBy(_._1)
        .map { case (p, v) => p -> (v: java.lang.Double) }, "w")
    }

  /** (pos, <name>) LocalRelation from driver-side (position, value)
    * pairs — the per-round anchor of the iteration. */
  private def localPairs(s: org.apache.spark.sql.SparkSession,
                         v: Seq[(Int, java.lang.Double)], name: String) = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      v.map { case (j, x) =>
        org.apache.spark.sql.Row(j, x) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.DoubleType))))
  }

  /** K rounds of normalized power iteration; returns the 64-row (pos, w)
    * direction table. Shared (via [[topDirStage]]) by llm_pca_power,
    * llm_pca_explained and llm_abtt_apply; un-memoized for the
    * SpectralSpec plan audit. */
  private[llm] def topDirection(e: org.apache.spark.sql.DataFrame) = {
    var w = e.select(col("pos")).distinct().withColumn("w", lit(0.125))
    for (_ <- 1 to K) {
      val u = e.join(broadcast(w), Seq("pos"))
        .groupBy(col("id"))
        .agg(sum(expr("CAST(round(v * w, 8) AS DECIMAL(28,8))"))
               .cast("double").as("u"))
      val nu = u.agg(round(sqrt(
        sum(expr("CAST(round(u * u, 8) AS DECIMAL(28,8))")).cast("double")), 9)
        .as("nu"))
      val un = u.crossJoin(broadcast(nu))
        .select(col("id"), round(col("u") / col("nu"), 9).as("u"))
      val wp = e.join(un, Seq("id"))
        .groupBy(col("pos"))
        .agg(sum(expr("CAST(round(v * u, 8) AS DECIMAL(28,8))"))
               .cast("double").as("wp"))
      val nw = wp.agg(round(sqrt(
        sum(expr("CAST(round(wp * wp, 8) AS DECIMAL(28,8))")).cast("double")), 9)
        .as("nw"))
      w = wp.crossJoin(broadcast(nw))
        .select(col("pos"), round(col("wp") / col("nw"), 9).as("w"))
    }
    w
  }

  private def oIter(i: Int): String = {
    val prev = if (i == 1) "w0" else s"w${i - 1}"
    s"""u$i AS (SELECT id, CAST(SUM(CAST(round(v * w, 8) AS DECIMAL(28,8)))
                            AS DOUBLE) AS u
                FROM e JOIN $prev USING (pos) GROUP BY id),
        nu$i AS (SELECT round(sqrt(CAST(SUM(CAST(round(u * u, 8) AS DECIMAL(28,8)))
                                        AS DOUBLE)), 9) AS nu FROM u$i),
        un$i AS (SELECT id, round(u / nu, 9) AS u FROM u$i, nu$i),
        wp$i AS (SELECT pos, CAST(SUM(CAST(round(v * u, 8) AS DECIMAL(28,8)))
                                  AS DOUBLE) AS wp
                 FROM e JOIN un$i USING (id) GROUP BY pos),
        nw$i AS (SELECT round(sqrt(CAST(SUM(CAST(round(wp * wp, 8) AS DECIMAL(28,8)))
                                        AS DOUBLE)), 9) AS nw FROM wp$i),
        w$i AS (SELECT pos, round(wp / nw, 9) AS w FROM wp$i, nw$i)"""
  }

  val qs: Seq[(String, Q)] = Seq(

    "llm_pca_power" -> Q(
      (s, dir) => {
        // Checkpointed STAGES, not .cache(): a CacheManager entry would
        // sameResult-substitute the subtree into sibling plans with no
        // unpersist point (the q_transitive_closure rationale; broke the
        // CacheManager-empty plan audits when it briefly was .cache()).
        // Since r10 the exploded table AND the K-round direction are
        // Memo stages shared with explained/abtt.
        topDirStage(s, dir)
          .select(col("pos"), round(col("w"), 6).as("loading"))
          .orderBy(col("pos"))
      },
      Some(s"""WITH $oBase
               SELECT pos, round(w, 6) AS loading FROM w$K
               ORDER BY pos""")),

    // Energy captured by the top direction, per label — the anisotropy
    // diagnostic (a label whose vectors all point along the global top
    // component carries little usable signal after ABTT removal). One
    // more matvec projects every vector onto w (equi-join + reduce),
    // then a per-label exact-decimal mean of the squared projection.
    // Same linear shape; the direction table is 64 broadcast rows.
    "llm_pca_explained" -> Q(
      (s, dir) => {
        val e = explodedStage(s, dir)
        val w = topDirStage(s, dir)
        val p = e.join(broadcast(w), Seq("pos"))
          .groupBy(col("id"))
          .agg(sum(expr("CAST(round(v * w, 8) AS DECIMAL(28,8))"))
                 .cast("double").as("p"))
        val lab = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("label"))
        p.join(lab, Seq("id"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
               (sum(expr("CAST(round(p * p, 8) AS DECIMAL(28,8))")) / count(lit(1)))
                 .cast("decimal(28,8)").cast("double").as("var_explained"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $oBase,
                    p AS (SELECT id,
                                 CAST(SUM(CAST(round(v * w, 8) AS DECIMAL(28,8)))
                                      AS DOUBLE) AS p
                          FROM e JOIN w$K USING (pos) GROUP BY id),
                    lab AS (SELECT vec_id AS id, label FROM embeddings)
               SELECT label, COUNT(*) AS n,
                      CAST(CAST(SUM(CAST(round(p * p, 8) AS DECIMAL(28,8)))
                                / COUNT(*) AS DECIMAL(28,8)) AS DOUBLE)
                        AS var_explained
               FROM p JOIN lab USING (id)
               GROUP BY label ORDER BY label""")),

    // ABTT APPLY ("all-but-the-top", Mu & Viswanath 2018's
    // postprocessing): subtract each vector's top-direction projection,
    // v' = v − p·w, and report the per-label mean squared norm before
    // and after — the energy actually removed from each label's slice.
    // One more linear pass after the power iteration: the projection is
    // the same per-id matvec as llm_pca_explained (broadcast 64-row w,
    // map-combined reduce), then the removal is a scalar projection
    // joined back onto the exploded stream by (id) — never a second
    // corpus shuffle beyond the per-id reduce it rides. Exactness: the
    // removal term p·w rounds at 8 and the subtraction is one IEEE op;
    // both squared-norm means sum rounded scale-8 terms in decimal.
    "llm_abtt_apply" -> Q(
      (s, dir) => {
        val e = explodedStage(s, dir)
        // w and p stay LAZY on purpose: localCheckpoint-ing either (or
        // both) was measured 12-40% SLOWER (7.2 s lazy vs 8.1/10.1 s
        // checkpointed at sf0.1) — the eager jobs serialize what the
        // single final plan otherwise pipelines, and exchange reuse
        // already shares the direction subtree between its two uses.
        val w = topDirStage(s, dir)
        val p = e.join(broadcast(w), Seq("pos"))
          .groupBy(col("id"))
          .agg(sum(expr("CAST(round(v * w, 8) AS DECIMAL(28,8))"))
                 .cast("double").as("p"))
        val removed = e.join(broadcast(w), Seq("pos"))
          .join(p, Seq("id"))
          .withColumn("vr", col("v") - round(col("p") * col("w"), 8))
        val lab = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("label"))
        removed.join(lab, Seq("id"))
          .groupBy(col("label"))
          .agg(countDistinct(col("id")).as("n"),
               (sum(expr("CAST(round(v * v, 8) AS DECIMAL(28,8))"))
                  / countDistinct(col("id")))
                 .cast("decimal(28,8)").cast("double").as("mean_sq_before"),
               (sum(expr("CAST(round(vr * vr, 8) AS DECIMAL(28,8))"))
                  / countDistinct(col("id")))
                 .cast("decimal(28,8)").cast("double").as("mean_sq_after"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $oBase,
                    p AS (SELECT id,
                                 CAST(SUM(CAST(round(v * w, 8) AS DECIMAL(28,8)))
                                      AS DOUBLE) AS p
                          FROM e JOIN w$K USING (pos) GROUP BY id),
                    r AS (SELECT e.id, e.v,
                                 e.v - round(p.p * w.w, 8) AS vr
                          FROM e JOIN w$K w USING (pos)
                                 JOIN p ON p.id = e.id),
                    lab AS (SELECT vec_id AS id, label FROM embeddings)
               SELECT label, COUNT(DISTINCT r.id) AS n,
                      CAST(CAST(SUM(CAST(round(v * v, 8) AS DECIMAL(28,8)))
                                / COUNT(DISTINCT r.id) AS DECIMAL(28,8))
                           AS DOUBLE) AS mean_sq_before,
                      CAST(CAST(SUM(CAST(round(vr * vr, 8) AS DECIMAL(28,8)))
                                / COUNT(DISTINCT r.id) AS DECIMAL(28,8))
                           AS DOUBLE) AS mean_sq_after
               FROM r JOIN lab USING (id)
               GROUP BY label ORDER BY label"""))
  )

  /** Shared oracle prefix: exploded table, start vector, K unrolled
    * iterations (w$K is the final direction). */
  private def oBase: String =
    s"""e AS (SELECT vec_id AS id, i - 1 AS pos,
                     CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1,
                              len(embedding))) AS i) g),
        w0 AS (SELECT DISTINCT pos, 0.125 AS w FROM e),
        ${(1 to K).map(oIter).mkString(",\n")}"""
}
