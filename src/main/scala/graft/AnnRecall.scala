package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HONEST radius-vs-recall measurement for the sign-code multiprobe ANN
  * plan (r10 VERDICT #4).
  *
  * The driver fixture's embeddings are near-isotropic: a query's exact
  * top-10 sit at θ ≈ 70°, so each of the 4 sign hyperplanes disagrees
  * with probability p = θ/π ≈ 0.39 and the hamming-≤3 ball (15/16
  * codes) reaches recall 1.0 TRIVIALLY — the declared multiprobe key's
  * measured 1.0 says nothing about the radius knob. This tool PLANTS
  * near-duplicate clusters so recall < 1 is possible at every radius
  * and the radius→recall ladder is a real curve:
  *
  *  - the first `centers` fixture vectors become cluster centers and
  *    the probe set (the center itself is never in the corpus);
  *  - each center spawns `members` corpus vectors at three planted
  *    tightness tiers (eps = 0.15 / 0.40 / 0.80 × the per-component
  *    RMS, giving θ ≈ 6° / 16° / 29°) via a DETERMINISTIC sin-indexed
  *    jitter (no RNG — reruns bit-identical, the ScaleGen discipline);
  *  - ground truth = exact cosine top-10 per probe over the planted
  *    corpus; the approx answer at radius r = top-10 among the corpus
  *    vectors whose 4-bit sign code lies within hamming r of the
  *    probe's code — the same code/ball definition as the declared
  *    llm_sim_topk_multiprobe and llm_ann_partitioned keys.
  *
  * Prints one JSON line per radius r ∈ {0,1,2,3}: mean recall@10 over
  * probes, the probed code fraction, and the mean exact-neighbor angle
  * (documenting that the planted geometry is near-dup, not isotropic).
  * The declared ANN keys are untouched — this is a measurement tool;
  * BASELINE.md records the table.
  *
  * WIDTH mode (r12 VERDICT #3 — the lake at realistic cell counts):
  * `--widths=4,6,8` measures the recall-vs-probe-cost curve as the
  * bucket code WIDENS (cells = 2^w: 16 → 64 → 256; at 100 TB the lake
  * holds thousands of cells, so how recall decays and probe cost
  * shrinks with width is the capacity-planning curve). Per (w, r):
  * planted recall@10 within the hamming-r ball, probed-cell count
  * Σ C(w,k), and the OCCUPANCY-WEIGHTED fraction of the real
  * embeddings corpus inside the ball (mean over probes — the honest
  * I/O cost; cell occupancy is not uniform), plus a wall-clock probe
  * of the materialized width-w lake (Similarity.annLakeW) at r = 1.
  *
  * Usage: runMain graft.AnnRecall <sfDir> [centers=64] [members=16]
  *          [epsScale=1.0] [--widths=4,6,8]
  */
object AnnRecall {

  /** Same 4-bit hyperplane sign code as Similarity.codeE (kept textually
    * identical so this tool measures the SHIPPED bucketing). */
  private val codeE =
    """CAST(CASE WHEN element_at(embedding, 1) > 0 THEN 8 ELSE 0 END +
            CASE WHEN element_at(embedding, 2) > 0 THEN 4 ELSE 0 END +
            CASE WHEN element_at(embedding, 3) > 0 THEN 2 ELSE 0 END +
            CASE WHEN element_at(embedding, 4) > 0 THEN 1 ELSE 0 END AS INT)"""

  /** XOR masks of the hamming ball, nearest-first (Similarity.ballMasks
    * plus the full-flip 15 so radius 4 = everything, for reference). */
  private val masksByRadius: Map[Int, Seq[Int]] = Map(
    0 -> Seq(0),
    1 -> Seq(0, 1, 2, 4, 8),
    2 -> Seq(0, 1, 2, 4, 8, 3, 5, 6, 9, 10, 12),
    3 -> Seq(0, 1, 2, 4, 8, 3, 5, 6, 9, 10, 12, 7, 11, 13, 14))

  /** Planted corpus + probes. Returns (corpus, probes): corpus rows are
    * (vec_id, center_id, tier, embedding, bucket); probes are the raw
    * centers (center_id, q_emb, q_bucket). */
  def plant(s: SparkSession, dir: String, centers: Int, members: Int,
            epsScale: Double = 1.0): (DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, dir)
      .filter(col("vec_id") < centers)
      .select(col("vec_id").as("center_id"), col("embedding"))
    // per-component RMS of the center: jitter scales with the vector's
    // own magnitude so the planted angle is norm-independent
    val withRms = base.withColumn("rms",
      expr("sqrt(vec_dot(embedding, embedding) / size(embedding))"))
    val mIdx = broadcast(s.range(1, members.toLong + 1)
      .select(col("id").cast("int").as("m")))
    val corpus = withRms.crossJoin(mIdx)
      .withColumn("tier", col("m") % 3)
      .withColumn("eps",
        when(col("tier") === 0, 0.15)
          .when(col("tier") === 1, 0.40)
          .otherwise(0.80) * epsScale * col("rms"))
      .withColumn("embedding", expr(
        // deterministic member jitter: sin over (center, member, dim)
        """transform(embedding, (x, j) ->
             CAST(x + eps * sin(CAST(center_id AS DOUBLE) * 37.0 +
                                CAST(m AS DOUBLE) * 7.0 +
                                CAST(j AS DOUBLE) * 1.7) AS FLOAT))"""))
      .withColumn("vec_id", col("center_id") * 1000L + col("m"))
      .withColumn("bucket", expr(codeE))
      .select(col("vec_id"), col("center_id"), col("tier"),
              col("embedding"), col("bucket"))
    val probes = base
      .withColumn("q_bucket", expr(codeE))
      .select(col("center_id").as("q_center"),
              col("embedding").as("q_emb"), col("q_bucket"))
    (corpus, probes)
  }

  private def choose(n: Int, k: Int): Long =
    if (k < 0 || k > n) 0L
    else (0 until k).foldLeft(1L)((a, i) => a * (n - i) / (i + 1))

  /** The --widths mode: recall-vs-probe-cost as the bucket code widens.
    * Codes for every requested width are computed ONCE as small int
    * columns on the planted corpus / probes / real embeddings (vectors
    * never ride the per-width loops), ball membership is
    * `bit_count(b ^ qb) <= r` (no mask enumeration at any width), and
    * the real-lake probe cost is the occupancy-weighted corpus fraction
    * plus a wall-clock hamming-1 probe of the materialized width-w lake
    * (the same Memo layout + broadcast-probe DPP path the declared
    * llm_ann_partitioned key uses). */
  private def widthCurve(spark: SparkSession, dir: String, centers: Int,
                         members: Int, epsScale: Double, ws: Seq[Int]): Unit = {
    import graft.llm.{Memo, Similarity}
    val (corpus0, probes0) = plant(spark, dir, centers, members, epsScale)
    def withCodes(df: DataFrame, emb: String, pfx: String) = {
      val renamed = df.withColumnRenamed(emb, "embedding")
      val coded = ws.foldLeft(renamed)((d, w) =>
        d.withColumn(s"$pfx$w", expr(Similarity.codeEW(w))))
      coded.withColumnRenamed("embedding", emb)
    }
    val corpus = Memo.cut(spark)(
      withCodes(corpus0.drop("bucket"), "embedding", "b"))
    val probes = Memo.cut(spark)(
      withCodes(probes0.drop("q_bucket"), "q_emb", "qb"))
    // all (probe, corpus) cosines once; every (width, radius) filters it
    val scored = Memo.cut(spark)(corpus
      .crossJoin(broadcast(probes))
      .withColumn("cos",
        expr("vec_dot(embedding, q_emb) / " +
             "(sqrt(vec_dot(embedding, embedding)) * sqrt(vec_dot(q_emb, q_emb)))"))
      .select(Seq(col("q_center"), col("vec_id"), col("cos")) ++
              ws.flatMap(w => Seq(col(s"b$w"), col(s"qb$w"))): _*))
    val w10 = Window.partitionBy(col("q_center"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = Memo.cut(spark)(scored
      .withColumn("rk", row_number().over(w10)).filter(col("rk") <= 10)
      .select(col("q_center"), col("vec_id")))
    // real-corpus occupancy: per-width codes of the WHOLE embeddings
    // table, vectors dropped before the probe cross (ints only)
    val ecodes = Memo.cut(spark)(
      withCodes(Tables.embeddings(spark, dir), "embedding", "e")
        .select(ws.map(w => col(s"e$w")): _*))
    val totalRows = ecodes.count()
    ws.foreach { w =>
      // wall-clock hamming-1 probe of the materialized width-w lake
      // (built on first use; its build cost is the lake write, charged
      // here deliberately as "t_lake_build_s" the first time)
      val tB0 = System.nanoTime()
      val lake = Similarity.annLakeW(spark, dir, w)
      lake.select(col("bucket")).distinct().count() // force the build
      val tBuild = (System.nanoTime() - tB0) / 1e9
      val tP0 = System.nanoTime()
      val qside = lake.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
        .withColumn("flip", explode(array((0 +: (0 until w).map(1 << _))
          .map(lit(_)): _*)))
        .select(col("q_emb"), col("q_bucket").bitwiseXOR(col("flip")).as("probe"))
      lake.filter(col("vec_id") =!= 0)
        .join(broadcast(qside), col("bucket") === col("probe"))
        .withColumn("cos",
          expr("vec_dot(embedding, q_emb) / " +
               "(sqrt(vec_dot(embedding, embedding)) * sqrt(vec_dot(q_emb, q_emb)))"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10).collect()
      val tProbe = (System.nanoTime() - tP0) / 1e9
      (0 to 3).foreach { r =>
        val inBall = scored.filter(
          expr(s"bit_count(b$w ^ qb$w)") <= r)
        val approx = inBall
          .withColumn("rk", row_number().over(w10)).filter(col("rk") <= 10)
          .select(col("q_center"), col("vec_id"))
        val recall = approx.join(exact, Seq("q_center", "vec_id"))
          .groupBy(col("q_center")).agg(count(lit(1)).as("hits"))
          .join(probes.select(col("q_center")), Seq("q_center"), "right")
          .agg(avg(coalesce(col("hits"), lit(0L)) / 10.0))
          .collect()(0).getDouble(0)
        val probedCells = (0 to r).map(k => choose(w, k)).sum
        val corpusFrac = ecodes
          .crossJoin(broadcast(probes.select(col("q_center"), col(s"qb$w"))))
          .filter(expr(s"bit_count(e$w ^ qb$w)") <= r)
          .groupBy(col("q_center")).agg(count(lit(1)).as("n"))
          .join(probes.select(col("q_center")), Seq("q_center"), "right")
          .agg(avg(coalesce(col("n"), lit(0L)) / totalRows.toDouble))
          .collect()(0).getDouble(0)
        println(f"""{"metric":"ann_width","bits":$w,"radius":$r,"recall":$recall%.4f,"probed_cells":$probedCells,"cells":${1L << w},"corpus_frac":$corpusFrac%.4f,"t_lake_build_s":$tBuild%.2f,"t_lake_probe_h1_s":$tProbe%.2f,"centers":$centers,"members":$members,"eps_scale":$epsScale,"dir":"$dir"}""")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val widths = args.find(_.startsWith("--widths"))
      .map(_.split("=")(1).split(",").toSeq.map(_.trim.toInt))
    val dir = pos.lift(0).getOrElse("/root/testdata/sf0.1")
    sys.props("graft.fixtures.sf") = dir // r14: sf-scoped fixture tree
    val centers = pos.lift(1).map(_.toInt).getOrElse(64)
    val members = pos.lift(2).map(_.toInt).getOrElse(16)
    // epsScale > 1 loosens the planted clusters (bigger θ, more bucket
    // crossings) so the curve can be recorded at several geometries
    val epsScale = pos.lift(3).map(_.toDouble).getOrElse(1.0)
    val spark = Session.local()

    if (widths.isDefined) {
      widthCurve(spark, dir, centers, members, epsScale, widths.get)
      spark.stop(); return
    }

    val (corpus0, probes) = plant(spark, dir, centers, members, epsScale)
    val corpus = graft.llm.Memo.cut(spark)(corpus0) // scored 4x below
    // all (probe, corpus) cosines once; every radius filters this table.
    // probes are a bounded broadcast (≤ centers rows); the corpus side
    // scales out — the same shape the declared multiprobe key uses.
    val scored = graft.llm.Memo.cut(spark)(corpus
      .crossJoin(broadcast(probes))
      .withColumn("cos",
        expr("vec_dot(embedding, q_emb) / " +
             "(sqrt(vec_dot(embedding, embedding)) * sqrt(vec_dot(q_emb, q_emb)))"))
      .select(col("q_center"), col("q_bucket"), col("vec_id"),
              col("bucket"), col("cos")))
    val w = Window.partitionBy(col("q_center"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = graft.llm.Memo.cut(spark)(scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_center"), col("vec_id"),
              (acos(greatest(lit(-1.0), least(lit(1.0), col("cos"))))
                 * 180.0 / math.Pi).as("theta_deg")))
    val meanTheta = exact.agg(avg(col("theta_deg"))).collect()(0).getDouble(0)
    (0 to 3).foreach { r =>
      val masks = masksByRadius(r)
      val inBall = scored.filter(
        masks.map(m => col("bucket") === col("q_bucket").bitwiseXOR(lit(m)))
          .reduce(_ || _))
      val approx = inBall
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("q_center"), col("vec_id"))
      val recall = approx.join(exact.select(col("q_center"), col("vec_id")),
                               Seq("q_center", "vec_id"))
        .groupBy(col("q_center")).agg(count(lit(1)).as("hits"))
        // a probe whose ball catches nothing scores 0, not absent
        .join(probes.select(col("q_center")), Seq("q_center"), "right")
        .agg(avg(coalesce(col("hits"), lit(0L)) / 10.0))
        .collect()(0).getDouble(0)
      println(f"""{"metric":"ann_recall","radius":$r,"recall":$recall%.4f,"probed_codes":${masks.size},"probed_frac":${masks.size / 16.0}%.4f,"mean_exact_theta_deg":$meanTheta%.1f,"centers":$centers,"members":$members,"eps_scale":$epsScale,"dir":"$dir"}""")
    }
    spark.stop()
  }
}
