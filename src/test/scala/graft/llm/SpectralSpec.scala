package graft.llm

import graft.{Registry, SparkSuite}
import org.apache.spark.sql.functions._

/** PCA power iteration: plan shape (linear joins, never all-pairs) and
  * the two analytic invariants that pin the math — unit norm, and exact
  * recovery of a rank-1 corpus's direction. */
class SpectralSpec extends SparkSuite {

  test("power iteration builder: equi-joins + 1-row norm anchors only, no cartesian") {
    // Since the r10 stage memoization the declared key reads a
    // checkpointed direction table, so the iteration's plan is audited
    // at the un-memoized builder over a locally-built exploded table.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
              posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("id"), col("pos"), col("vf").cast("double").as("v"))
    val p = Spectral.topDirection(e).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"power iteration must never pair vectors directly:\n$p")
  }

  test("array-native stage is bit-identical to the exploded-join builder") {
    // r15 optimization: topDirCompute runs the iteration as per-row
    // decimal folds + one wide per-position aggregate (no explode, no
    // corpus shuffle). Every cross-row sum is over exact DECIMAL(28,8)
    // terms, so the result must equal the audited exploded-join builder
    // BIT-FOR-BIT, not approximately.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
              posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("id"), col("pos"), col("vf").cast("double").as("v"))
    val ref = Spectral.topDirection(e).orderBy(col("pos")).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    val opt = Spectral.topDirStage(spark, sf).orderBy(col("pos")).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(ref.length == opt.length && ref.nonEmpty,
      s"row counts differ: ref ${ref.length} vs stage ${opt.length}")
    ref.zip(opt).foreach { case ((rp, rw), (op, ow)) =>
      assert(rp == op && java.lang.Double.doubleToRawLongBits(rw) ==
        java.lang.Double.doubleToRawLongBits(ow),
        s"pos $rp: builder $rw != stage $ow (bitwise)")
    }
  }

  test("pca_topdir: an all-null embeddings column fails loudly under legacy size(null) = -1") {
    // Non-ANSI sessions with legacy sizeOfNull read size(null) as -1, so
    // max(size(varr)) over an all-null column is -1, not null: the guard
    // must reject dim <= 0 too, not only a null max.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "false")
    s2.conf.set("spark.sql.legacy.sizeOfNull", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_pca_null").toString
    s2.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null), org.apache.spark.sql.Row(2L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
      .write.parquet(s"$dir/embeddings.parquet")
    assert(s2.read.parquet(s"$dir/embeddings.parquet")
      .agg(max(size(col("embedding")))).head().getInt(0) == -1,
      "session does not reproduce the legacy size(null) = -1 reading")
    val e = intercept[IllegalStateException](Spectral.topDirStage(s2, dir))
    assert(e.getMessage.contains("all-null"), e.getMessage)
  }

  test("llm_pca_power: result is a unit vector over the embedding dims") {
    val rows = Registry.byName("llm_pca_power").fn(spark, sf).collect()
    assert(rows.length == 64, s"expected 64 dims, got ${rows.length}")
    val norm2 = rows.map(_.getDouble(1)).map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"direction not unit-norm: |w|^2 = $norm2")
  }

  test("rank-1 corpus: power iteration recovers the generating direction") {
    // Every vector = s_i * d for a fixed unit d (positive multiples) —
    // the top principal direction IS d, and one iteration already lands
    // on it. 8-dim toy corpus through a temp view + the same SQL shapes.
    val d = Array(0.6, 0.0, 0.8, 0.0, 0.0, 0.0, 0.0, 0.0)
    val rows = (1 to 20).map { i =>
      (i.toLong, d.map(x => (x * (0.3 + 0.05 * i)).toFloat))
    }
    val df = spark.createDataFrame(rows).toDF("id", "embedding")
    val e = df.select(col("id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("id"), col("pos"), col("vf").cast("double").as("v"))
    // one un-normalized half step from uniform start, then normalize:
    val w0 = e.select(col("pos")).distinct().withColumn("w", lit(0.125))
    val u = e.join(w0, Seq("pos")).groupBy(col("id"))
      .agg(sum(col("v") * col("w")).as("u"))
    val wp = e.join(u, Seq("id")).groupBy(col("pos"))
      .agg(sum(col("v") * col("u")).as("wp"))
    val nrm = math.sqrt(wp.agg(sum(col("wp") * col("wp"))).first.getDouble(0))
    val w = wp.collect().map(r => r.getInt(0) -> r.getDouble(1) / nrm).toMap
    (0 until 8).foreach { pos =>
      assert(math.abs(w(pos) - d(pos)) < 1e-6,
        s"pos $pos: got ${w(pos)}, want ${d(pos)}")
    }
  }
}
