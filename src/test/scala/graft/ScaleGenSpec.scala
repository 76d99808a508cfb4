package graft

import org.apache.spark.sql.functions._

/** graft.ScaleGen is the scale-evidence instrument (BASELINE.md §r8-sf1):
  * if its replication invariants drift, every exponent table measured on
  * its output silently measures the wrong corpus. Pin them at factor=2
  * over sf0.001 in a temp dir.
  */
class ScaleGenSpec extends SparkSuite {

  private var outDir: java.nio.file.Path = _

  private lazy val out: String = {
    outDir = java.nio.file.Files.createTempDirectory("scalegen_spec")
    ScaleGen.run(spark, sf, outDir.toString, 2)
    outDir.toString
  }

  override def afterAll(): Unit = {
    // a factor-2 parquet copy per run is too big to leak
    if (outDir != null) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    super.afterAll()
  }

  test("row counts scale by the factor; dims copy as-is") {
    assert(Tables.lineitem(spark, out).count() ==
           Tables.lineitem(spark, sf).count() * 2)
    assert(Tables.documents(spark, out).count() ==
           Tables.documents(spark, sf).count() * 2)
    assert(Tables.nation(spark, out).count() == Tables.nation(spark, sf).count())
    assert(Tables.region(spark, out).count() == Tables.region(spark, sf).count())
  }

  test("replica key ranges are disjoint and FKs stay replica-consistent") {
    // stride = max+1: replica 1's keys all sit above replica 0's
    val src = Tables.orders(spark, sf)
    val maxKey = src.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val rep = Tables.orders(spark, out)
    assert(rep.filter(col("o_orderkey") > maxKey).count() == src.count())
    // every replicated lineitem row still joins an order (FK preserved
    // under the per-replica stride shift)
    val orphans = Tables.lineitem(spark, out).select(col("l_orderkey"))
      .join(rep.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(orphans.count() == 0, "replicated lineitem has orphan orderkeys")
  }

  test("FKs across tables use domain strides: no orphan custkey/partkey/suppkey") {
    // the ADVICE.md r8 finding: per-table strides silently orphan
    // o_custkey whenever max(o_custkey) < max(c_custkey). Domain strides
    // (customer owns *custkey, part/supplier own *partkey/*suppkey) must
    // leave zero orphans in every FK direction.
    def orphanCount(fact: org.apache.spark.sql.DataFrame, fk: String,
                    dim: org.apache.spark.sql.DataFrame, pk: String): Long =
      fact.select(col(fk)).join(dim.select(col(pk)),
        col(fk) === col(pk), "left_anti").count()
    val cust = Tables.customer(spark, out)
    val ord = Tables.orders(spark, out)
    val li = Tables.lineitem(spark, out)
    assert(orphanCount(ord, "o_custkey", cust, "c_custkey") == 0,
           "replicated orders reference missing customers")
    assert(orphanCount(li, "l_partkey", Tables.part(spark, out), "p_partkey") == 0,
           "replicated lineitem references missing parts")
    assert(orphanCount(li, "l_suppkey", Tables.supplier(spark, out), "s_suppkey") == 0,
           "replicated lineitem references missing suppliers")
    // and the shift is replica-LOCAL: replica 1's orders reference only
    // replica 1's customers (keys above the replica-0 customer range)
    val custStride = Tables.customer(spark, sf)
      .agg(max(col("c_custkey").cast("long"))).collect()(0).getLong(0) + 1L
    val nOrig = Tables.orders(spark, sf).count()
    val crossReplica = ord
      .filter(col("o_orderkey") >= orderKeyStride)
      .filter(col("o_custkey") < custStride)
    assert(crossReplica.count() == 0,
           s"replica-1 orders (of ${nOrig * 2} total) reference replica-0 customers")
  }

  private lazy val orderKeyStride: Long = Tables.orders(spark, sf)
    .agg(max(col("o_orderkey").cast("long"))).collect()(0).getLong(0) + 1L

  test("replica shingle vocabularies are disjoint (near-dup pairs stay linear)") {
    // replica-1 docs tag every token with '~1', so NO 3-shingle can be
    // shared with replica 0 — the invariant that keeps the true near-dup
    // pair set growing linearly with the factor
    val nDocs = Tables.documents(spark, sf).count()
    val sh = Tables.documents(spark, out)
      .withColumn("replica", when(col("doc_id") < nDocs, 0).otherwise(1))
      .select(col("replica"),
              explode(expr("shingles3(split(lower(trim(text)), ' '))")).as("tok"))
    val shared = sh.groupBy(col("tok"))
      .agg(countDistinct(col("replica")).as("reps"))
      .filter(col("reps") > 1)
    assert(shared.count() == 0, "replicas share shingles")
  }

  test("embedding jitter keeps replicas distinct but close; replica 0 bit-identical") {
    val nVecs = Tables.embeddings(spark, sf).count()
    val src = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("e_src"))
    val rep = Tables.embeddings(spark, out)
    // replica 0 is untouched
    val r0diff = rep.filter(col("vec_id") < nVecs)
      .join(src, Seq("vec_id"))
      .filter(col("embedding") =!= col("e_src"))
    assert(r0diff.count() == 0, "replica 0 embeddings were perturbed")
    // replica 1 differs from its source vector, but by less than 1e-2
    // per component (deterministic 1e-3-scale sin jitter)
    val r1 = rep.filter(col("vec_id") >= nVecs)
      .withColumn("vec_id", col("vec_id") - nVecs)
      .join(src, Seq("vec_id"))
      .withColumn("maxdiff", expr(
        """array_max(zip_with(embedding, e_src,
             (a, b) -> abs(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))))"""))
    val stats = r1.agg(min(col("maxdiff")), max(col("maxdiff"))).collect()(0)
    assert(stats.getDouble(0) > 0.0, "a replica-1 vector is bit-identical to source")
    assert(stats.getDouble(1) < 1e-2, s"jitter too large: ${stats.getDouble(1)}")
  }
}
