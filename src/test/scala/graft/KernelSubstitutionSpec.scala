package graft

import org.apache.spark.sql.functions._

/** The declarative-in/kernel-out contract: the optimizer rewrites the
  * `aggregate(zip_with(...))` dot-product fold to the codegen `vec_dot`
  * kernel, bit-identically. The rule is in every installed session
  * ([[Tables.configure]]), so the reference bits come from the same
  * sequential double fold computed on the driver. */
class KernelSubstitutionSpec extends SparkSuite {
  import spark.implicits._

  private val foldSql =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                 CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""

  // Parquet-backed, NOT literal rows: ConvertToLocalRelation would
  // constant-fold a literal projection before user rules ever run.
  private def vectors =
    Tables.embeddings(spark, sf)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))

  test("rule rewrites the fold to vec_dot and preserves bits") {
    val rewritten = vectors.selectExpr("a", "b", s"$foldSql AS dot")
    val plan = rewritten.queryExecution.optimizedPlan.toString
    assert(plan.contains("vec_dot"), s"kernel not substituted:\n$plan")
    val rows = rewritten.as[(Seq[Float], Seq[Float], Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, k) =>
      val f = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      assert(java.lang.Double.doubleToLongBits(k) ==
             java.lang.Double.doubleToLongBits(f), s"bit drift: $k vs $f")
    }
  }

  test("rule leaves non-matching folds alone") {
    // sum-of-squares over ints — different shape, must not rewrite
    val df = Seq((Array(1, 2, 3), Array(4, 5, 6))).toDF("p", "q")
    val kept = df.selectExpr(
      "aggregate(zip_with(p, q, (x, y) -> x + y), 0, (acc, v) -> acc + v) AS s")
    assert(!kept.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    assert(kept.as[Int].collect().sameElements(Array(21)))
  }
}
