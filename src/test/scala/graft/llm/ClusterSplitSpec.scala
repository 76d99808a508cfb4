package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins llm_split_clustersafe's CONTAMINATION property at the pair level
  * — the thing a user actually needs, stronger than the structural
  * "split = f(representative)" argument: no near-dup pair (and by the
  * component transitivity the label stage computes, no chain of them)
  * may straddle train/val/test. Also pins that the naive doc_id-hash
  * split (llm_split_train's key) DOES leak on the same fixture, so the
  * property is non-vacuous: the cluster-safe key exists because the
  * cheap one fails exactly here. */
class ClusterSplitSpec extends AnyFunSuite with graft.SparkSuite {

  test("llm_split_clustersafe: no near-dup pair straddles splits; naive split leaks") {
    val labels = Pipeline.clusterLabels(spark, sf)
      .select(col("id").as("doc_id"), col("lbl").as("rep"))
    val assign = graft.Tables.documents(spark, sf)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("doc_id")))
      .withColumn("b",
        expr("tid60(concat('csplit:', CAST(rep AS STRING))) % 1000000") % 10)
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"))
    val pairs = Dedup.nearPairs(spark, sf).select(col("id_a"), col("id_b"))
    assert(pairs.count() > 0, "fixture has no near-dup pairs — property vacuous")
    val straddling = pairs
      .join(assign.withColumnRenamed("doc_id", "id_a")
                  .withColumnRenamed("split", "split_a"), Seq("id_a"))
      .join(assign.withColumnRenamed("doc_id", "id_b")
                  .withColumnRenamed("split", "split_b"), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
    assert(straddling.count() == 0,
      s"near-dup pairs straddle splits: ${straddling.take(5).mkString(", ")}")

    // Non-vacuity: the doc_id-keyed split DOES put some near-dup pair in
    // two different splits on this fixture (the leak the cluster-safe
    // key exists to prevent). If this ever starts passing 0, the fixture
    // stopped exercising the property and both assertions mean nothing.
    val naive = graft.Tables.documents(spark, sf)
      .withColumn("b",
        expr("tid60(concat('split:', CAST(doc_id AS STRING))) % 1000000") % 10)
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"))
    val naiveLeaks = pairs
      .join(naive.withColumnRenamed("doc_id", "id_a")
                 .withColumnRenamed("split", "split_a"), Seq("id_a"))
      .join(naive.withColumnRenamed("doc_id", "id_b")
                 .withColumnRenamed("split", "split_b"), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .count()
    assert(naiveLeaks > 0,
      "doc_id-hash split no longer leaks on this fixture — " +
      "the cluster-safe property test has gone vacuous")
  }
}
