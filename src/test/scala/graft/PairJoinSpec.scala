package graft

import graft.operators.PairJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[PairJoin]] contract on degenerate and adversarial input: every
  * candidate-pair operator in the engine inherits it, so each case is
  * pinned against a brute-force pair set computed on the driver. */
class PairJoinSpec extends SparkSuite {
  import spark.implicits._

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** (id, k, band) rows for the block and band cases. */
  private val rows: Seq[(Long, String, Long)] =
    (1L to 24L).map(i => (i, if (i % 3 == 0) "x" else "y", (i * 7) % 6))

  test("candidates: empty table, single row and null block keys give no pair") {
    val empty = Seq.empty[(Long, String)].toDF("id", "k")
    assert(PairJoin.candidates(empty, Seq("k"), "id").count() == 0)
    assert(PairJoin.candidates(empty, Seq("k"), "id", distinct = Seq("k")).count() == 0)
    val one = Seq((1L, "x")).toDF("id", "k")
    assert(PairJoin.candidates(one, Seq("k"), "id").count() == 0)
    assert(PairJoin.candidates(one, Seq("k"), "id", asymmetric = true).count() == 0)
    val nulls = Seq((1L, null: String), (2L, null: String), (3L, "x"), (4L, "x")).toDF("id", "k")
    assert(pairs(PairJoin.candidates(nulls, Seq("k"), "id")) == Seq((3L, 4L)),
      "a null block key must never form a pair")
  }

  test("candidates: one block holding every row gives each of n(n-1)/2 pairs once") {
    val n = 30L
    val t = (1L to n).map(i => (i, "all", i * 10)).toDF("id", "k", "v")
    val got = PairJoin.candidates(t, Seq("k"), "id", Seq("v"))
    val ps = pairs(got)
    assert(ps.size == n * (n - 1) / 2)
    assert(ps.distinct.size == ps.size, "a pair was emitted twice")
    assert(ps.forall { case (a, b) => a < b }, "pair not in canonical id_a < id_b order")
    // carried columns ride with their own side
    assert(got.filter(col("v_a") =!= col("id_a") * 10 || col("v_b") =!= col("id_b") * 10)
      .count() == 0)
    // the same rows blocked twice (two bands): distinct collapses the repeats
    val twice = t.withColumn("band", explode(array(lit(0), lit(1))))
    val d = PairJoin.candidates(twice, Seq("k", "band"), "id", distinct = Seq("k"))
    assert(d.columns.toSeq == Seq("k", "id_a", "id_b"))
    assert(d.count() == n * (n - 1) / 2)
  }

  test("candidates: asymmetric mode emits both orientations, never a self pair") {
    val t = rows.toDF("id", "k", "band")
    val want = for { (a, ka, _) <- rows; (b, kb, _) <- rows if ka == kb && a != b } yield (a, b)
    assert(pairs(PairJoin.candidates(t, Seq("k"), "id", asymmetric = true)).sorted == want.sorted)
  }

  test("candidates: a ±1 band probe finds each qualifying pair exactly once, from either side") {
    val t = rows.toDF("id", "k", "band")
    val want = for {
      (a, ka, ba) <- rows; (b, kb, bb) <- rows
      if ka == kb && a < b && math.abs(ba - bb) <= 1
    } yield (a, b)
    assert(want.nonEmpty && want.size < rows.size * (rows.size - 1) / 2,
      "band fixture must both keep and prune pairs")
    Seq(PairJoin.A, PairJoin.B).foreach { side =>
      val got = pairs(PairJoin.candidates(t, Seq("k", "band"), "id", probe = side))
      assert(got.sorted == want.sorted, s"probe on side $side")
    }
  }

  test("candidates: the on predicate runs over the suffixed carried columns") {
    val t = rows.toDF("id", "k", "band")
    val want = for {
      (a, ka, ba) <- rows; (b, kb, bb) <- rows if ka == kb && a < b && ba + bb == 5
    } yield (a, b)
    val got = PairJoin.candidates(t, Seq("k"), "id", Seq("band"),
      on = Some(col("band_a") + col("band_b") === 5))
    assert(pairs(got).sorted == want.sorted)
  }

  test("attach: payload joins both sides by id; an empty pair table stays empty") {
    val t = rows.toDF("id", "k", "band")
    val payload = rows.map { case (i, _, _) => (i, s"p$i") }.toDF("pid", "p")
    val got = PairJoin.attach(PairJoin.candidates(t, Seq("k"), "id"), payload, "pid", Seq("p"))
    assert(got.filter(col("p_a") =!= concat(lit("p"), col("id_a").cast("string")) ||
                      col("p_b") =!= concat(lit("p"), col("id_b").cast("string"))).count() == 0)
    assert(got.count() == PairJoin.candidates(t, Seq("k"), "id").count())
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(PairJoin.attach(none, payload, "pid", Seq("p")).count() == 0)
  }

  /** Driver reference for one sorted-neighbourhood pass. */
  private def windowRef(w: Int): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { blk =>
      val sorted = blk.sortBy(r => (r._3, r._1)).map(_._1)
      for { i <- sorted.indices; j <- i + 1 to math.min(i + w, sorted.size - 1) }
        yield (math.min(sorted(i), sorted(j)), math.max(sorted(i), sorted(j)))
    }.toSet

  test("neighbors: matches a brute-force window, and W >= block size yields every block pair") {
    val t = rows.toDF("id", "k", "band")
    Seq(1, 3).foreach { w =>
      val got = pairs(PairJoin.neighbors(t, Seq("k"), "band", "id", w))
      assert(got.distinct.size == got.size, s"W=$w: a pair was emitted twice in one pass")
      assert(got.toSet == windowRef(w), s"W=$w")
    }
    val all = for { (a, ka, _) <- rows; (b, kb, _) <- rows if ka == kb && a < b } yield (a, b)
    val big = rows.size
    assert(windowRef(big) == all.toSet)
    assert(pairs(PairJoin.neighbors(t, Seq("k"), "band", "id", big)).toSet == all.toSet)
    val got = PairJoin.neighbors(t, Seq("k"), "band", "id", 2, Seq("band"))
    assert(got.columns.toSeq == Seq("id_a", "id_b", "band_a", "band_b"))
    assert(got.filter(col("band_a") > col("band_b")).count() == 0,
      "the A side must be the row earlier in the sort order")
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "k", "band")
    assert(PairJoin.neighbors(empty, Seq("k"), "band", "id", 3).count() == 0)
    val one = Seq((1L, "x", 0L)).toDF("id", "k", "band")
    assert(PairJoin.neighbors(one, Seq("k"), "band", "id", 3).count() == 0)
  }

  test("mutualBest: a hub keeps only its own best partner") {
    // the hub 1 is the best match of 2 and 3, and its own best is 2; 4
    // prefers 3, but 3 prefers the hub, so (3, 4) is not mutual. (5, 6) is.
    val scored = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (1L, 4L, 0.7), (2L, 3L, 0.5),
                     (3L, 4L, 0.75), (5L, 6L, 0.6)).toDF("id_a", "id_b", "cos")
    val got = PairJoin.mutualBest(scored).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.9), (5L, 6L, 0.6)))
    val none = Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cos")
    assert(PairJoin.mutualBest(none).count() == 0)
  }
}
