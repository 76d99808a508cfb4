package graft

import org.apache.spark.sql.functions._

/** Invariants of the Insights family the DuckDB hash-compare can't
  * express: distributional properties (weighted-sample bias, Markov row
  * sums, Pareto band inequalities), determinism, and range checks. */
class InsightsSpec extends SparkSuite {

  test("q_markov: outgoing transition probabilities sum to ~1 per state") {
    val rows = Registry.byName("q_markov").fn(spark, sf)
      .groupBy(col("from_type")).agg(sum(col("p")).as("psum"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val psum = r.getDouble(1)
      // 25 terms each rounded at 1e-6 → the sum may be off by ≤ 1.3e-5
      assert(math.abs(psum - 1.0) < 5e-5,
        s"${r.getString(0)}: probabilities sum to $psum")
    }
  }

  test("q_basket_pairs: canonical pair order, support floor, count order") {
    val rows = Registry.byName("q_basket_pairs").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonically ordered")
      assert(r.getLong(2) >= 2, "support floor violated")
    }
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "not sorted by descending support")
  }

  test("q_decay_sum: decayed value is positive and below the plain sum") {
    val plain = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("total"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = Registry.byName("q_decay_sum").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cust, decayed) = (r.getLong(0), r.getDouble(2))
      assert(decayed >= 0.0, s"$cust: negative decayed value")
      assert(decayed <= plain(cust) + 1e-6,
        s"$cust: decay amplified value ($decayed > ${plain(cust)})")
    }
  }

  test("q_pareto: bands partition the part set and respect cum-share caps") {
    val byBand = Registry.byName("q_pareto").fn(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val nParts = Tables.lineitem(spark, sf)
      .select(col("l_partkey")).distinct().count()
    assert(byBand.values.map(_._1).sum == nParts, "bands don't partition parts")
    val total = byBand.values.map(_._2).sum
    val aRev = byBand.get("A").map(_._2).getOrElse(0.0)
    val bRev = byBand.get("B").map(_._2).getOrElse(0.0)
    // A stops at ≤80% cumulative share; A+B at ≤95% — by construction.
    assert(aRev <= 0.80 * total + 1e-6, s"A band over 80%: $aRev / $total")
    assert(aRev + bRev <= 0.95 * total + 1e-6, "A+B over 95%")
  }

  test("q_autocorr: three lags, each in [-1, 1]") {
    val rows = Registry.byName("q_autocorr").fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { r =>
      val acf = r.getDouble(1)
      assert(acf >= -1.0 && acf <= 1.0, s"lag ${r.getLong(0)}: acf $acf")
    }
  }

  test("q_weighted_sample: deterministic and biased toward heavy weights") {
    val q = Registry.byName("q_weighted_sample")
    val run1 = q.fn(spark, sf).collect().map(_.getLong(0)).toSeq
    val run2 = q.fn(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(run1 == run2, "weighted sample is not deterministic")
    assert(run1.size == 100 && run1.distinct.size == 100)
    // Expected sampled mean under w=o_totalprice exceeds the corpus mean
    // (size-biased sampling); with n=100 the gap is far beyond noise.
    val sampleMean = q.fn(spark, sf).agg(avg(col("o_totalprice")))
      .head().getDouble(0)
    val corpusMean = Tables.orders(spark, sf).agg(avg(col("o_totalprice")))
      .head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"no size bias: sample $sampleMean vs corpus $corpusMean")
  }

  test("q_rfm: quartiles are balanced and composite score is consistent") {
    val rows = Registry.byName("q_rfm").fn(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    Seq(4, 5, 6).foreach { i => // r_q, f_q, m_q columns
      val sizes = rows.groupBy(_.getInt(i)).map(_._2.size)
      assert(sizes.size == 4, s"col $i: not 4 quartiles")
      assert(sizes.max - sizes.min <= 1, s"col $i: unbalanced ntile $sizes")
    }
    rows.foreach { r =>
      assert(r.getInt(7) == r.getInt(4) * 100 + r.getInt(5) * 10 + r.getInt(6))
    }
  }

  test("q_chi2: non-negative statistic, marginal-consistent dof") {
    val r = Registry.byName("q_chi2").fn(spark, sf).head()
    assert(r.getDouble(0) >= 0.0, "chi2 must be non-negative")
    val types = Tables.events(spark, sf).select(col("event_type")).distinct().count()
    val dows = Tables.events(spark, sf)
      .select(dayofweek(col("ts"))).distinct().count()
    assert(r.getLong(1) == (types - 1) * (dows - 1), s"dof mismatch: $r")
    assert(r.getLong(2) <= types * dows, "more cells than the marginal product")
  }

  test("jaro_winkler kernel: classic vectors, symmetry, range") {
    import graft.functions.Sketches.jaroWinkler
    assert(jaroWinkler("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jaroWinkler("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(jaroWinkler("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jaroWinkler("abc", "abc") == 1.0)
    assert(jaroWinkler("", "abc") == 0.0 && jaroWinkler("a", "") == 0.0)
    // DuckDB 1.0 defines BOTH-empty as 0.0 (verified against the oracle
    // engine this session) — the kernel pins that, not rapidfuzz's 1.0.
    assert(jaroWinkler("", "") == 0.0)
    // sub-threshold pairs get NO prefix boost (DuckDB's 0.7 gate)
    assert(jaroWinkler("CRANE", "ATRIA") == 0.4666666666666666)
    for ((a, b) <- Seq(("graft", "craft"), ("spark", "sprak"), ("x", "y"))) {
      assert(jaroWinkler(a, b) == jaroWinkler(b, a), s"asymmetric on ($a,$b)")
      val v = jaroWinkler(a, b)
      assert(v >= 0.0 && v <= 1.0)
    }
    // The Expression path (codegen'd in real plans) agrees with the
    // direct kernel call on parquet-backed data.
    val rows = Tables.customer(spark, sf)
      .selectExpr("c_name", "jaro_winkler(c_name, 'Customer#000000001') AS jw")
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == jaroWinkler(r.getString(0), "Customer#000000001"))
    }
  }

  test("q_audience_overlap: intersection bounded by both marginals") {
    val rows = Registry.byName("q_audience_overlap").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (both, na, nb, ov) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(both <= math.min(na, nb), s"intersection exceeds a marginal: $r")
      assert(ov >= 0.0 && ov <= 1.0, s"overlap ratio out of range: $r")
      assert(r.getString(0) < r.getString(1), "pair not canonically ordered")
    }
  }

  test("q_bloom_filter: no false negatives, FP rate near theory") {
    val r = Registry.byName("q_bloom_filter").fn(spark, sf).head()
    val (probes, pos, members, fp, fn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(fn == 0L, "a Bloom filter must never produce false negatives")
    assert(pos == members + fp, "positives must decompose into members + FPs")
    val nonMembers = probes - members
    if (nonMembers > 0) {
      // fill ratio p = 1-(1-1/m)^{kn}; FP ≈ p³ — allow a wide band
      val n = Tables.orders(spark, sf)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select(col("o_custkey")).distinct().count()
      val p = 1.0 - math.pow(1.0 - 1.0 / 16384.0, 3.0 * n)
      val expected = math.pow(p, 3) * nonMembers
      assert(fp <= math.max(5.0, expected * 10),
        s"FP count $fp far above theory ($expected expected)")
    }
  }

  test("q_not_in_null: 3VL trap fires — NULL-poisoned NOT IN is empty, anti-join is not") {
    val r = Registry.byName("q_not_in_null").fn(spark, sf).head()
    assert(r.getLong(0) == 0L,
      "NOT IN over a NULL-bearing subquery must never be TRUE")
    assert(r.getLong(1) == r.getLong(2),
      "with NULLs filtered, NOT IN and NOT EXISTS must agree")
    assert(r.getLong(2) > 0L, "fixture must leave some unmatched orders")
  }

  test("q_division: every survivor covers the full priority universe") {
    val rows = Registry.byName("q_division").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val univ = Tables.orders(spark, sf)
      .select(col("o_orderpriority")).distinct().count()
    val perCust = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("np"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      val (np, n) = perCust(r.getLong(0))
      assert(np == univ, s"${r.getLong(0)}: missing a priority class")
      assert(r.getLong(1) == n, s"${r.getLong(0)}: order count mismatch")
    }
    // completeness: no qualifying customer was dropped
    assert(rows.length == perCust.count(_._2._1 == univ))
  }

  test("q_setops_all: bag multiplicities match min/max-difference arithmetic") {
    val rows = Registry.byName("q_setops_all").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val o = Tables.orders(spark, sf)
    val cut = lit("1998-01-01").cast("timestamp_ntz")
    val early = o.filter(col("o_orderdate") < cut).groupBy(col("o_custkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val late = o.filter(col("o_orderdate") >= cut).groupBy(col("o_custkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (op, k, n) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (e, l) = (early.getOrElse(k, 0L), late.getOrElse(k, 0L))
      op match {
        case "except_all"    => assert(n == e - l || (l >= e && n == 0),
          s"$k: except_all $n != max(0, $e - $l)"); assert(n == math.max(0L, e - l))
        case "intersect_all" => assert(n == math.min(e, l),
          s"$k: intersect_all $n != min($e, $l)")
      }
    }
  }

  test("q_regression: finite fit, r2 in [0,1], count matches group size") {
    val rows = Registry.byName("q_regression").fn(spark, sf).collect()
    assert(rows.length == 3)
    val sizes = Tables.lineitem(spark, sf).groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == sizes(r.getString(0)), "regr_count mismatch")
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN, "degenerate fit")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, "r2 out of range")
    }
  }

  test("q_weighted_median: defining inequality holds against direct sums") {
    val rows = Registry.byName("q_weighted_median").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (flag, med, tot) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val below = Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === flag && col("l_extendedprice") < med)
        .agg(sum(col("l_quantity"))).head().getDouble(0)
      val upto = Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === flag && col("l_extendedprice") <= med)
        .agg(sum(col("l_quantity"))).head().getDouble(0)
      assert(below < tot / 2 + 1e-6, s"$flag: too much weight strictly below")
      assert(upto >= tot / 2 - 1e-6, s"$flag: not enough weight up to median")
    }
  }

  test("llm_zipf: slope is negative (frequency decays with rank)") {
    val r = Registry.byName("llm_zipf").fn(spark, sf).head()
    assert(r.getLong(1) > 0)
    assert(r.getDouble(0) < 0.0, s"Zipf slope not negative: ${r.getDouble(0)}")
  }

  test("q_info_gain: matches a driver-side entropy computation per threshold") {
    val rows = Registry.byName("q_info_gain").fn(spark, sf).collect()
    assert(rows.length == 4)
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def entropy(xs: Seq[String]): Double = {
      val n = xs.size.toDouble
      -xs.groupBy(identity).values.map { g =>
        val p = g.size / n; p * math.log(p)
      }.sum
    }
    val h0 = entropy(data.map(_._1).toSeq)
    rows.foreach { r =>
      val thr = r.getDouble(0)
      val (l, rr) = data.partition(_._2 <= thr)
      assert(r.getLong(1) == l.length && r.getLong(2) == rr.length)
      val ig = h0 - (l.length * entropy(l.map(_._1).toSeq)
                     + rr.length * entropy(rr.map(_._1).toSeq)) / data.length
      assert(math.abs(r.getDouble(3) - ig) < 1e-4,
        s"thr=$thr: info_gain ${r.getDouble(3)} != brute $ig")
      assert(r.getDouble(3) >= -1e-6 && r.getDouble(3) <= h0 + 1e-6)
    }
  }
}
