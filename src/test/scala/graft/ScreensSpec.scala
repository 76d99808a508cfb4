package graft

import org.apache.spark.sql.functions._

/** Invariants of the Screens family beyond the oracle hash: threshold
  * and range contracts, the first-doc novelty identity, and the
  * rectangular-unit-norm embedding fixture properties. */
class ScreensSpec extends SparkSuite {

  test("llm_containment: directed, thresholded, intersection-bounded") {
    val rows = Registry.byName("llm_containment").fn(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) != r.getLong(2), "self pair leaked")
      assert(r.getInt(4) <= r.getInt(3), "intersection exceeds |sh(a)|")
      assert(r.getDouble(5) >= 0.5 && r.getDouble(5) <= 1.0,
        s"containment out of range: ${r.getDouble(5)}")
    }
  }

  test("llm_novelty: first doc fully novel, ratios consistent") {
    val rows = Registry.byName("llm_novelty").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(2) == 0L && first.getDouble(3) == 1.0,
      s"earliest doc not fully novel: $first")
    rows.foreach { r =>
      val (nSh, nSeen, nov) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nSeen <= nSh, "seen shingles exceed distinct shingles")
      assert(math.abs(nov - (nSh - nSeen).toDouble / nSh) < 1e-5,
        s"novelty ratio inconsistent: $r")
    }
  }

  test("llm_feature_scale: z-scores center per lang, min-max spans [0,1]") {
    val df = Registry.byName("llm_feature_scale").fn(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mm = r.getDouble(4)
      assert(mm >= -1e-9 && mm <= 1.0 + 1e-9, s"min-max out of range: $r")
    }
    df.groupBy(col("lang"))
      .agg(avg(col("z")).as("zbar"), min(col("mm")).as("mn"), max(col("mm")).as("mx"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(1)) < 1e-3,
          s"${r.getString(0)}: z-scores not centered (${r.getDouble(1)})")
        assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0,
          s"${r.getString(0)}: min-max endpoints not attained")
      }
  }

  test("llm_templates: 3 ranked prefixes per source, shares in (0,1]") {
    val rows = Registry.byName("llm_templates").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq,
        s"$src: ranks not dense from 1")
      assert(rs.length <= 3, s"$src: more than 3 template rows")
      val ns = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        s"$src: counts not descending by rank")
    }
    rows.foreach(r => assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0))
  }

  test("llm_kanon: risk grows with k, risky rows bounded by group arithmetic") {
    val rows = Registry.byName("llm_kanon").fn(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 5, 10))
    assert(rows.map(_.getLong(1)).distinct.size == 1,
      "n_groups must not depend on k")
    val risky = rows.map(r => (r.getLong(2), r.getLong(3)))
    risky.sliding(2).foreach {
      case Array((g1, r1), (g2, r2)) =>
        assert(g1 <= g2 && r1 <= r2, "risk must be monotone in k")
      case _ => ()
    }
    rows.foreach { r =>
      // every risky group has < k rows, so n_risky_rows < k * n_risky_groups
      assert(r.getLong(3) <= (r.getInt(0) - 1).toLong * r.getLong(2),
        s"row bound violated: $r")
    }
  }

  test("q_lead_time: non-negative delays, p50 <= p90, priorities complete") {
    val rows = Registry.byName("q_lead_time").fn(spark, sf).collect()
    assert(rows.length == 5, "expected one row per priority")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, "negative mean lead time")
      assert(r.getDouble(3) <= r.getDouble(4), "p50 above p90")
    }
  }

  test("llm_dedup_thresholds: counts shrink monotonically as tau tightens") {
    val rows = Registry.byName("llm_dedup_thresholds").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val byTau = rows.sortBy(_.getDouble(0))
    byTau.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getLong(1) >= hi.getLong(1), "n_pairs grew with stricter tau")
        assert(lo.getLong(2) >= hi.getLong(2), "n_dropped grew with stricter tau")
      case _ => ()
    }
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1),
      "dropped docs exceed pair count"))
  }

  test("llm_tfidf_pairs: cosines in range, canonical pairs, df cutoff respected") {
    val rows = Registry.byName("llm_tfidf_pairs").fn(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(2), "pair not canonically ordered")
      val c = r.getDouble(3)
      assert(c >= 0.3 && c <= 1.0 + 1e-9, s"cosine out of range: $c")
    }
  }

  test("llm_dup_degree: degrees partition the corpus and edges reconcile") {
    val rows = Registry.byName("llm_dup_degree").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs,
      "degree histogram does not partition the corpus")
    // Σ degree·count = 2·|edges| (every pair contributes two endpoints)
    val endpointSum = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(endpointSum % 2 == 0, "odd endpoint total cannot come from pairs")
  }

  test("llm_vocab_coverage: monotone, bounded, full vocab covers everything") {
    val rows = Registry.byName("llm_vocab_coverage").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val cov = rows.sortBy(_.getLong(0)).map(_.getDouble(2))
    cov.foreach(c => assert(c > 0.0 && c <= 1.0))
    cov.sliding(2).foreach {
      case Array(a, b) => assert(a <= b, "coverage must grow with vocab size")
      case _ => ()
    }
    // Recompute the top-20 coverage directly so the last emitted point is
    // pinned to ground truth, not just monotone (the fixture vocabulary
    // has ~31 types, so no emitted cutoff reaches full coverage).
    val toks = Tables.documents(spark, sf)
      .selectExpr("explode(split(lower(trim(text)), ' ')) AS tok")
      .filter(length(col("tok")) > 0)
    val freqs = toks.groupBy(col("tok")).count()
      .collect().map(_.getLong(1)).sortBy(-_)
    val expect20 = freqs.take(20).sum.toDouble / freqs.sum
    assert(math.abs(rows.map(_.getDouble(2)).max - expect20) < 1e-5,
      "top-20 coverage does not match the direct computation")
  }

  test("llm_confusion: totals reconcile with the prediction table") {
    val conf = Registry.byName("llm_confusion").fn(spark, sf).collect()
    val preds = Registry.byName("llm_knn_classify").fn(spark, sf).collect()
    assert(conf.map(_.getLong(1)).sum == preds.length,
      "sum of n_true must equal the holdout size")
    assert(conf.map(_.getLong(2)).sum == preds.length,
      "sum of n_pred must equal the holdout size")
    val tpTotal = conf.map(_.getLong(3)).sum
    assert(tpTotal == preds.count(_.getBoolean(4)),
      "TP total must equal the correct-prediction count")
    conf.foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)),
        s"TP exceeds a marginal: $r")
    }
  }

  test("llm_emb_screen: rectangular, unit-norm, coherence in (0,1]") {
    val rows = Registry.byName("llm_emb_screen").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), "ragged embedding dims")
      assert(r.getLong(4) == 0L, "fixture embeddings must be unit-norm")
      val coh = r.getDouble(5)
      assert(coh > 0.0 && coh <= 1.0 + 1e-6, s"coherence out of range: $coh")
    }
  }

  test("llm_rrf_fusion: 10 fused hits per query, rrf non-increasing, additive when dual-listed") {
    // cols: q_id, rk, id, rk_lex, rk_emb, rrf
    val rows = Registry.byName("llm_rrf_fusion").fn(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 5, s"expected the 5 declared query docs, got ${byQ.keySet}")
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 10L), s"q=$q: rank gap")
      val scores = sorted.map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q=$q: rrf not non-increasing")
      sorted.foreach { r =>
        val expect =
          (if (r.isNullAt(3)) 0.0 else 1.0 / (60.0 + r.getLong(3))) +
          (if (r.isNullAt(4)) 0.0 else 1.0 / (60.0 + r.getLong(4)))
        assert(math.abs(r.getDouble(5) - expect) < 1e-6,
          s"q=$q id=${r.getLong(2)}: rrf != sum of reciprocal ranks")
        assert(!(r.isNullAt(3) && r.isNullAt(4)),
          s"q=$q id=${r.getLong(2)}: fused hit absent from both lists")
      }
    }
  }

  test("llm_dp_counts: noise is bounded, deterministic, and never exactly zero-knowledge") {
    val a = Registry.byName("llm_dp_counts").fn(spark, sf).collect()
    val b = Registry.byName("llm_dp_counts").fn(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "seeded DP release must be rerun-stable")
    val truth = Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(a.nonEmpty && a.length == truth.size)
    a.foreach { r =>
      val err = math.abs(r.getDouble(2) - truth((r.getString(0), r.getString(1))))
      // |Laplace(1)| from a 60-bit-uniform inverse CDF is capped at
      // ln(1e6) ~ 13.82 by the 1/1e6 grid resolution.
      assert(err <= 13.9, s"noise out of the grid-capped Laplace range: $err")
    }
    // At least one group must actually be perturbed (all-zero noise
    // would mean the uniform lane collapsed).
    assert(a.exists(r =>
      math.abs(r.getDouble(2) - truth((r.getString(0), r.getString(1)))) > 1e-4))
  }

  test("llm_ece: bins partition the scored corpus; ECE is the gap sum in [0,1]") {
    val rows = Registry.byName("llm_ece").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count(),
      "confidence bins must partition the corpus")
    val ece = rows.head.getDouble(5)
    assert(rows.forall(r => math.abs(r.getDouble(5) - ece) < 1e-9),
      "ece must be the same corpus-level value on every bin row")
    assert(math.abs(rows.map(_.getDouble(4)).sum - ece) < 1e-6,
      "ece must equal the sum of per-bin weighted gaps")
    assert(ece >= 0.0 && ece <= 1.0)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.5 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9,
        s"bin ${r.getInt(0)}: mean confidence outside [0.5, 1]")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("llm_watermark_detect: human text stays under the 4-sigma gate; a biased corpus fires it") {
    val rows = Registry.byName("llm_watermark_detect").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // 4-sigma one-sided false-positive rate is ~3e-5: the 500-doc human
    // fixture should have zero (tolerate one tail straggler).
    assert(rows.count(_.getBoolean(4)) <= 1,
      "human fixture text flagged as watermarked")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // Positive control THROUGH the operator: append a forged doc made
    // only of green tokens (the same tid60 partition the detector uses)
    // to a doctored fixture copy and run the declared key on it.
    val green = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), " ")).as("tok"))
      .distinct().filter(expr("tid60(tok) % 2 = 0"))
      .orderBy(col("tok")).limit(30).collect().map(_.getString(0))
    assert(green.length >= 10, "fixture vocab has too few green tokens")
    val forged = (green ++ green).mkString(" ")
    val dir = s"${graft.Fixtures.dir}/watermark_fixture"
    Tables.documents(spark, sf)
      .unionByName(spark.sql(
        s"""SELECT 99999L AS doc_id, '$forged' AS text, 'en' AS lang,
                   'forge' AS source, ${forged.length}L AS n_chars"""))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val doctored = Registry.byName("llm_watermark_detect").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(doctored(99999L), "all-green forged doc must be flagged")
    assert(doctored.count(_._2) <= 2,
      "flag rate exploded on the doctored corpus")
  }

  test("llm_mutual_nn: pairs form a matching (no vector in two pairs)") {
    val rows = Registry.byName("llm_mutual_nn").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(ids.distinct.length == ids.length,
      "mutual-NN pairs must be a matching — some vector is in two pairs")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonically ordered")
      assert(r.getDouble(2) >= 0.2, "pair below the candidate threshold")
    }
    // the linear sibling finds exactly the exact key's pairs at this scale
    val snm = Registry.byName("llm_mutual_nn_snm").fn(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snm == rows.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "llm_mutual_nn_snm's pairs differ from llm_mutual_nn's")
  }

  test("llm_silhouette: means bounded, counts partition the corpus") {
    val rows = Registry.byName("llm_silhouette").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total,
      "per-label counts must partition the corpus")
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 - 1e-6 && r.getDouble(2) <= 1.0 + 1e-6,
        s"label ${r.get(0)}: mean silhouette out of [-1, 1]")
      assert(r.getLong(3) <= r.getLong(1),
        s"label ${r.get(0)}: well-placed count exceeds label size")
    }
  }
}
