package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §5.4 — algebraic properties over seeded random data (three
  * seeds × the laws; deterministic, no generator-library dependency). */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def randomKv(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(20).toLong, rnd.nextInt(100), rnd.nextString(3)))
      .toDF("k", "v", "s")
  }

  for (seed <- Seq(1, 7, 42)) {
    test(s"dedup idempotence and survivor determinism (seed=$seed)") {
      val df = randomKv(seed, 500)
      val d1 = df.distinct()
      assert(d1.count() == d1.distinct().count())
      // min-aggregation survivor rule is deterministic across reruns
      val s1 = df.groupBy($"k").agg(min($"v")).collect().toSet
      val s2 = df.groupBy($"k").agg(min($"v")).collect().toSet
      assert(s1 == s2)
    }

    test(s"semi+anti partition the left side (seed=$seed)") {
      val a = randomKv(seed, 300)
      val b = randomKv(seed + 1000, 100).select($"k")
      val semi = a.join(b, Seq("k"), "left_semi").count()
      val anti = a.join(b, Seq("k"), "left_anti").count()
      assert(semi + anti == a.count())
      assert(a.join(b.distinct(), Seq("k"), "inner").count() == semi)
    }

    test(s"set-op algebra on key projections (seed=$seed)") {
      val a = randomKv(seed, 200).select($"k", $"v")
      val b = randomKv(seed + 1, 200).select($"k", $"v")
      assert(a.unionAll(b).count() == a.count() + b.count())
      val da = a.distinct()
      val inter = da.intersect(b).count()
      val ex = da.except(b).count()
      assert(inter + ex == da.count())
    }

    test(s"window row_number is a permutation of 1..n per partition (seed=$seed)") {
      val df = randomKv(seed, 400)
      val w = Window.partitionBy($"k").orderBy($"v", $"s")
      val rn = df.withColumn("rn", row_number().over(w))
      val bad = rn.groupBy($"k")
        .agg(count(lit(1)).as("n"), min($"rn").as("lo"), max($"rn").as("hi"),
             countDistinct($"rn").as("d"))
        .filter($"lo" =!= 1 || $"hi" =!= $"n" || $"d" =!= $"n")
      assert(bad.count() == 0)
    }
  }

  test("pack_sequences: pack ids are contiguous and budget-bounded (sf fixture)") {
    val df = Registry.byName("llm_pack_sequences").fn(spark, sf)
    val packs = df.groupBy($"lang", $"pack_id")
      .agg(sum($"n_toks").as("toks"), count(lit(1)).as("n"))
      .collect()
    // a pack may overflow only by its LAST doc (sorted-fill semantics):
    // the pre-doc cumulative stays under the budget, so pack totals are
    // < budget + max single doc
    val maxDoc = df.agg(max($"n_toks")).as[Int].head()
    packs.foreach { r =>
      assert(r.getLong(2) < 2048L + maxDoc,
        s"pack ${r.get(0)}/${r.get(1)} exceeds budget+maxdoc: ${r.getLong(2)}")
    }
    // ids are dense per lang: 0..max with no gaps
    val dense = df.groupBy($"lang")
      .agg(countDistinct($"pack_id").as("d"), max($"pack_id").as("m"))
      .filter($"d" =!= $"m" + 1)
    assert(dense.count() == 0, "pack ids have gaps")
  }

  test("embed_quantize: error bounded by half a quantization step") {
    val df = Registry.byName("llm_embed_quantize").fn(spark, sf)
    val bad = df.filter($"max_err6" > $"scale6" * 0.5 + 1e-6)
    assert(bad.count() == 0,
      s"reconstruction error above scale/2: ${bad.collect().mkString(",")}")
  }

  test("dedup_cluster: labels are component minima and closed under edges") {
    val labels = Registry.byName("llm_dedup_cluster").fn(spark, sf)
      .select($"doc_id", $"cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // label never exceeds the member id (min-propagation invariant)
    labels.foreach { case (id, c) => assert(c <= id, s"label $c > id $id") }
    // every near-dup edge connects same-cluster nodes (closure)
    val pairs = Registry.byName("llm_dedup_near").fn(spark, sf)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) crosses clusters")
    }
    // each cluster's label is one of its members
    val members = labels.groupBy(_._2).map { case (c, kv) => c -> kv.keys.toSet }
    members.foreach { case (c, ms) => assert(ms.contains(c), s"label $c not a member") }
  }

  test("components: pointer doubling converges on a depth-100 chain in O(log d) rounds") {
    // A 100-hop chain is the graph the old <=20-round min-label loop
    // could NOT converge on (labels move one hop per plain propagation
    // step). Pointer doubling must resolve every node to the chain head
    // and do it in ~log2(depth) rounds, not depth rounds.
    val depth = 100
    val chain = (0 until depth).map(i => (i.toLong, (i + 1).toLong))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val (lbl, rounds) =
      graft.llm.Pipeline.components(edges, df => df.localCheckpoint())
    val out = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == depth + 1)
    out.foreach { case (id, c) => assert(c == 0L, s"node $id labeled $c") }
    val bound = math.ceil(math.log(depth) / math.log(2)).toInt + 1
    assert(rounds <= bound, s"$rounds rounds > O(log d) bound $bound")
  }

  test("components: exact minima on a forest of mixed component shapes") {
    // chain 0-1-2-3, star centered at 10, isolated edge 20-21, and a
    // triangle 30-31-32: labels must be the exact component minima.
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L),
                  (10L, 11L), (10L, 12L), (10L, 13L),
                  (20L, 21L),
                  (30L, 31L), (31L, 32L), (30L, 32L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val (lbl, _) =
      graft.llm.Pipeline.components(edges, df => df.localCheckpoint())
    val out = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
                   10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
                   20L -> 20L, 21L -> 20L,
                   30L -> 30L, 31L -> 30L, 32L -> 30L)
    assert(out == want, s"labels $out != $want")
  }

  test("topn_native == window row_number spelling on random data") {
    val df = randomKv(99, 500)
    val w = Window.partitionBy($"k").orderBy($"v".desc, $"s")
    val viaOp = graft.plans.TopK.rewrite(
      df.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
        .select($"k", $"rn", $"v", $"s"))
    // the operator must actually be in the plan...
    assert(viaOp.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    // ...and agree with a sort-based recompute of the window spelling
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        rows.sortBy { case (_, v, s) => (-v, s) }.take(4).zipWithIndex
          .map { case ((_, v, s), i) => (k, i + 1, v, s) }
      }.toSet
    val got = viaOp.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == expected, s"native top-k diverged: ${got.diff(expected)}")
  }

  test("topn_native: a Long-typed rank bound (rn <= 5L) still hits the rewrite") {
    // rn is IntegerType, so `rn <= 5L` analyzes as Cast(rn AS BIGINT) <= 5L
    // — boundOf must see through the cast and the Long literal, or the
    // intended top-k silently falls back to the full window sort.
    val df = randomKv(7, 500)
    val w = Window.partitionBy($"k").orderBy($"v".desc, $"s")
    val viaOp = graft.plans.TopK.rewrite(df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5L).select($"k", $"rn", $"v", $"s"))
    val p = viaOp.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"),
      s"Long-literal bound missed the rewrite:\n$p")
    assert(viaOp.count() ==
      df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
        .count())
  }

  test("declared results are invariant to shuffle-partition count (AQE determinism)") {
    // The hash gate demands bit-identical results run-to-run; the easiest
    // way to break that silently is a partial-agg-order-dependent double.
    // Re-run representative aggregate/window/dedup keys under a different
    // parallelism and demand identical rows.
    val keys = Seq("q_agg_group", "q_agg_stats", "q_win_running",
                   "llm_text_stats", "llm_dedup_near",
                   // round-5 session-2 keys whose corr/regr/exp doubles
                   // ride the round-6 grain — the exact failure mode
                   // this test exists to catch
                   "q_autocorr", "q_regression", "q_chi2", "llm_zipf",
                   "q_decay_sum", "q_weighted_median",
                   // round-6 keys with ln/exp/ratio doubles or sketch
                   // thetas that must not depend on partial-agg order
                   "q_theta_sketch", "llm_ccnet_bucket", "llm_ngram_lm",
                   "q_survival", "q_ses", "llm_semdedup",
                   // round-6 third-session keys: iterative closure state,
                   // prefix-pruned candidate sets, bucket-blocked interval
                   // pairs, and the hash sample's decimal sums must all be
                   // partitioning-independent
                   "q_transitive_closure", "q_hierarchy_rollup",
                   "llm_dedup_prefix", "q_join_interval", "q_sample_hash",
                   // round-6 fourth-session keys: DSIR's decimal ln-sum,
                   // the balance audit's ratio, the FD audit's distincts
                   "llm_dsir", "q_shuffle_balance", "q_fd_check",
                   "q_zorder_layout")
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    def rows(key: String) =
      Registry.byName(key).fn(spark, sf).collect().map(_.toString).toSeq
    keys.foreach { k =>
      val base = rows(k)
      conf.set("spark.sql.shuffle.partitions", "7")
      try {
        val alt = rows(k)
        assert(alt == base, s"$k diverged under 7 shuffle partitions")
      } finally conf.set("spark.sql.shuffle.partitions", saved)
    }
  }

  test("md5Long60 equals the BigInteger hex-prefix reference on random strings") {
    val rnd = new scala.util.Random(11)
    (0 until 500).foreach { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(40)).mkString +
        (if (rnd.nextBoolean()) "é☃" else "")
      val bytes = s.getBytes("UTF-8")
      val hex = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      val ref = new java.math.BigInteger(hex.substring(0, 15), 16).longValueExact()
      assert(graft.functions.Sketches.md5Long60(bytes) == ref,
        s"tid60 mismatch for '$s'")
    }
  }

  test("cosine bounds on random float vectors") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(200)((Array.fill(16)(rnd.nextFloat * 4 - 2),
                            Array.fill(16)(rnd.nextFloat * 4 - 2)))
      .toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)").as("c")).as[Double].collect()
    out.foreach(c => assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, s"out of bounds: $c"))
  }

  for (k <- Seq(2, 7, 32)) {
    test(s"HLL sketch rollup == direct estimate under any $k-way split") {
      // Associativity/commutativity of register-max: partitioning the
      // input arbitrarily, sketching each cell, and merging must give
      // the direct single-pass estimate bit-for-bit — the invariant
      // that makes stored sketch cells re-aggregatable in any rollup
      // order at scale.
      val o = Tables.orders(spark, sf)
      val direct = o.select(expr("hll_distinct(o_custkey)").as("est"))
        .as[Long].head()
      val merged = o.groupBy((col("o_orderkey") % k).as("cell"))
        .agg(expr("hll_sketch(o_custkey)").as("sk"))
        .select(expr("hll_merge_est(sk)").as("est"))
        .as[Long].head()
      assert(merged == direct, s"split-$k rollup $merged != direct $direct")
    }
  }

  test("winnowing guarantee: docs sharing >= w+k-1 tokens share a fingerprint") {
    // The MOSS detection property for k=3-gram hashes with window w=4:
    // any common token run of length >= w+k-1 = 6 forces at least one
    // common window-minimum. Seeded random docs with a planted shared
    // run; checked through the same expression pipeline the declared
    // query uses.
    val rnd = new scala.util.Random(13)
    def doc(): Seq[String] = Seq.fill(12)("t" + rnd.nextInt(50))
    val shared = doc().take(6)
    val rows = (0 until 20).map { i =>
      val filler = doc()
      (i.toLong, (filler.take(i % 6) ++ shared ++ filler.drop(i % 6)).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val fps = df
      .withColumn("toks", expr("split(lower(trim(text)), ' ')"))
      .withColumn("grams", expr(
        """zip_with(zip_with(slice(toks, 1, size(toks) - 2),
                             slice(toks, 2, size(toks) - 2),
                             (a, b) -> concat(a, ' ', b)),
                    slice(toks, 3, size(toks) - 2),
                    (x, c) -> concat(x, ' ', c))"""))
      .withColumn("hs", expr("transform(grams, g -> tid60(g))"))
      .select(col("doc_id"), explode(expr(
        """zip_with(zip_with(slice(hs, 1, size(hs) - 3), slice(hs, 2, size(hs) - 3),
                             (a, b) -> least(a, b)),
                    zip_with(slice(hs, 3, size(hs) - 3), slice(hs, 4, size(hs) - 3),
                             (a, b) -> least(a, b)),
                    (x, y) -> least(x, y))""")).as("fp"))
      .distinct()
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    for (i <- 0L until 20L; j <- (i + 1) until 20L) {
      assert(fps(i).intersect(fps(j)).nonEmpty,
        s"docs $i,$j share a 6-token run but no fingerprint")
    }
  }

  for (seed <- Seq(1, 7, 42)) {
    test(s"jaro_winkler laws: identity, symmetry, bounds, prefix dominance (seed=$seed)") {
      import graft.functions.Sketches.jaroWinkler
      val rnd = new scala.util.Random(seed)
      def str() = Seq.fill(rnd.nextInt(10) + 1)(('a' + rnd.nextInt(4)).toChar).mkString
      for (_ <- 1 to 300) {
        val (a, b) = (str(), str())
        val v = jaroWinkler(a, b)
        assert(v >= 0.0 && v <= 1.0, s"out of range: jw($a,$b)=$v")
        assert(v == jaroWinkler(b, a), s"asymmetric on ($a,$b)")
        assert(jaroWinkler(a, a) == 1.0)
        // Winkler boost never lowers the Jaro base and never exceeds 1.
        assert(v >= graft.functions.Sketches.jaro(a, b) - 1e-15)
      }
    }

    test(s"bottom-k sketch merge: associativity/commutativity on random splits (seed=$seed)") {
      val rnd = new scala.util.Random(seed)
      val values = Array.fill(2000)(math.floor(rnd.nextDouble() * 1e6) / 100.0)
      def sketchOf(vs: Seq[Double]): graft.functions.BottomKMedianAgg.Buf = {
        val b = new graft.functions.BottomKMedianAgg.Buf
        vs.foreach { d =>
          val cents = math.round(d * 100.0)
          val h = graft.functions.Sketches.md5Long60(
            java.lang.Long.toString(cents)
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          b.offer(h, d)
        }
        b
      }
      val whole = sketchOf(values.toSeq).discMedian
      // any split + merge order must reproduce the one-pass sketch
      for (cut <- Seq(1, 137, 1000, 1999)) {
        val (l, r) = values.splitAt(cut)
        val lr = sketchOf(l.toSeq); lr.absorb(sketchOf(r.toSeq))
        val rl = sketchOf(r.toSeq); rl.absorb(sketchOf(l.toSeq))
        assert(lr.discMedian == whole && rl.discMedian == whole,
          s"merge shape changed the sketch at cut=$cut")
      }
    }

    test(s"theta/KMV sketch union is lossless: bottomK(skA ∪ skB) == bottomK(A ∪ B) (seed=$seed)") {
      // The law q_theta_sketch's union estimate rests on: any element of
      // bottomK(A ∪ B) is among the k smallest of its OWN set, so merging
      // the two k-row sketches and re-taking bottom-k reproduces the
      // sketch of the full union exactly — union estimation from sketches
      // is not an approximation ON TOP of the sketch; only the sketch
      // itself approximates. Holds for any k, any overlap, any hash.
      val rnd = new scala.util.Random(seed)
      val k = 64
      def u(x: Long): Double =
        ((graft.functions.Sketches.md5Long60(
          java.lang.Long.toString(x)
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          % 1000000007L) + 1L).toDouble / 1000000008.0
      def bottomK(s: Set[Long]): Set[Long] =
        s.toSeq.sortBy(x => (u(x), x)).take(k).toSet
      val shared = Set.fill(300)(rnd.nextLong().abs % 100000)
      val a = shared ++ Set.fill(800)(rnd.nextLong().abs % 100000)
      val b = shared ++ Set.fill(600)(rnd.nextLong().abs % 100000)
      val merged = bottomK(bottomK(a) ++ bottomK(b))
      val direct = bottomK(a ++ b)
      assert(merged == direct, "sketch merge diverged from direct union sketch")
      // and the intersection support is contained in both sketches
      val thetaA = bottomK(a).map(u).max
      val thetaB = bottomK(b).map(u).max
      val common = bottomK(a).intersect(bottomK(b))
        .filter(x => u(x) < math.min(thetaA, thetaB))
      assert(common.subsetOf(a.intersect(b)), "phantom intersection member")
    }
  }

  // ---- codegen-kernel equivalence fuzz (r7) ------------------------------
  // Each custom Catalyst kernel declares a pure-SQL spelling in its
  // Scaladoc as the semantic reference; these tests hold the kernel to
  // that spelling on adversarial random inputs (empty / single-element /
  // negative / duplicate-heavy), so a future kernel edit that drifts from
  // the documented semantics fails here instead of surfacing as a
  // hash-mismatch in a downstream dedup key.

  test("simhash32 kernel == 32-pass SQL majority vote on random id arrays") {
    val rnd = new scala.util.Random(29)
    val rows = Seq(Array.empty[Long], Array(0L), Array(-1L), Array(Long.MinValue)) ++
      Seq.fill(200)(Array.fill(rnd.nextInt(40))(rnd.nextLong()))
    val df = rows.toDF("ids")
    val bad = df.filter(expr(
      """simhash32(ids) !=
         aggregate(sequence(0, 31), CAST(0 AS BIGINT),
           (acc, b) -> acc + CASE
             WHEN 2 * size(filter(ids, h -> (shiftrightunsigned(h, b) & 1) = 1))
                  > size(ids)
             THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)"""))
      .count()
    assert(bad == 0, s"simhash32 diverged from the SQL spelling on $bad rows")
  }

  test("minhash16 kernel == 16-pass transform/array_min SQL spelling") {
    val rnd = new scala.util.Random(31)
    // contract domain: ids already reduced into [0, 1000003)
    val rows = Seq(Array.empty[Long], Array(0L), Array(1000002L)) ++
      Seq.fill(200)(Array.fill(rnd.nextInt(50))(rnd.nextLong().abs % 1000003L))
    val df = rows.toDF("ids")
    val bad = df.filter(expr(
      """minhash16(ids) !=
         transform(sequence(0, 15), j -> coalesce(
           array_min(transform(ids, h -> ((2*j + 3) * h + 5*j + 7) % 1000003)),
           9223372036854775807))"""))
      .count()
    assert(bad == 0, s"minhash16 diverged from the SQL spelling on $bad rows")
  }

  test("shingles3 kernel == array_distinct/transform SQL spelling") {
    val rnd = new scala.util.Random(37)
    // tiny vocab forces duplicate shingles; include unicode + empty tokens
    val vocab = Vector("a", "bb", "é☃", "", "tok", "x")
    val rows = Seq.fill(300)(Array.fill(3 + rnd.nextInt(20))(
      vocab(rnd.nextInt(vocab.size))))
    val df = rows.toDF("toks")
    val bad = df.filter(expr(
      """shingles3(toks) !=
         array_distinct(transform(sequence(1, size(toks) - 2),
           i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                          element_at(toks, i + 2))))"""))
      .count()
    assert(bad == 0, s"shingles3 diverged from the SQL spelling on $bad rows")
    // short inputs: the SQL form is undefined (element_at(_, 0) under a
    // descending sequence); the kernel's declared behavior is []
    val short = Seq(Array.empty[String], Array("a"), Array("a", "b")).toDF("toks")
    val nonEmpty = short.filter(expr("size(shingles3(toks)) != 0")).count()
    assert(nonEmpty == 0, "shingles3 must return [] for < 3 tokens")
  }

  test("rank statistics are invariant under strictly monotone value transforms") {
    // The defining property of Mann-Whitney U, the KS D-statistic, and
    // Spearman's rho: they depend on VALUES only through their order, so
    // v -> 3v + 7 (and any strictly increasing map) must leave them
    // bit-identical. Exercised THROUGH the declared keys on a doctored
    // fixture whose value/quantity/discount columns are affinely
    // transformed — a broken tie-averaged rank or a value-dependent
    // shortcut would shift under the map.
    val dir = s"${graft.Fixtures.dir}/monotone_fixture"
    Tables.events(spark, sf)
      .withColumn("value", col("value") * 3.0 + 7.0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.lineitem(spark, sf)
      .withColumn("l_quantity", col("l_quantity") * 2.0 + 1.0)
      .withColumn("l_discount", col("l_discount") * 5.0 + 0.25)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def rows(key: String, d: String) =
      Registry.byName(key).fn(spark, d).collect().map(_.toString).toSeq
    Seq("q_mannwhitney", "q_ks_test").foreach { k =>
      assert(rows(k, sf) == rows(k, dir),
        s"$k changed under a strictly monotone value transform")
    }
    assert(rows("q_spearman", sf) == rows("q_spearman", dir),
      "Spearman's rho changed under monotone transforms of both variables")
  }

  for (seed <- Seq(3, 19); parts <- Seq(2, 7, 32)) {
    test(s"H.prefixSums == single-partition window spelling, bit-exact " +
         s"(seed=$seed, parts=$parts)") {
      // The r14 kernel contract, checked directly: for LONG values and a
      // total sort order, the distributed two-pass prefix sums must be
      // BIT-IDENTICAL to the bare Window.orderBy spelling at ANY
      // partition count (sum associativity) — and independent of
      // exchange reuse, since PlanCut evaluates the partitioned frame
      // once by construction.
      import org.apache.spark.sql.expressions.Window
      val rnd = new scala.util.Random(seed)
      val df = Seq.fill(700)((rnd.nextInt(40).toLong, rnd.nextLong() % 1000))
        .zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "id")
      val got = graft.H.prefixSums(df, Seq($"k", $"id"),
          Seq("v" -> $"v", "c" -> org.apache.spark.sql.functions.lit(1L)),
          parts = parts)
        .select($"id", $"v_before", $"v_tot", $"c_before")
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.toString).getOrElse("null"),
          r.getLong(2), r.getLong(3))).toSet
      val w = Window.orderBy($"k", $"id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.orderBy($"k", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val want = df.select($"id",
          org.apache.spark.sql.functions.sum($"v").over(w).as("v_before"),
          org.apache.spark.sql.functions.sum($"v").over(all).as("v_tot"),
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.lit(1L)).over(w),
            org.apache.spark.sql.functions.lit(0L)).as("c_before"))
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.toString).getOrElse("null"),
          r.getLong(2), r.getLong(3))).toSet
      // the kernel's _before is null-free (coalesced to the sum type's
      // zero); normalize the window side's leading null the same way
      val wantNorm = want.map { case (id, vb, vt, cb) =>
        (id, if (vb == "null") "0" else vb, vt, cb) }
      val gotNorm = got.map { case (id, vb, vt, cb) =>
        (id, if (vb == "null") "0" else vb, vt, cb) }
      assert(gotNorm == wantNorm,
        s"prefixSums diverged from the window spelling at parts=$parts")
    }
  }

  test("H.prefixSums is correct with exchange reuse DISABLED (r14: the " +
       "kernel no longer depends on plan-level dedup)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.exchange.reuse", "false")
    import org.apache.spark.sql.functions._
    val df = s2.range(500).select(col("id"),
      (col("id") * 37 % 101).as("v"))
    val out = graft.H.prefixSums(df, Seq(col("v"), col("id")),
        Seq("c" -> lit(1L)))
      .agg(sum(col("c_before") * col("v")).as("s")).collect()(0).getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"), col("id"))
    val want = df.select(((row_number().over(w) - 1) * col("v")).as("t"))
      .agg(sum(col("t"))).collect()(0).getLong(0)
    assert(out == want, "prefixSums wrong under exchange.reuse=false")
  }
}
