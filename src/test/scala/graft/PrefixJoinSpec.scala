package graft

import org.apache.spark.sql.functions._

/** llm_dedup_prefix (PPJoin-style prefix filtering) and
  * q_transitive_closure (pointer doubling) — the two round-6 additions
  * whose correctness rests on a nontrivial algebraic claim, each pinned
  * here independently of the DuckDB oracle.
  */
class PrefixJoinSpec extends SparkSuite {

  test("llm_dedup_prefix: prefix pruning is LOSSLESS vs the full inverted index") {
    // The prefix filter indexes only n - ceil(0.3 n) + 1 shingles per doc;
    // the theorem says the surviving pair set is identical to the full
    // inverted index's. Since r8 the shared nearPairs stage ITSELF rides
    // the prefix plan, so the reference twin is the un-exported
    // fullIndexNearPairs — assert exact equality against it, and that
    // the declared llm_dedup_near key (stage reader) agrees too.
    val pruned = Registry.byName("llm_dedup_prefix").fn(spark, sf)
    val full = graft.llm.Dedup.fullIndexNearPairs(spark, sf)
      .select(col("lang"), col("id_a"), col("id_b"),
              col("n_inter").cast("int").as("n_inter"),
              col("n_union").cast("int").as("n_union"),
              col("jac").cast("double").as("jac"))
    assertSameRows(pruned, full)
    val staged = Registry.byName("llm_dedup_near").fn(spark, sf)
    assertSameRows(staged, full)
  }

  test("llm_dedup_prefix: the index it builds is strictly smaller than the full one") {
    // Recompute both index sizes from the public shingle grain: full
    // inverted index posts n rows per doc, the prefix index posts
    // n - ceil(3n/10) + 1. With the fixture's shingle counts (docs have
    // >= 10 shingles) the reduction must be strict for every doc.
    val d = Tables.documents(spark, sf)
      .withColumn("toks", expr("split(lower(trim(text)), ' ')"))
      .withColumn("n", expr(
        """size(array_distinct(transform(sequence(1, size(toks) - 2),
             i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                            element_at(toks, i + 2)))))"""))
      .agg(sum(col("n")).as("full"),
           sum(expr("n - ((3 * n + 9) div 10) + 1")).as("prefix"),
           min(col("n")).as("min_n"), count(lit(1)).as("docs"))
      .collect()(0)
    val (fullIdx, prefixIdx, minN, docs) =
      (d.getLong(0), d.getLong(1), d.getInt(2), d.getLong(3))
    // ceil(3n/10) >= 2 as soon as n >= 4, so every doc saves >= 1 posting.
    assert(minN >= 4, s"fixture assumption broken: min shingle count $minN")
    assert(prefixIdx <= fullIdx - docs,
      s"prefix index ($prefixIdx) saves less than 1 posting/doc vs full ($fullIdx, $docs docs)")
  }

  test("prefix cut carries the round-6 slack: 10,007 distinct shingles post 7,006 rows") {
    // n - ceil(0.29999 n) + 1 = 10007 - 3002 + 1; the bare ceil(0.3 n)
    // cut would post 7,005 and could lose a kept pair's minimal common
    // shingle (see Dedup.prefixIndexOf).
    import spark.implicits._
    val sh = Seq((1L, "en", (0 until 10007).map(i => s"s$i").toArray))
      .toDF("doc_id", "lang", "sh")
    assert(graft.llm.Dedup.prefixIndexOf(sh).count() == 7006)
  }

  test("prefix filter survives an adversarial boilerplate stop-shingle (df = corpus)") {
    // The r7 verdict's named scale-killer: one boilerplate shingle with
    // df = |corpus| turns the FULL inverted index's candidate join into a
    // Σ df² ≈ |corpus|² fan-out. Append a fixed sentence to EVERY doc —
    // its 3-shingles all get df = 500 at sf0.001 — and check the prefix
    // plan (a) still produces EXACTLY the full-index pair set and (b)
    // keeps the quadratic candidate term Σ df² at least 10× below the
    // full index's, because corpus-df shingles sort LAST in the
    // rarest-first order and drop out of (almost) every prefix.
    val boiler = " common footer boilerplate text appended to every single document here"
    val docs = Tables.documents(spark, sf)
      .withColumn("text", concat(col("text"), lit(boiler)))
    val sh = docs.select(col("doc_id"), col("lang"),
      expr("shingles3(split(lower(trim(text)), ' '))").as("sh"))
    val pruned = graft.llm.Dedup.prefixPairsOf(sh)
    val full = graft.llm.Dedup.fullIndexPairsOf(sh)
    assertSameRows(pruned, full)

    def sumDfSq(index: org.apache.spark.sql.DataFrame): Long = index
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df"))).collect()(0).getLong(0)
    val fullIdx = sh.select(col("lang"), col("doc_id"), explode(col("sh")).as("tok"))
    val fullSq = sumDfSq(fullIdx)
    val preSq = sumDfSq(graft.llm.Dedup.prefixIndexOf(sh))
    assert(preSq * 10 <= fullSq,
      s"prefix index did not defuse the boilerplate skew: sum df^2 " +
      s"prefix=$preSq vs full=$fullSq")
  }

  test("PPJoin length+positional filters PRUNE candidates (and stay lossless)") {
    // r16: the two integer candidate filters must actually remove
    // collision pairs (a silently-dropped predicate would still pass the
    // equality pins above), and every pair the verified OUTPUT needs must
    // survive them. Unfiltered twin = the same prefix-collision join
    // with only the id ordering.
    val sh = Tables.documents(spark, sf).select(col("doc_id"), col("lang"),
      expr("shingles3(split(lower(trim(text)), ' '))").as("sh"))
    val pre = graft.llm.Dedup.prefixIndexOf(sh)
    val unfiltered = pre.select(col("lang"), col("tok"), col("doc_id").as("id_a"))
      .join(pre.select(col("lang").as("lang_b"), col("tok").as("tok_b"),
                       col("doc_id").as("id_b")),
            col("lang") === col("lang_b") && col("tok") === col("tok_b") &&
            col("id_a") < col("id_b"))
      .select(col("lang"), col("id_a"), col("id_b")).distinct()
    val filtered = graft.llm.Dedup.prefixCandidatesOf(sh)
    val (nu, nf) = (unfiltered.count(), filtered.count())
    assert(nf < nu,
      s"PPJoin filters pruned nothing: $nf filtered vs $nu unfiltered candidates")
    // soundness: the filtered set is a subset of the unfiltered one
    assert(filtered.join(unfiltered, Seq("lang", "id_a", "id_b"), "left_anti")
      .count() == 0, "filtered candidates are not a subset of the collisions")
    // completeness: every pair of the filter-independent ground truth
    // (the full inverted index's verified pairs) survives the filters —
    // prefixPairsOf is built FROM the filtered candidates, so checking
    // its output here would be circular. Also over the boilerplate-footer
    // corpus of the skew test above: its near pairs sit right at the
    // positional bound, so a filter one unit tighter loses some there
    // (the plain fixture has no pair that tight).
    val boiler = " common footer boilerplate text appended to every single document here"
    val shBoiler = Tables.documents(spark, sf).select(col("doc_id"), col("lang"),
      expr(s"shingles3(split(lower(trim(concat(text, '$boiler'))), ' '))").as("sh"))
    Seq("fixture" -> sh, "boilerplate" -> shBoiler).foreach { case (corpus, shingles) =>
      val truth = graft.llm.Dedup.fullIndexPairsOf(shingles)
        .select(col("lang"), col("id_a"), col("id_b"))
      assert(truth.count() > 0, s"$corpus: no near pairs — completeness untested")
      val missing = truth.join(graft.llm.Dedup.prefixCandidatesOf(shingles),
                               Seq("lang", "id_a", "id_b"), "left_anti").count()
      assert(missing == 0, s"$corpus: $missing true near pairs lack a surviving candidate")
    }
  }

  test("fn_jaro_snm: two-pass sorted neighborhood recovers the exact top-100") {
    // The linear-scale record-linkage plan must not trade away recall on
    // the fixture: its W=10 forward+reversed windows must surface every
    // pair of the exact quadratic plan's top-100. (The ground truth is
    // the exact join itself, which is why this is a spec and not a
    // declared column — see the key's comment.)
    val snm = Registry.byName("fn_jaro_snm").fn(spark, sf)
      .select(col("id_a"), col("id_b"), col("jw"))
    val exact = Registry.byName("fn_jaro").fn(spark, sf)
    assertSameRows(snm, exact)
  }

  test("fn_jaro_snm: adversarial middle-edit corpus — recall floor pinned, W-sensitive") {
    // The key's own scaladoc admits the evasion shape: a pair differing
    // ONLY in middle characters shares both a long prefix and a long
    // suffix with MANY other records, so neither the forward- nor the
    // reverse-sorted pass is guaranteed to place the two within W
    // neighbors. This spec builds that shape deliberately — K = 40 names
    // sharing a 12-char prefix and an 11-char suffix, distinguished only
    // by a 2-digit middle — and pins the kernel's measured recall on it.
    //
    // Derivation of the inherent ceiling (why no pass COUNT fixes this):
    // every record pairs with every other (all C(K,2) = 780 pairs have
    // jw ≥ 0.93 here: ≥ 23 of 25 chars agree → jw ≥ 0.968), but P sorted
    // passes with window W can emit at most P·W·K candidates from the
    // block (each record looks W ahead per pass) — 2·10·40 = 800,
    // barely above 780 IF the two pass orders overlapped nowhere. They
    // do overlap (both are permutations of the same middle tokens:
    // forward = middle-lex, reversed = reversed-middle-lex), so measured
    // recall sits well below 1 and FALLS LIKE ~P·W·2/(K−1) as the block
    // grows. That is the derived reason the exact Σ block² key stays the
    // anchor and recall-vs-exact is fn_jaro_snm's declared contract —
    // a third sort-key pass would only move the constant, not the shape.
    import spark.implicits._
    val K = 40
    val corpus = (0 until K).map { i =>
      (100L + i, s"CUSTPREFIXAA${10 + i}ZZSUFFIXEND", "ADV", 0L)
    }.toDF("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val exact = corpus.as("a").join(corpus.as("b"),
        col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
              expr("jaro_winkler(a.c_name, b.c_name)").as("jw"))
      .filter(col("jw") >= 0.93)
    val nExact = exact.count()
    assert(nExact == K.toLong * (K - 1) / 2,
      s"adversarial corpus must make EVERY pair a true pair, got $nExact")
    def recallAt(w: Int): Double = {
      val caught = graft.operators.Insights.snmCandidates(corpus, w)
        .select(col("id_a"), col("id_b")).distinct()
        .join(exact, Seq("id_a", "id_b")).count()
      caught.toDouble / nExact
    }
    val declared = recallAt(graft.operators.Insights.SNM_W)
    // deterministic (row_number over unique (key, custkey) orders):
    // measured 0.6936 (541/780) at W=10 — pin a floor that a silent W
    // shrink or a dropped pass would break, and the <1 gap that
    // documents the shape
    assert(declared < 1.0,
      "middle-edit pairs all caught — the adversarial shape stopped binding " +
      "(did the corpus or kernel change?)")
    assert(declared >= 0.69,
      f"2-pass W=${graft.operators.Insights.SNM_W} recall regressed: $declared%.3f")
    assert(recallAt(5) < declared,
      "halving W did not reduce adversarial recall — window no longer binds")
  }

  test("q_hierarchy_rollup: root subtrees partition the forest") {
    // Conservation law: the six roots' descendant-or-self sets are a
    // disjoint cover of all parts, so their n_desc and subtree_price
    // must sum to the whole table's count and total.
    val roll = Registry.byName("q_hierarchy_rollup").fn(spark, sf)
      .filter(col("id") < 7).collect()
    val tot = Tables.part(spark, sf)
      .agg(count(lit(1)), sum(col("p_retailprice").cast(H.D)).cast("double"))
      .collect()(0)
    assert(roll.map(_.getLong(1)).sum == tot.getLong(0),
      "root n_desc does not cover the part table")
    assert(math.abs(roll.map(_.getDouble(2)).sum - tot.getDouble(1)) < 1e-6,
      "root subtree_price does not cover the total retail price")
  }

  test("q_transitive_closure: pointer doubling matches the scalar parent chain") {
    // Ground truth by direct iteration of parent(k) = k div 7 on the
    // driver — O(depth) per node, fine at fixture scale.
    def chase(k: Long): (Long, Int) = {
      var id = k; var d = 0
      while (id >= 7) { id = id / 7; d += 1 }
      (id, d)
    }
    val got = Registry.byName("q_transitive_closure").fn(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (root, depth) = chase(r.getLong(0))
      assert(r.getLong(1) == root && r.getInt(2) == depth,
        s"node ${r.getLong(0)}: got (${r.getLong(1)}, ${r.getInt(2)}), want ($root, $depth)")
    }
  }
}
