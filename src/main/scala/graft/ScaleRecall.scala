package graft

import org.apache.spark.sql.functions._

/** Measured-recall harness for the approximate record-linkage plan:
  * the EXACT quadratic JW join is the ground truth (a measurement tool,
  * so paying its Σ block² cost is the point, not a defect). The scored
  * stream is deliberately NOT persisted — at replicated scales it fits
  * no store (the r12 disk-full finding: 63% of within-block pairs clear
  * JW 0.93 on TPC-H's self-similar names) — so each view below is its
  * own streaming pass over the join (TakeOrdered for the tops,
  * executor-side distinct for the name sets): ~3× the scoring cost at
  * sf1 (~57 s extra), bounded memory at every sf. `--dedup-only` skips
  * the quadratic views entirely where even streaming them is
  * prohibitive (sf10: ~5.7B scored pairs).
  *
  * Four recalls, because under ScaleGen replication they answer
  * different questions (BASELINE.md "fn_jaro_snm measured recall at
  * sf10" carries the adjudication):
  *
  *  - `recall`      — the declared top-100 id-pair contract, verbatim.
  *    Degenerates at high replication: names copy VERBATIM across
  *    replicas, so every name is a 100-copy exact-duplicate clique at
  *    sf10 and the exact top-100 is ONE clique's id-ordered jw = 1.0
  *    pairs — a window-based candidate generator structurally cannot
  *    surface specific far-apart copy pairs (W = 10 reaches ~10 of 99).
  *  - `recall_near` — same contract restricted to name_a ≠ name_b.
  *    Still id-pair-grained: each near NAME pair exists as ~10⁴ id-pair
  *    copies at sf10, and the id-ordered top-100 picks copies the
  *    window cannot reach. Measures the tiebreaker, not the matcher.
  *  - `recall_entity` — distinct unordered NAME pairs (name_a ≠ name_b),
  *    FULL sets, no top-100: "of the true near-duplicate name pairs,
  *    how many does SNM link at least once?" Replication-invariant —
  *    the entity-resolution question, since exact-duplicate cliques
  *    link transitively through any one surfaced pair.
  *  - `recall_dedup` — the top-100 contract re-run on the exact-name-
  *    DEDUPED corpus (one representative per (block, name) — the
  *    production funnel order: exact dedup BEFORE fuzzy matching, our
  *    own llm_ingest_e2e stage 1). Cheap at any sf (the deduped corpus
  *    is base-sized) and the number a deployed matcher actually has.
  *
  * The raw/near/entity views each execute the exact quadratic join —
  * affordable through sf1 (~57M scored pairs), PROHIBITIVE at sf10
  * (~5.7B scored pairs: 63% of all within-block pairs clear JW 0.93 on
  * TPC-H's self-similar names, and a persist of that stream filled the
  * disk — r12 finding). `--dedup-only` skips them and reports only the
  * replication-invariant production numbers (recall_dedup + w_curve),
  * which is the right mode for any ScaleGen-replicated dir.
  *
  * Usage: runMain graft.ScaleRecall <dataDir> [--dedup-only]
  */
object ScaleRecall {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    sys.props("graft.fixtures.sf") = dir // r14: sf-scoped fixture tree
    val dedupOnly = args.contains("--dedup-only")
    val spark = Session.local()
    import graft.operators.Insights

    val corpus = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              col("c_nationkey"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def names(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.filter(col("name_a") =!= col("name_b"))
        .select(least(col("name_a"), col("name_b")).as("l"),
                greatest(col("name_a"), col("name_b")).as("g"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    def recall[A](exact: Set[A], cand: Set[A]): Double =
      if (exact.isEmpty) 1.0 else (exact & cand).size.toDouble / exact.size

    // The quadratic-ground-truth views (≤ sf1 only — see the class doc).
    // No persist: the scored stream does not fit any store at replicated
    // scales; each view is its own streaming pass (TakeOrdered for the
    // tops, executor-side distinct for the name sets).
    val (quadJson, tExact, tSnm) = if (dedupOnly) ("", 0.0, 0.0) else {
      val exactScored = Insights.jaroScoredOf(corpus)
      val snmScored = Insights.snmScoredOf(corpus)
      val (exactTop, tE) = timed(ids(Insights.topPairs(exactScored)))
      val (snmTop, tS) = timed(ids(Insights.topPairs(snmScored)))
      val exactNearTop = ids(Insights.topPairs(exactScored, excludeEqual = true))
      val snmNearTop = ids(Insights.topPairs(snmScored, excludeEqual = true))
      val exactNames = names(exactScored)
      val snmNames = names(snmScored)
      (f""""recall":${recall(exactTop, snmTop)}%.4f,""" +
       f""""recall_near":${recall(exactNearTop, snmNearTop)}%.4f,""" +
       f""""recall_entity":${recall(exactNames, snmNames)}%.4f,""" +
       f""""n_exact_names":${exactNames.size},"n_snm_names":${snmNames.size},""",
       tE, tS)
    }

    // production order: exact-name dedup first, then the same contract
    val dedup = corpus
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("c_name"))
      .agg(min(col("c_custkey")).as("c_custkey"))
    val (exactDedupTop, tExactD) =
      timed(ids(Insights.topPairs(Insights.jaroScoredOf(dedup))))
    val (snmDedupTop, tSnmD) =
      timed(ids(Insights.topPairs(Insights.snmScoredOf(dedup))))

    // W is the recall knob (the ANN ball-radius analogy): top-100 recall
    // on the deduped corpus per window width, so BASELINE.md can carry
    // the recall/cost curve instead of a single point.
    val wCurve = Seq(10, 25, 50, 100).map { w =>
      val (top, t) = timed(ids(Insights.topPairs(
        Insights.snmScoredOf(dedup, w))))
      (w, recall(exactDedupTop, top), t)
    }
    val wJson = wCurve.map { case (w, r, t) =>
      f"""{"w":$w,"recall":$r%.4f,"t_s":$t%.2f}""" }.mkString("[", ",", "]")

    println(f"""{"metric":"snm_recall","dir":"$dir",""" +
      quadJson +
      f""""recall_dedup":${recall(exactDedupTop, snmDedupTop)}%.4f,""" +
      f""""n_exact_dedup":${exactDedupTop.size},"n_snm_dedup":${snmDedupTop.size},""" +
      f""""t_exact_s":$tExact%.2f,"t_snm_s":$tSnm%.2f,""" +
      f""""t_exact_dedup_s":$tExactD%.2f,"t_snm_dedup_s":$tSnmD%.2f,""" +
      s""""w_curve":$wJson}""")
    spark.stop()
  }
}
