package graft.llm

import graft.{Q, Tables}
import graft.llm.TextRules.{duckToks, dupPrefix, toksE}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver mandate (round-2 widening) — the corpus-construction operators a
  * training-data pipeline runs AFTER filtering/dedup: deterministic
  * sampling and splits, sequence packing, PII scrubbing, duplicate-cluster
  * resolution, and embedding quantization. Everything keys on md5-derived
  * integers (never JVM-seeded RNG) so each operator is reproducible across
  * engines/runs and carries a full DuckDB oracle.
  *
  * Scale design (100 TB): sampling/split/scrub/quantize are stateless
  * per-row projections (pipelined in the scan, no shuffle); packing is one
  * window shuffle on the stratum key; clustering is the standard iterative
  * min-label propagation whose per-step cost is one join+agg on the
  * (sparse) duplicate-pair edge list — the edge list, not the corpus, is
  * the working set. */
object Pipeline {

  /** Deterministic uniform in [0, 1e6): md5-derived 60-bit id mod 1e6.
    * Identical arithmetic on the DuckDB side; Spark rides the
    * [[graft.functions.Sketches.Tid60]] kernel. */
  private def uE(x: String) =
    s"(tid60($x) % 1000000)"
  private def duckU(x: String) =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT % 1000000"

  /** Connected-component labels over the near-dup pair graph: (doc_id →
    * min doc_id of its component), via min-label propagation + pointer
    * doubling ([[components]]). Shared by llm_dedup_cluster and
    * llm_dedup_survivors. The edge list — not the corpus — is the loop's
    * working set, so it is repartitioned to its own size class and
    * lineage is cut per step (localCheckpoint; a checkpoint dir at real
    * scale).
    *
    * The labels are a shared PIPELINE STAGE, not a per-query scratch
    * value — a curation DAG computes components once and feeds both the
    * cluster report and the survivor materialization from the same
    * artifact. So the final (already-checkpointed) label table is
    * memoized per (session, dataset) via [[Memo.stage]]: the first
    * consumer pays the propagation, later consumers read the
    * materialized stage (the same one-time-cost amortization the
    * bucketed-join layout declares). */
  private[llm] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Memo.stage(s, dir, "cluster_labels") { computeLabels(s, dir) }

  private def computeLabels(s: SparkSession, dir: String): DataFrame = {
    val cut: DataFrame => DataFrame = Memo.cut(s)
    val pairs = Dedup.nearPairs(s, dir).select(col("id_a"), col("id_b"))
    val raw = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val first = cut(raw)
    // Size the loop's working partitioning by the EDGE count (the corpus
    // partitioning is irrelevant here): ~1M edges per task, capped at the
    // session's parallelism — 1 task at fixture scale, hundreds at 100 TB.
    val nEdges = first.count()
    val parts = math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
                                      nEdges / 1000000L + 1L)).toInt
    val edges = if (first.rdd.getNumPartitions == parts) first
                else cut(first.repartition(parts))
    components(edges, cut)._1
  }

  /** Connected-component min labels over an undirected edge list (both
    * directions present as (src, dst)), by min-label propagation PLUS
    * POINTER DOUBLING: each round first takes the neighborhood minimum
    * (lbl'(v) = min(lbl(v), min over neighbors' lbl)), then shortcuts
    * through the label table itself (lbl''(v) = lbl'(lbl'(v))) — every
    * round roughly doubles the distance a minimum has traveled, so a
    * diameter-d component converges in O(log d) rounds instead of plain
    * propagation's O(d) (the r6 loop, capped at 20 rounds, which went
    * silently non-converged on deeper graphs — PropertySpec now pins a
    * depth-100 chain at exact labels and the log bound).
    *
    * Correctness needs no round cap: labels are monotone non-increasing,
    * always name a node of the same component (propagation moves along
    * edges, shortcutting through a member's own label), and are bounded
    * below by the component minimum m. At the no-change fixpoint,
    * lbl(v) ≤ lbl(u) across every edge (v,u) — so labels are constant
    * per component — and the constant c satisfies lbl(c) = c; applying
    * the fixpoint at the member m itself gives lbl(m) = c ≤ m, hence
    * c = m exactly. Per-round cost: two equi-joins + one agg on
    * edge/label-sized tables (never the corpus); the shortcut join's
    * build side is the label table keyed by id — same cardinality class
    * as the propagation join, and Catalyst's ReuseExchange dedups the
    * repeated `prop` subtree inside one round's job. Convergence check
    * is the same driver-side count contract as before, but O(log d)
    * tiny jobs instead of O(d). Returns (labels(id, lbl), rounds). */
  private[graft] def components(edges0: DataFrame,
                                cut: DataFrame => DataFrame): (DataFrame, Int) = {
    val edges = edges0.select(col("src"), col("dst"))
    // seed with the direct-neighborhood minimum — one propagation step
    // fused into initialization
    var lbl = cut(edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("lbl"))
      .select(col("src").as("id"), col("lbl")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // one pass computes BOTH the new label and whether it moved: the
      // own-label row carries `old`, neighbor rows don't, so the agg can
      // compare min(cand) against max(old) without a second join
      val own = lbl.select(col("id"), col("lbl").as("cand"), col("lbl").as("old"))
      val nb = edges.join(lbl.select(col("id").as("dst"), col("lbl")), "dst")
        .select(col("src").as("id"), col("lbl").as("cand"),
                lit(null).cast("long").as("old"))
      val prop = own.union(nb)
        .groupBy(col("id"))
        .agg(min(col("cand")).as("plbl"), max(col("old")).as("old"))
      // pointer doubling: chase the propagated label's own label. Every
      // label names a member node (ids and labels share the src domain),
      // so the left join's miss arm never fires on a well-formed edge
      // list — coalesce kept for degenerate inputs.
      val ptr = prop.select(col("id").as("ptr_key"), col("plbl").as("lbl2"))
      val next = cut(prop.join(ptr, col("plbl") === col("ptr_key"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("plbl")).as("lbl"),
                col("old")))
      changed = next.filter(col("lbl") =!= col("old")).count()
      lbl = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    (lbl, rounds)
  }

  /** DuckDB CTE fragment computing the same component labels (appended
    * after [[Dedup.duckNearPairsCtes]] under WITH RECURSIVE). */
  private val duckClusterCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM near_pairs
                 UNION SELECT id_b, id_a FROM near_pairs),
       reach(id, r) AS (
         SELECT DISTINCT src AS id, src AS r FROM edges
         UNION
         SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
       labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)"""

  val qs: Seq[(String, Q)] = Seq(

    // Stratified Bernoulli sampling: per-stratum rates (downsample the
    // dominant 'en' stratum to 20%, keep 50% elsewhere), keyed on a salted
    // md5 uniform so the sample is a pure function of (lang, doc_id) —
    // re-runs, retries, and engine swaps all draw the same rows.
    "llm_sample_stratified" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
        .withColumn("u", expr(uE("concat('sample:', lang, ':', CAST(doc_id AS STRING))")))
        .filter(col("u") < when(col("lang") === "en", 200000).otherwise(500000))
        .select(col("doc_id"), col("lang"), col("source"), col("u"))
        .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, lang, source, u FROM (
                 SELECT doc_id, lang, source,
                        ${duckU("'sample:' || lang || ':' || CAST(doc_id AS VARCHAR)")} AS u
                 FROM documents)
               WHERE u < CASE WHEN lang = 'en' THEN 200000 ELSE 500000 END
               ORDER BY doc_id""")),

    // Deterministic train/val/test split (8/1/1 by md5 bucket) with
    // per-(lang, split) counts — the split is a pure function of doc_id,
    // so adding data never reassigns existing documents.
    "llm_split_train" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
        .withColumn("b", expr(uE("concat('split:', CAST(doc_id AS STRING))")) % 10)
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("lang"), col("split"))
      },
      Some(s"""SELECT lang, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
               FROM (SELECT lang, doc_id,
                       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                            ELSE 'test' END AS split
                     FROM (SELECT lang, doc_id,
                             ${duckU("'split:' || CAST(doc_id AS VARCHAR)")} % 10 AS b
                           FROM documents))
               GROUP BY lang, split
               ORDER BY lang, split""")),

    // Sequence packing: assign docs to fixed-token-budget packs by
    // exclusive running token count within each lang stratum (sorted-fill
    // packing — contiguous prefix-sum buckets, the shape that runs as ONE
    // window pass; a greedy first-fit packer is inherently sequential and
    // cannot scale out).
    "llm_pack_sequences" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, dir)
          .withColumn("n_toks", size(split(col("text"), " ")))
          .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
          .select(col("lang"), col("doc_id"), col("n_toks"),
                  floor(col("cum_before") / 2048L).as("pack_id"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""SELECT lang, doc_id, n_toks,
                     CAST(FLOOR(cum_before / 2048) AS BIGINT) AS pack_id
              FROM (SELECT lang, doc_id,
                      len(string_split(text, ' ')) AS n_toks,
                      COALESCE(SUM(len(string_split(text, ' ')))
                        OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cum_before
                    FROM documents)
              ORDER BY lang, doc_id""")),

    // PII scrubbing: redact email-shaped and 3+-digit-run substrings,
    // count the hits — stateless regexp projection, pipelined in the scan.
    "llm_pii_scrub" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_emails", size(expr(
          "regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+', 0)")))
        .withColumn("n_nums", size(expr(
          "regexp_extract_all(text, '[0-9]{3,}', 0)")))
        .withColumn("scrubbed", regexp_replace(
          regexp_replace(col("text"), "[a-z0-9._%+-]+@[a-z0-9.-]+", "<EMAIL>"),
          "[0-9]{3,}", "<NUM>"))
        .select(col("doc_id"), col("n_emails"), col("n_nums"),
                length(col("scrubbed")).as("clean_len"),
                substring(col("scrubbed"), 1, 60).as("preview"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
                     len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS n_emails,
                     len(regexp_extract_all(text, '[0-9]{3,}')) AS n_nums,
                     length(scrubbed) AS clean_len,
                     substr(scrubbed, 1, 60) AS preview
              FROM (SELECT doc_id, text,
                      regexp_replace(
                        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+',
                                       '<EMAIL>', 'g'),
                        '[0-9]{3,}', '<NUM>', 'g') AS scrubbed
                    FROM documents)
              ORDER BY doc_id""")),

    // Crawl URL canonicalization + dedup accounting — the step every web
    // corpus runs before content dedup ever sees a byte: the same page
    // arrives under case variants, tracking queries, fragments, and
    // trailing slashes, and canonicalization collapses them without
    // reading content. Fixture URLs are built deterministically with
    // planted variants (shared doc-id slots plus %3/%5 decorations); the
    // canonical form lowercases, strips the fragment, the utm tracking
    // query, and the trailing slash — a stateless regexp projection
    // pipelined in the scan (zero shuffle beyond the per-source count
    // distinct). Per-source raw-vs-canonical distincts quantify the
    // collapse.
    "llm_url_canon_dedup" -> Q(
      (s, dir) => {
        val raw = Tables.documents(s, dir)
          .withColumn("url", concat(
            lit("https://"), col("source"), lit(".Example.com/"), col("lang"),
            lit("/doc-"), (col("doc_id") % 400).cast("string"),
            when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
            when(col("doc_id") % 3 === 0, lit("?utm_source=feed&ref=rss"))
              .when(col("doc_id") % 3 === 1, lit("#section-2"))
              .otherwise(lit(""))))
        raw.withColumn("canon",
            regexp_replace(regexp_replace(regexp_replace(lower(col("url")),
              "#.*$", ""), "\\?utm_[a-z_]+=[^#]*", ""), "/$", ""))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("url")).as("n_raw"),
               countDistinct(col("canon")).as("n_canonical"))
          .withColumn("dup_rate",
            round((col("n_raw") - col("n_canonical")).cast("double") /
                  col("n_raw"), 6))
          .orderBy(col("source"))
      },
      Some("""WITH u AS (SELECT source,
                       'https://' || source || '.Example.com/' || lang
                       || '/doc-' || (doc_id % 400)
                       || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN '?utm_source=feed&ref=rss'
                               WHEN doc_id % 3 = 1 THEN '#section-2'
                               ELSE '' END AS url
                     FROM documents),
                   c AS (SELECT source, url,
                       regexp_replace(regexp_replace(regexp_replace(
                         lower(url), '#.*$', '', 'g'),
                         '\?utm_[a-z_]+=[^#]*', '', 'g'),
                         '/$', '', 'g') AS canon
                     FROM u)
              SELECT source, COUNT(*) AS n_docs,
                     COUNT(DISTINCT url) AS n_raw,
                     COUNT(DISTINCT canon) AS n_canonical,
                     round(CAST(COUNT(DISTINCT url) - COUNT(DISTINCT canon)
                                AS DOUBLE) / COUNT(DISTINCT url), 6)
                       AS dup_rate
              FROM c GROUP BY 1 ORDER BY source""")),

    // Duplicate-cluster resolution: connected components over the
    // near-dup pair graph (llm_dedup_near's edges), via iterative
    // min-label propagation — each step is one join+agg over the SPARSE
    // edge list; lineage is cut per step (localCheckpoint; at real scale
    // a checkpoint dir). Converges in O(component diameter) steps. The
    // oracle computes the same components with a recursive CTE over the
    // dense pair SQL.
    "llm_dedup_cluster" -> Q(
      (s, dir) => {
        val size_w = Window.partitionBy(col("cluster_id"))
        clusterLabels(s, dir)
          .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
          .withColumn("cluster_size", count(lit(1)).over(size_w))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.duckNearPairsCtes},
               $duckClusterCtes
               SELECT id AS doc_id, cluster_id,
                      COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
               FROM labels
               ORDER BY doc_id""")),

    // Dedup survivor materialization — the operator a pipeline actually
    // ships: per lang, how much of the corpus survives one-doc-per-cluster
    // dedup (survivor = the component's min doc_id; docs in no near-dup
    // pair all survive). Completes the dedup story: pairs → clusters →
    // the kept corpus.
    "llm_dedup_survivors" -> Q(
      (s, dir) => {
        val dropped = clusterLabels(s, dir).filter(col("id") =!= col("lbl"))
          .select(col("id").as("drop_id"))
        Tables.documents(s, dir)
          .join(dropped, col("doc_id") === col("drop_id"), "left_anti")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.duckNearPairsCtes},
               $duckClusterCtes
               SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
               FROM documents
               WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
               GROUP BY lang
               ORDER BY lang""")),

    // CLUSTER-SAFE train/val/test split (r13) — the contamination guard
    // llm_split_train alone cannot give: hashing doc_id puts two near-
    // duplicates of the same document in DIFFERENT splits with prob
    // ~0.34, which is exactly train→test leakage. The split key here is
    // the near-dup CLUSTER representative (component min doc_id from the
    // memoized label stage; docs in no near-dup pair represent
    // themselves), so split = f(representative) and NO near-dup pair —
    // or transitive chain of them — can straddle splits (pinned as the
    // pair-level property in PropertySpec, not just structurally).
    // Same md5-bucket determinism as llm_split_train: adding data never
    // reassigns existing clusters. Scale shape: one broadcast-sized
    // label join + the same hash projection — the split adds NO shuffle
    // beyond what the cluster stage already paid; at 100 TB the labels
    // table is |clustered docs| ≪ corpus.
    "llm_split_clustersafe" -> Q(
      (s, dir) => {
        val labels = clusterLabels(s, dir)
          .select(col("id").as("doc_id"), col("lbl").as("rep"))
        Tables.documents(s, dir)
          // broadcast is load-bearing: the label side is a checkpointed
          // RDD with no stats, so without the hint Spark sort-merges —
          // shuffling the whole corpus on doc_id for a metadata-sized
          // probe (caught by PlanAuditSpec when this key first landed)
          .join(broadcast(labels), Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("rep"), col("doc_id")))
          .withColumn("b",
            expr(uE("concat('csplit:', CAST(rep AS STRING))")) % 10)
          .withColumn("split",
            when(col("b") < 8, "train").when(col("b") === 8, "val")
              .otherwise("test"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
               count_distinct(col("rep")).as("n_clusters"),
               min(col("doc_id")).as("min_doc"))
          .orderBy(col("split"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.duckNearPairsCtes},
               $duckClusterCtes,
               rep AS (SELECT d.doc_id,
                              COALESCE(l.cluster_id, d.doc_id) AS rep
                       FROM documents d
                       LEFT JOIN labels l ON l.id = d.doc_id),
               assigned AS (
                 SELECT doc_id, rep,
                        CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                             ELSE 'test' END AS split
                 FROM (SELECT doc_id, rep,
                         ${duckU("'csplit:' || CAST(rep AS VARCHAR)")} % 10 AS b
                       FROM rep))
               SELECT split, COUNT(*) AS n_docs,
                      COUNT(DISTINCT rep) AS n_clusters,
                      MIN(doc_id) AS min_doc
               FROM assigned
               GROUP BY split
               ORDER BY split""")),

    // Preference-pair construction (the DPO/RLHF data shape): within each
    // near-dup cluster, (chosen, rejected) = the highest- vs lowest-
    // quality member — near-duplicates are the natural "same content,
    // different quality" pairing a preference tuner wants, and clusters
    // with no quality spread carry no signal (filtered). Rides two
    // already-memoized artifacts: the cluster-label stage and the exact-
    // decimal quality score (recomputed inline — a scan-pipelined
    // projection, no extra shuffle), so the only new work is one window
    // + one aggregate over the LABELED subset (paired docs only, a small
    // fraction of the corpus). Ties break deterministically: min doc_id
    // among the argmax-quality members, max doc_id among the argmin —
    // decimal equality is exact, so the argmax set is engine-identical.
    "llm_preference_pairs" -> Q(
      (s, dir) => {
        val labels = clusterLabels(s, dir)
          .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        val quality = Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("n_toks", size(col("toks")))
          .withColumn("stop_ratio", (size(expr(
              "filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))"))
            .cast("decimal(18,6)") / col("n_toks")).cast("decimal(18,6)"))
          .withColumn("short_ratio", (size(expr(
              "filter(toks, t -> length(t) <= 2)"))
            .cast("decimal(18,6)") / col("n_toks")).cast("decimal(18,6)"))
          .withColumn("len_score", expr(
            "CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300, CAST(1.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))"))
          .withColumn("quality", expr(
            """CAST(len_score * CAST(0.5 AS DECIMAL(2,1))
                    + (CAST(1.0 AS DECIMAL(2,1)) - stop_ratio) * CAST(0.3 AS DECIMAL(2,1))
                    + (CAST(1.0 AS DECIMAL(2,1)) - short_ratio) * CAST(0.2 AS DECIMAL(2,1))
               AS DECIMAL(18,7))"""))
          .select(col("doc_id"), col("quality"))
        val w = Window.partitionBy(col("cluster_id"))
        labels.join(quality, Seq("doc_id"))
          .withColumn("qmax", max(col("quality")).over(w))
          .withColumn("qmin", min(col("quality")).over(w))
          .filter(col("qmax") > col("qmin"))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
               min(when(col("quality") === col("qmax"), col("doc_id")))
                 .as("chosen_id"),
               max(when(col("quality") === col("qmin"), col("doc_id")))
                 .as("rejected_id"),
               max(col("qmax")).cast("double").as("chosen_q"),
               min(col("qmin")).cast("double").as("rejected_q"),
               max(col("qmax") - col("qmin")).cast("double").as("margin"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.duckNearPairsCtes},
               $duckClusterCtes,
               q AS (SELECT doc_id,
                       CAST(len_score * CAST(0.5 AS DECIMAL(2,1))
                            + (CAST(1.0 AS DECIMAL(2,1)) - stop_ratio) * CAST(0.3 AS DECIMAL(2,1))
                            + (CAST(1.0 AS DECIMAL(2,1)) - short_ratio) * CAST(0.2 AS DECIMAL(2,1))
                       AS DECIMAL(18,7)) AS quality
                     FROM (SELECT doc_id,
                             CAST(CAST(len(list_filter($duckToks,
                                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DECIMAL(18,6))
                                  / len($duckToks) AS DECIMAL(18,6)) AS stop_ratio,
                             CAST(CAST(len(list_filter($duckToks,
                                 t -> length(t) <= 2)) AS DECIMAL(18,6))
                                  / len($duckToks) AS DECIMAL(18,6)) AS short_ratio,
                             CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300, 1.0)
                                  AS DECIMAL(18,6)) AS len_score
                           FROM documents)),
               j AS (SELECT l.id AS doc_id, l.cluster_id, q.quality,
                            MAX(q.quality) OVER (PARTITION BY l.cluster_id) AS qmax,
                            MIN(q.quality) OVER (PARTITION BY l.cluster_id) AS qmin
                     FROM labels l JOIN q ON q.doc_id = l.id)
               SELECT cluster_id, COUNT(*) AS n_members,
                      MIN(CASE WHEN quality = qmax THEN doc_id END) AS chosen_id,
                      MAX(CASE WHEN quality = qmin THEN doc_id END) AS rejected_id,
                      CAST(MAX(qmax) AS DOUBLE) AS chosen_q,
                      CAST(MIN(qmin) AS DOUBLE) AS rejected_q,
                      CAST(MAX(qmax - qmin) AS DOUBLE) AS margin
               FROM j
               WHERE qmax > qmin
               GROUP BY cluster_id
               ORDER BY cluster_id""")),

    // Filter-funnel report: how many documents each curation gate would
    // remove, cumulatively — the triage report run before committing to a
    // filter stack. One conditional-aggregation pass; each stage is the
    // conjunction of all gates up to it.
    "llm_filter_funnel" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("toks", expr(toksE))
        .withColumn("g_len", col("n_chars").between(60, 2000))
        .withColumn("g_toks", size(col("toks")) >= 10)
        .withColumn("g_stop", size(expr(
          "filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))")) > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_raw"),
             sum(when(col("g_len"), 1L).otherwise(0L)).as("pass_len"),
             sum(when(col("g_len") && col("g_toks"), 1L).otherwise(0L))
               .as("pass_len_toks"),
             sum(when(col("g_len") && col("g_toks") && col("g_stop"), 1L)
               .otherwise(0L)).as("pass_all"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang, COUNT(*) AS n_raw,
                     CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT)
                       AS pass_len,
                     CAST(SUM(CASE WHEN g_len AND g_toks THEN 1 ELSE 0 END)
                       AS BIGINT) AS pass_len_toks,
                     CAST(SUM(CASE WHEN g_len AND g_toks AND g_stop THEN 1
                              ELSE 0 END) AS BIGINT) AS pass_all
              FROM (SELECT lang,
                      n_chars BETWEEN 60 AND 2000 AS g_len,
                      len($duckToks) >= 10 AS g_toks,
                      len(list_filter($duckToks,
                          t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) > 0
                        AS g_stop
                    FROM documents)
              GROUP BY lang
              ORDER BY lang""")),

    // Count-min sketch beside its exact anchor — the bounded-memory
    // frequency estimator for corpus token stats at 100 TB (the sketch is
    // mergeable across partitions; memory is eps/confidence-bound, not
    // cardinality-bound). CMS never underestimates, and overestimate is
    // ≤ eps·N with the declared confidence — both declared as booleans
    // next to the exact count; the sketch bytes stay internal.
    "llm_topk_cms" -> Q(
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(explode(expr(toksE)).as("tok"))
        val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("tok")).limit(5)
        val sketchBytes = tok
          .agg(count_min_sketch(col("tok"), lit(0.001), lit(0.99), lit(42)))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        // N for the eps·N bound comes from the sketch itself (CMS tracks
        // its own totalCount), so no separate full count() pass — the
        // corpus is scanned once for the sketch, once for the exact anchor.
        val n_total = cms.totalCount()
        val s2 = s
        import s2.implicits._
        val est = exact.collect().toSeq // 5 rows — driver-side by design
          .map { r =>
            val t = r.getString(0); val n = r.getLong(1)
            val e = cms.estimateCount(t)
            (t, n, e >= n, e - n <= math.ceil(0.001 * n_total).toLong)
          }
        est.toDF("tok", "n_exact", "no_underestimate", "overest_in_eps")
          .orderBy(col("n_exact").desc, col("tok"))
      },
      Some(s"""SELECT tok, n_exact, TRUE AS no_underestimate, TRUE AS overest_in_eps
              FROM (SELECT tok, COUNT(*) AS n_exact
                    FROM (SELECT unnest($duckToks) AS tok
                          FROM documents)
                    GROUP BY tok
                    ORDER BY n_exact DESC, tok
                    LIMIT 5)
              ORDER BY n_exact DESC, tok""")),

    // The dataset card: the per-corpus summary report every shipped
    // training set carries — composition by lang/source with size,
    // length, and dedup-rate columns in one pass over `documents`.
    "llm_dataset_card" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("h", sha2(expr(dupPrefix), 256))
        d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("total_chars"),
               min(col("n_chars")).as("min_chars"),
               max(col("n_chars")).as("max_chars"),
               graft.H.davg(col("n_chars")).as("avg_chars"),
               countDistinct(col("h")).as("n_unique"))
          .withColumn("dup_rate",
            ((col("n_docs") - col("n_unique")).cast("decimal(18,6)") /
             col("n_docs")).cast("decimal(18,6)").cast("double"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
                      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                      ${graft.H.oAvg("n_chars")} AS avg_chars,
                      COUNT(DISTINCT sha256($dupPrefix))
                        AS n_unique,
                      CAST(CAST(CAST(COUNT(*) - COUNT(DISTINCT
                             sha256($dupPrefix))
                           AS DECIMAL(18,6)) / COUNT(*) AS DECIMAL(18,6))
                           AS DOUBLE) AS dup_rate
               FROM documents
               GROUP BY lang, source
               ORDER BY lang, source""")),

    // Int8 symmetric quantization of the embedding column + reconstruction
    // error — the storage/serving compression step. floor(x/s + 0.5)
    // instead of round(): both engines floor identically, while their
    // round() tie modes differ. Zero-vector guard keeps the division
    // total.
    "llm_embed_quantize" -> Q(
      (s, dir) => Tables.embeddings(s, dir)
        .withColumn("scale", greatest(
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"),
          lit(1e-12)))
        .withColumn("qs", expr(
          """transform(embedding,
             x -> CAST(greatest(least(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                      127.0), -127.0) AS BIGINT))"""))
        .withColumn("max_err", expr(
          "array_max(zip_with(embedding, qs, (x, q) -> abs(CAST(x AS DOUBLE) - q * scale)))"))
        .select(col("vec_id"), col("label"),
                round(col("scale"), 6).as("scale6"),
                size(expr("filter(qs, q -> q != 0)")).as("n_nonzero"),
                round(col("max_err"), 6).as("max_err6"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, label,
                     round(scale, 6) AS scale6,
                     len(list_filter(qs, q -> q != 0)) AS n_nonzero,
                     round(list_max(list_transform(list_zip(embedding, qs),
                       p -> abs(CAST(p[1] AS DOUBLE) - p[2] * scale))), 6) AS max_err6
              FROM (SELECT vec_id, label, embedding, scale,
                      list_transform(embedding,
                        x -> CAST(greatest(least(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                                 127.0), -127.0) AS BIGINT)) AS qs
                    FROM (SELECT vec_id, label, embedding,
                            greatest(list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
                          FROM embeddings))
              ORDER BY vec_id""")),

    // Deterministic global training shuffle — the last step before a
    // corpus ships to a trainer: every doc gets a (shard, position) that
    // is a pure function of its id (md5-keyed, no RNG — rerunning the
    // pipeline reproduces the exact batch order). The scale design is
    // hash-shard THEN sort-within-shard: the shard column is a hash
    // partition (uniform by construction), and each shard orders its own
    // rows by the same hash — so there is NO global sort of the corpus
    // anywhere, just |shards| independent local sorts, which is how a
    // 100 TB shuffle actually runs (a global orderBy would funnel range
    // boundaries through a single sampling pass and skew-prone ranges).
    "llm_global_shuffle" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("shard")).orderBy(col("u"), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("u", expr(uE("concat('shuffle:', CAST(doc_id AS STRING))")))
          .withColumn("shard", col("u") % 8)
          .withColumn("pos", row_number().over(w))
          .select(col("shard"), col("pos"), col("doc_id"), col("lang"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(s"""SELECT shard, ROW_NUMBER() OVER (PARTITION BY shard
                                                ORDER BY u, doc_id) AS pos,
                      doc_id, lang
               FROM (SELECT doc_id, lang,
                       ${duckU("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS u,
                       ${duckU("'shuffle:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
                     FROM documents)
               ORDER BY shard, pos""")),

    // The MATERIALIZED half of llm_global_shuffle: the shuffled corpus
    // written as a partitioned shard layout (shard=N directories, rows
    // run-ordered by pos within each shard file) and read back — the
    // pipeline step a trainer's data loader actually consumes, not just
    // the query that models it. Writer parallelism = shard cardinality
    // (8 here; the 100 TB run uses O(cluster-cores) shards, each a
    // sequential-read run for one loader worker — the shard count IS the
    // scale knob, there is no salt because a shard must stay one ordered
    // run). Oracle recomputes from the unpartitioned source, so the hash
    // gate proves the layout round-trips losslessly with pos intact.
    "snk_shuffle_shards" -> Q(
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val out = s"${graft.Fixtures.dir}/shuffle_shards_$tag"
        val w = Window.partitionBy(col("shard")).orderBy(col("u"), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("u", expr(uE("concat('shuffle:', CAST(doc_id AS STRING))")))
          .withColumn("shard", col("u") % 8)
          .withColumn("pos", row_number().over(w))
          .select(col("shard"), col("pos"), col("doc_id"), col("lang"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("pos"))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
        s.read.parquet(out)
          // partition-dir column comes back as the inferred partition
          // type — cast to the source's BIGINT so the round-trip is
          // schema-exact
          .select(col("shard").cast("long").as("shard"), col("pos"),
                  col("doc_id"), col("lang"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(s"""SELECT shard, ROW_NUMBER() OVER (PARTITION BY shard
                                                ORDER BY u, doc_id) AS pos,
                      doc_id, lang
               FROM (SELECT doc_id, lang,
                       ${duckU("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS u,
                       ${duckU("'shuffle:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
                     FROM documents)
               ORDER BY shard, pos"""))
  )
}
