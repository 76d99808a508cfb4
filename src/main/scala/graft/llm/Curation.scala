package graft.llm

import graft.{Q, Tables}
import graft.llm.TextRules.{duckToks, toksE}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 corpus-curation additions — the bookkeeping operators a
  * training-data pipeline runs between dedup and packing: eval-set
  * decontamination, RAG chunking, source-mixture planning, and the
  * token-length census. All stateless projections / two-level aggs over
  * `documents`; each carries a full DuckDB oracle.
  *
  * Scale notes: decontamination is the only join here, and its build side
  * is the EVAL gram set — tiny by construction (the eval corpus is
  * curated, not crawled), so it broadcasts and the 100 TB train side
  * streams through map-side; chunking/mixing/census are scan-pipelined
  * with at most one agg shuffle. */
object Curation {

  /** Distinct 4-token grams — the decontamination grain. Real pipelines
    * use 8-13-gram overlap; the fixture texts are short synthetic strings
    * whose 8-grams never collide (verified: zero hits corpus-wide), so
    * the demo grain is 4 — the operator shape (distinct-gram explode +
    * broadcast semi-ish join) is grain-independent. Guarded for short
    * docs: Spark's sequence(1, n) REVERSES when n < 1. */
  // Built from zip_with over FOUR top-level slices, never
  // `transform(sequence(...), i -> slice(toks, i, 4))`: slice-inside-a-
  // lambda re-evaluates its array argument per element, and after
  // CollapseProject inlines the split() that is O(tokens²) re-tokenization
  // per doc (the trap documented on graft.functions.Sketches; measured
  // ~5 s → ~1 s on this operator). zip_with's array arguments evaluate
  // once per row. Not array_distinct'ed: both consumers dedup downstream
  // (eval explodes into .distinct(), train counts with countDistinct).
  private val grams4 =
    """CASE WHEN size(toks) >= 4
       THEN zip_with(
              zip_with(slice(toks, 1, size(toks) - 3),
                       slice(toks, 2, size(toks) - 3),
                       (a, b) -> concat(a, ' ', b)),
              zip_with(slice(toks, 3, size(toks) - 3),
                       slice(toks, 4, size(toks) - 3),
                       (a, b) -> concat(a, ' ', b)),
              (x, y) -> concat(x, ' ', y))
       ELSE array() END"""
  private val duckGrams4 =
    """list_distinct(list_transform(generate_series(1, len(toks) - 3),
         i -> array_to_string(toks[i:i+3], ' ')))"""

  val qs: Seq[(String, Q)] = Seq(

    // Eval-set decontamination: flag train docs sharing any 4-token gram
    // with the (tiny, curated) eval split — here eval = doc_id % 101 = 0.
    // The eval gram set broadcasts; train grams stream through the
    // broadcast hash join without shuffling the corpus. Output is the
    // contamination report: per flagged train doc, how many distinct
    // eval grams it contains.
    "llm_decontaminate" -> Q(
      (s, dir) => {
        // ONE tokenize+4-gram pass (r15): d feeds the eval-set and train
        // branches, each previously re-running the shuffle-free chain
        val d = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .select(col("doc_id"), expr(grams4).as("grams")))
        val ev = d.filter(col("doc_id") % 101 === 0)
          .select(explode(col("grams")).as("g")).distinct()
        val train = d.filter(col("doc_id") % 101 =!= 0)
          .select(col("doc_id"), explode(col("grams")).as("g"))
        train.join(broadcast(ev), Seq("g"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("g")).as("n_shared_grams"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckGrams4 AS grams
                          FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
                    e AS (SELECT DISTINCT unnest(grams) AS g FROM d
                          WHERE doc_id % 101 = 0),
                    t AS (SELECT doc_id, unnest(grams) AS g FROM d
                          WHERE doc_id % 101 <> 0)
               SELECT t.doc_id AS doc_id, COUNT(DISTINCT t.g) AS n_shared_grams
               FROM t JOIN e ON t.g = e.g
               GROUP BY t.doc_id
               ORDER BY doc_id""")),

    // RAG/window chunking: 50-token chunks, stride 40 (10-token overlap),
    // with per-chunk offsets — one generate-explode per doc, no shuffle
    // until the declared global order. Both engines clamp the tail slice.
    "llm_chunking" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("toks", expr(toksE))
        .select(col("doc_id"), col("toks"),
                explode(expr("sequence(1, size(toks), 40)")).as("start"))
        .select(col("doc_id"),
                (((col("start") - 1) / 40) + 1).cast("bigint").as("chunk_idx"),
                col("start").cast("bigint").as("start"),
                expr("slice(toks, start, 50)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start"),
                size(col("chunk")).cast("bigint").as("chunk_toks"),
                concat_ws(" ", col("chunk")).as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""SELECT doc_id, ((start - 1) // 40) + 1 AS chunk_idx, start,
                      len(toks[start:start+49]) AS chunk_toks,
                      array_to_string(toks[start:start+49], ' ') AS chunk_text
               FROM (SELECT doc_id, $duckToks AS toks FROM documents) d,
                    LATERAL (SELECT unnest(generate_series(1, len(d.toks), 40))
                             AS start) u
               ORDER BY doc_id, chunk_idx""")),

    // Source-mixture planning: the per-source sampling plan that hits a
    // target mixture. Target weights are a deterministic function of the
    // source id (src<i> gets relative weight i%4+1); the plan computes
    // each source's target fraction, the Bernoulli rate that achieves it
    // (capped at 1 — can't upsample without repetition), and the expected
    // sampled count. One agg + a broadcast-size window over 20 rows.
    "llm_mix_weights" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val perSrc = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", (expr("CAST(substr(source, 4) AS INT)") % 4 + 1)
                             .cast("double"))
        val all = Window.partitionBy()
        perSrc
          .withColumn("target_frac",
            round(col("w") / sum(col("w")).over(all), 6))
          .withColumn("rate",
            round(least(lit(1.0),
              col("target_frac") * sum(col("n_docs")).over(all) / col("n_docs")), 6))
          .withColumn("n_sampled",
            floor(col("rate") * col("n_docs")).cast("bigint"))
          .select(col("source"), col("n_docs"), col("w"), col("target_frac"),
                  col("rate"), col("n_sampled"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, n_docs, w,
                     round(w / SUM(w) OVER (), 6) AS target_frac,
                     round(LEAST(1.0, round(w / SUM(w) OVER (), 6)
                                      * SUM(n_docs) OVER () / n_docs), 6) AS rate,
                     CAST(FLOOR(round(LEAST(1.0, round(w / SUM(w) OVER (), 6)
                                      * SUM(n_docs) OVER () / n_docs), 6) * n_docs)
                          AS BIGINT) AS n_sampled
              FROM (SELECT source, COUNT(*) AS n_docs,
                           CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS DOUBLE) AS w
                    FROM documents GROUP BY source)
              ORDER BY source""")),

    // Token-length census: the histogram every curation report opens
    // with — docs bucketed by token count (width 50), with per-bucket
    // char totals. Pure two-level agg, map-side combined.
    "llm_token_hist" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_toks", size(expr(toksE)))
        .groupBy((floor(col("n_toks") / 50) * 50).cast("bigint").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("n_toks")).cast("bigint").as("min_toks"),
             max(col("n_toks")).cast("bigint").as("max_toks"),
             sum(col("n_chars")).as("total_chars"))
        .orderBy(col("bucket_lo")),
      Some(s"""SELECT CAST(FLOOR(len($duckToks) / 50) * 50 AS BIGINT) AS bucket_lo,
                      COUNT(*) AS n_docs,
                      MIN(len($duckToks)) AS min_toks,
                      MAX(len($duckToks)) AS max_toks,
                      CAST(SUM(n_chars) AS BIGINT) AS total_chars
               FROM documents
               GROUP BY bucket_lo
               ORDER BY bucket_lo""")),

    // Source-mixture composition report: per source, the language
    // distribution's Shannon entropy (nats) and dominant language — the
    // dataset-card diversity row a mixture planner reads. Group sizes are
    // exact integers; each p·ln p term is rounded at 6 (libm ulp hazard)
    // and the terms are summed exactly in decimal, so the entropy is
    // order-independent under any partitioning. Two source-keyed aggs —
    // scan-sized shuffle only.
    "llm_domain_mix" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
        val wTop = Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang"))
        Tables.documents(s, dir)
          .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
          .withColumn("n", sum(col("c")).over(w))
          .withColumn("term", round(
            (col("c").cast("double") / col("n")) *
              log(col("c").cast("double") / col("n")), 6))
          .withColumn("rn", row_number().over(wTop))
          .groupBy(col("source"))
          .agg(max(col("n")).cast("bigint").as("n_docs"),
               count(lit(1)).as("n_langs"),
               max(when(col("rn") === 1, col("lang"))).as("top_lang"),
               (-sum(col("term").cast("decimal(38,6)")))
                 .cast("decimal(38,6)").cast("double").as("entropy"))
          .orderBy(col("source"))
      },
      Some("""WITH cnt AS (SELECT source, lang, COUNT(*) AS c
                           FROM documents GROUP BY 1, 2),
              j AS (SELECT source, lang, c,
                           CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n,
                           ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY c DESC, lang) AS rn
                    FROM cnt),
              t AS (SELECT source, lang, c, n, rn,
                           round((CAST(c AS DOUBLE) / n) *
                                 ln(CAST(c AS DOUBLE) / n), 6) AS term
                    FROM j)
              SELECT source, MAX(n) AS n_docs, COUNT(*) AS n_langs,
                     MAX(CASE WHEN rn = 1 THEN lang END) AS top_lang,
                     CAST(CAST(-SUM(CAST(term AS DECIMAL(38,6)))
                          AS DECIMAL(38,6)) AS DOUBLE) AS entropy
              FROM t
              GROUP BY source
              ORDER BY source""")),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): score every raw document by how much its hashed
    // n-gram feature distribution looks like a target domain vs the raw
    // corpus, then keep the high-importance tail. Feature space is
    // hash-BUCKETED (tid60 % 8192) exactly so the two unigram LMs stay
    // bounded at B buckets NO MATTER the corpus vocabulary — that bound
    // is the whole scale story: both smoothed bucket tables broadcast
    // (≤ B rows each, independent of the 100 TB corpus), the token
    // stream joins map-side, and one doc-keyed agg folds the per-token
    // log ratios. Target here = the 'en' slice (the fixture's largest
    // lang); α = 0.5 Laplace smoothing over all B buckets keeps every
    // log finite. Parity lane per llm_ngram_lm: the log ratio collapses
    // to ONE libm ln of one exactly-reproducible double product, rounds
    // at 6, sums in DECIMAL, and casts to DOUBLE once at the end.
    "llm_dsir" -> Q(
      (s, dir) => {
        // ONE materialized token-bucket table (r15): tok feeds the cq,
        // cp, and per-doc stats branches — and its chain is shuffle-free
        // (scan → explode → md5 bucket), so left declarative every
        // consumer re-ran the full tokenization (10 parquet scans in the
        // r14 plan). Memo.cut materializes it once; (doc_id, lang, b) is
        // all any consumer reads.
        val tok = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), explode(expr(toksE)).as("tok"))
          .withColumn("b", expr("tid60(tok) % 8192"))
          .select(col("doc_id"), col("lang"), col("b")))
        val cq = tok.groupBy(col("b")).agg(count(lit(1)).as("cq"))
        val cp = tok.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("cp"))
        val totals = cq.agg(sum(col("cq")).as("nq"))
          .crossJoin(cp.agg(sum(col("cp")).as("np")))
        // lm (≤8192 bucket rows) feeds the scoring probe, which itself
        // runs twice (threshold + final) — materialize the tiny LM once
        // so cq/cp/totals build once; the probe join stays a VISIBLE
        // broadcast-hash join over the materialized token blocks (the
        // PlanAuditSpec pin).
        val lm = graft.llm.Memo.cut(s)(cq
          .join(cp, Seq("b"), "left")
          .na.fill(0L, Seq("cp"))
          .crossJoin(broadcast(totals))
          .select(col("b"), round(log(
              ((col("cp") + lit(0.5)) * (col("nq") + lit(4096.0))) /
              ((col("cq") + lit(0.5)) * (col("np") + lit(4096.0)))), 6)
            .as("logr")))
        val stats = tok.join(broadcast(lm), Seq("b"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_toks"),
               sum(col("logr").cast("decimal(38,6)"))
                 .cast("decimal(38,6)").cast("double").as("log_iw"))
          .withColumn("norm_iw", round(col("log_iw") / col("n_toks"), 6))
        // Selection is top-k by normalized weight (k = the resample
        // budget, a pipeline constant) — NOT a sign test: on a corpus
        // whose domains share most of their vocabulary every doc's
        // E[log ratio] is ≤ 0 (it's a −KL), so "weight > 0" selects
        // nothing. The k-th (weight, id) pair is found by two nested
        // TakeOrdered limits (per-partition heaps, no global sort or
        // window) and broadcast back; the tuple compare keeps ties exact.
        val thr = stats
          .orderBy(col("norm_iw").desc, col("doc_id")).limit(150)
          .orderBy(col("norm_iw"), col("doc_id").desc).limit(1)
          .select(col("norm_iw").as("t_iw"), col("doc_id").as("t_id"))
        stats.crossJoin(broadcast(thr))
          .withColumn("selected",
            col("norm_iw") > col("t_iw") ||
              (col("norm_iw") === col("t_iw") && col("doc_id") <= col("t_id")))
          .drop("t_iw", "t_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, lang,
                                   ('0x' || substr(md5(t.tok), 1, 15))::BIGINT
                                     % 8192 AS b
                            FROM (SELECT doc_id, lang,
                                         unnest($duckToks) AS tok
                                  FROM documents) t),
                    cq AS (SELECT b, COUNT(*) AS cq FROM tok GROUP BY 1),
                    cp AS (SELECT b, COUNT(*) AS cp FROM tok
                           WHERE lang = 'en' GROUP BY 1),
                    tot AS (SELECT (SELECT CAST(SUM(cq) AS BIGINT) FROM cq) AS nq,
                                   (SELECT CAST(SUM(cp) AS BIGINT) FROM cp) AS np),
                    lm AS (SELECT cq.b,
                                  round(ln(((COALESCE(cp.cp, 0) + 0.5) *
                                            (tot.nq + 4096.0)) /
                                           ((cq.cq + 0.5) *
                                            (tot.np + 4096.0))), 6) AS logr
                           FROM cq LEFT JOIN cp ON cq.b = cp.b, tot),
                    stats AS (SELECT doc_id, lang, COUNT(*) AS n_toks,
                                     CAST(CAST(SUM(CAST(logr AS DECIMAL(38,6)))
                                          AS DECIMAL(38,6)) AS DOUBLE) AS log_iw
                              FROM tok JOIN lm USING (b)
                              GROUP BY doc_id, lang),
                    norm AS (SELECT doc_id, lang, n_toks, log_iw,
                                    round(log_iw / n_toks, 6) AS norm_iw
                             FROM stats),
                    thr AS (SELECT norm_iw AS t_iw, doc_id AS t_id FROM
                              (SELECT norm_iw, doc_id FROM norm
                               ORDER BY norm_iw DESC, doc_id LIMIT 150)
                            ORDER BY norm_iw, doc_id DESC LIMIT 1)
               SELECT doc_id, lang, n_toks, log_iw, norm_iw,
                      norm_iw > t_iw OR
                        (norm_iw = t_iw AND doc_id <= t_id) AS selected
               FROM norm, thr
               ORDER BY doc_id""")),

    // Span-corruption training-pair generation (the T5/UL2 denoising
    // objective): deterministically mask ~1 in 5 token positions via the
    // same 60-bit md5 arithmetic both engines share (tid60 parity — no
    // RNG anywhere, so a re-run regenerates byte-identical pairs, which
    // is what makes a corruption pass resumable/cacheable at 100 TB),
    // emit the corrupted input and the extraction target. Entirely
    // scan-pipelined in-row array programs — transform/filter over the
    // token array, zero joins, zero shuffles before the output sort.
    "llm_span_mask" -> Q(
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          // The Bernoulli mask digests ONCE per position (review fix:
          // masked_arr and targets_arr previously each recomputed the
          // md5 — double hashing in the in-row hot path, and two lambda
          // copies per engine free to drift on the next rule edit).
          .withColumn("hits", expr(
            """transform(toks, (t, i) ->
                 tid60(concat(CAST(doc_id AS STRING), ':',
                              CAST(i AS STRING))) % 5 = 0)"""))
          .withColumn("masked_arr", expr(
            """zip_with(toks, hits,
                 (t, h) -> CASE WHEN h THEN '<mask>' ELSE t END)"""))
          .withColumn("targets_arr", expr(
            """transform(filter(zip_with(toks, hits,
                                         (t, h) -> struct(t AS t, h AS h)),
                                x -> x.h),
                         x -> x.t)"""))
          .select(col("doc_id"),
                  size(col("targets_arr")).as("n_masked"),
                  array_join(col("masked_arr"), " ").as("masked_text"),
                  array_join(col("targets_arr"), " ").as("targets"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
                    h AS (SELECT doc_id, toks,
                                 list_transform(generate_series(1, len(toks)),
                                   i -> ('0x' || substr(md5(
                                          CAST(doc_id AS VARCHAR) || ':'
                                          || CAST(i - 1 AS VARCHAR)),
                                          1, 15))::BIGINT % 5 = 0) AS hits
                          FROM t),
                    z AS (SELECT doc_id,
                                 list_transform(list_zip(toks, hits),
                                   p -> CASE WHEN p[2] THEN '<mask>'
                                        ELSE p[1] END) AS masked_arr,
                                 list_transform(
                                   list_filter(list_zip(toks, hits),
                                               p -> p[2]),
                                   p -> p[1]) AS targets_arr
                          FROM h)
               SELECT doc_id,
                      CAST(len(targets_arr) AS INTEGER) AS n_masked,
                      array_to_string(masked_arr, ' ') AS masked_text,
                      -- DuckDB: array_to_string(empty list) is NULL where
                      -- Spark's array_join is '' — coalesce to match
                      COALESCE(array_to_string(targets_arr, ' '), '') AS targets
               FROM z ORDER BY doc_id"""))
  )
}
