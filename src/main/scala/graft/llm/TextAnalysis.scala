package graft.llm

import graft.{H, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2h + driver mandate — text-analysis operators a training-data
  * pipeline needs: corpus stats, TF-IDF, language-ID, quality scoring,
  * token counting, document fingerprinting. All ratios/scores are exact
  * decimal arithmetic (never raw double division) and every score that
  * passes through `ln` is rounded to 6 decimals (libm ulp hazard). */
object TextAnalysis {

  private val toksE = "split(lower(trim(text)), ' ')"
  private val duckToks = "string_split(lower(trim(text)), ' ')"

  val qs: Seq[(String, Q)] = Seq(

    // Corpus statistics per (lang, source): doc counts, token totals,
    // type-token ratio. The explode→two-level-agg shape: at 100 TB the
    // token explosion is map-side only (partial aggs combine before the
    // one shuffle on the small (lang, source) key space).
    "llm_text_stats" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val tok = d.select(col("lang"), col("source"),
                           explode(expr(toksE)).as("tok"))
        val tokStats = tok.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_tokens"),
               countDistinct(col("tok")).as("n_types"))
        val docStats = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
               H.davg(col("n_chars")).as("avg_chars"))
        docStats.join(tokStats, Seq("lang", "source"))
          .withColumn("ttr", (col("n_types").cast("decimal(18,6)") /
                              col("n_tokens")).cast("decimal(18,6)").cast("double"))
          .select(col("lang"), col("source"), col("n_docs"), col("avg_chars"),
                  col("n_tokens"), col("n_types"), col("ttr"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""WITH tok AS (SELECT lang, source, unnest($duckToks) AS tok
                            FROM documents),
               ts AS (SELECT lang, source, COUNT(*) AS n_tokens,
                             COUNT(DISTINCT tok) AS n_types
                      FROM tok GROUP BY lang, source),
               ds AS (SELECT lang, source, COUNT(*) AS n_docs,
                             ${H.oAvg("n_chars")} AS avg_chars
                      FROM documents GROUP BY lang, source)
               SELECT ds.lang AS lang, ds.source AS source, n_docs, avg_chars,
                      n_tokens, n_types,
                      CAST(CAST(CAST(n_types AS DECIMAL(18,6)) / n_tokens
                           AS DECIMAL(18,6)) AS DOUBLE) AS ttr
               FROM ds JOIN ts ON ds.lang = ts.lang AND ds.source = ts.source
               ORDER BY lang, source""")),

    // Top-5 TF-IDF terms per lang (smoothed idf = ln((N+1)/(df+1))).
    // Ranking happens on the 6-decimal-rounded score so both engines
    // order identically; term is the tiebreaker.
    "llm_tfidf_topterms" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val n = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tok = d.select(col("lang"), col("doc_id"), explode(expr(toksE)).as("term"))
        val tf = tok.groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("score").desc, col("term"))
        tf.join(n, Seq("lang"))
          .withColumn("score", round(
            col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("lang"), col("rn"), col("term"), col("tf"), col("df"), col("score"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(s"""WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
               tok AS (SELECT lang, doc_id, unnest($duckToks) AS term FROM documents),
               tf AS (SELECT lang, term, COUNT(*) AS tf,
                             COUNT(DISTINCT doc_id) AS df
                      FROM tok GROUP BY lang, term),
               scored AS (SELECT tf.lang AS lang, term, tf, df,
                                 round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
                          FROM tf JOIN n ON tf.lang = n.lang)
               SELECT lang, rn, term, tf, df, score FROM (
                 SELECT lang, term, tf, df, score,
                        ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY score DESC, term) AS rn
                 FROM scored)
               WHERE rn <= 5
               ORDER BY lang, rn""")),

    // Language-ID by marker-token voting (n-gram-heuristic shape: score
    // each doc against per-class marker sets, argmax with a fixed class
    // order as tiebreak). The fixture text is synthetic, so the classes
    // here are content profiles — the operator shape is what matters.
    "llm_lang_id" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("toks", expr(toksE))
        .withColumn("s_art", size(expr(
          "filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")))
        .withColumn("s_db", size(expr(
          "filter(toks, t -> t IN ('table', 'query', 'scan', 'join', 'index'))")))
        .withColumn("s_data", size(expr(
          "filter(toks, t -> t IN ('data', 'row', 'column', 'value', 'key'))")))
        .withColumn("pred",
          when(col("s_art") >= col("s_db") && col("s_art") >= col("s_data"), "articleish")
            .when(col("s_db") >= col("s_data"), "dbish")
            .otherwise("dataish"))
        .select(col("doc_id"), col("lang"), col("s_art"), col("s_db"),
                col("s_data"), col("pred"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang, s_art, s_db, s_data,
                      CASE WHEN s_art >= s_db AND s_art >= s_data THEN 'articleish'
                           WHEN s_db >= s_data THEN 'dbish'
                           ELSE 'dataish' END AS pred
               FROM (SELECT doc_id, lang,
                       len(list_filter($duckToks,
                           t -> t IN ('the', 'a', 'of', 'and'))) AS s_art,
                       len(list_filter($duckToks,
                           t -> t IN ('table', 'query', 'scan', 'join', 'index'))) AS s_db,
                       len(list_filter($duckToks,
                           t -> t IN ('data', 'row', 'column', 'value', 'key'))) AS s_data
                     FROM documents)
               ORDER BY doc_id""")),

    // Quality scoring: length/stopword/short-token ratios combined into an
    // exact-decimal score — the pre-training filter-gate shape.
    "llm_quality_score" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("toks", expr(toksE))
        .withColumn("n_toks", size(col("toks")))
        .withColumn("n_stop", size(expr(
          "filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))")))
        .withColumn("n_short", size(expr("filter(toks, t -> length(t) <= 2)")))
        .withColumn("stop_ratio",
          (col("n_stop").cast("decimal(18,6)") / col("n_toks")).cast("decimal(18,6)"))
        .withColumn("short_ratio",
          (col("n_short").cast("decimal(18,6)") / col("n_toks")).cast("decimal(18,6)"))
        .withColumn("len_score", expr(
          "CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300, CAST(1.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))"))
        // weights as DECIMAL(2,1) literals: scale-6 × scale-1 products are
        // exact at scale 7, so the whole score is computed without a
        // single rounding step (a double detour here lands exactly on
        // .xxxxxx5 boundaries where the engines' round modes diverge).
        .withColumn("quality", expr(
          """CAST(len_score * CAST(0.5 AS DECIMAL(2,1))
                  + (CAST(1.0 AS DECIMAL(2,1)) - stop_ratio) * CAST(0.3 AS DECIMAL(2,1))
                  + (CAST(1.0 AS DECIMAL(2,1)) - short_ratio) * CAST(0.2 AS DECIMAL(2,1))
             AS DECIMAL(18,7))"""))
        // declared outputs: the exact decimals, emitted as DOUBLE
        .select(col("doc_id"), col("n_toks"),
                col("stop_ratio").cast("double").as("stop_ratio"),
                col("short_ratio").cast("double").as("short_ratio"),
                col("len_score").cast("double").as("len_score"),
                col("quality").cast("double").as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, n_toks,
                      CAST(stop_ratio AS DOUBLE) AS stop_ratio,
                      CAST(short_ratio AS DOUBLE) AS short_ratio,
                      CAST(len_score AS DOUBLE) AS len_score,
                      CAST(CAST(len_score * CAST(0.5 AS DECIMAL(2,1))
                           + (CAST(1.0 AS DECIMAL(2,1)) - stop_ratio) * CAST(0.3 AS DECIMAL(2,1))
                           + (CAST(1.0 AS DECIMAL(2,1)) - short_ratio) * CAST(0.2 AS DECIMAL(2,1))
                      AS DECIMAL(18,7)) AS DOUBLE) AS quality
               FROM (SELECT doc_id, n_toks,
                       CAST(CAST(n_stop AS DECIMAL(18,6)) / n_toks AS DECIMAL(18,6)) AS stop_ratio,
                       CAST(CAST(n_short AS DECIMAL(18,6)) / n_toks AS DECIMAL(18,6)) AS short_ratio,
                       CAST(least(CAST(n_chars AS DECIMAL(18,6)) / 300, 1.0)
                            AS DECIMAL(18,6)) AS len_score
                     FROM (SELECT doc_id, n_chars,
                             len($duckToks) AS n_toks,
                             len(list_filter($duckToks,
                                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
                             len(list_filter($duckToks, t -> length(t) <= 2)) AS n_short
                           FROM documents))
               ORDER BY doc_id""")),

    // Token counting: whitespace tokens + BPE-ish regex token count (runs
    // of letters / digits / single punctuation) + chars-per-token — the
    // "how many tokens is this corpus" estimator.
    "llm_token_count" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_ws", size(split(col("text"), " ")))
        .withColumn("n_bpe", expr(
          "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"))
        .withColumn("chars_per_tok",
          (col("n_chars").cast("decimal(18,6)") / col("n_ws"))
            .cast("decimal(18,6)").cast("double"))
        .select(col("doc_id"), col("n_chars"), col("n_ws"), col("n_bpe"),
                col("chars_per_tok"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, n_chars,
                     len(string_split(text, ' ')) AS n_ws,
                     len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
                     CAST(CAST(CAST(n_chars AS DECIMAL(18,6)) / len(string_split(text, ' '))
                          AS DECIMAL(18,6)) AS DOUBLE) AS chars_per_tok
              FROM documents
              ORDER BY doc_id""")),

    // Tokenizer fertility per language — the standard tokenizer-eval
    // metric (subword tokens emitted per whitespace word): fertility,
    // the word-split rate (words needing ≥ 2 subwords), and mean word
    // length. Segmentation is the same BPE-ish regex as llm_token_count,
    // applied per WORD so the split rate is exact rather than inferred
    // from document totals. Scale shape: one explode to corpus-token
    // rows (the shape every text key here already uses) and one
    // map-side-combinable per-lang aggregate — no joins, no window.
    "llm_tokenizer_fertility" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .select(col("lang"), explode(expr(toksE)).as("w"))
        .filter(length(col("w")) > 0)
        .withColumn("n_sub", expr(
          "size(regexp_extract_all(w, '[a-z]+|[0-9]+|[^a-z0-9]', 0))"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_sub")).as("n_subtoks"),
             (sum(col("n_sub")).cast("decimal(18,6)") / count(lit(1)))
               .cast("decimal(18,6)").cast("double").as("fertility"),
             (sum(when(col("n_sub") >= 2, 1L).otherwise(0L))
               .cast("decimal(18,6)") / count(lit(1)))
               .cast("decimal(18,6)").cast("double").as("split_rate"),
             (sum(length(col("w")).cast("long")).cast("decimal(18,6)")
               / count(lit(1)))
               .cast("decimal(18,6)").cast("double").as("avg_word_len"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang, COUNT(*) AS n_words,
                      CAST(SUM(n_sub) AS BIGINT) AS n_subtoks,
                      CAST(CAST(CAST(SUM(n_sub) AS DECIMAL(18,6)) / COUNT(*)
                           AS DECIMAL(18,6)) AS DOUBLE) AS fertility,
                      CAST(CAST(CAST(SUM(CASE WHEN n_sub >= 2 THEN 1 ELSE 0 END)
                                AS DECIMAL(18,6)) / COUNT(*)
                           AS DECIMAL(18,6)) AS DOUBLE) AS split_rate,
                      CAST(CAST(CAST(SUM(length(w)) AS DECIMAL(18,6)) / COUNT(*)
                           AS DECIMAL(18,6)) AS DOUBLE) AS avg_word_len
               FROM (SELECT lang, w,
                       len(regexp_extract_all(w, '[a-z]+|[0-9]+|[^a-z0-9]'))
                         AS n_sub
                     FROM (SELECT lang, unnest($duckToks) AS w FROM documents)
                     WHERE length(w) > 0)
               GROUP BY lang
               ORDER BY lang""")),

    // Code-document detection signals — the curation gate that routes
    // source-code-looking text away from the prose pipeline (or into a
    // code corpus): symbol ratio, code-punctuation density (;{}()=<>),
    // digit ratio, and the boolean the router keys on. Pure per-row
    // projection over regex match counts (one scan, codegen'd, no
    // shuffle but the final sort); ratios stay in the exact-decimal lane.
    "llm_code_detect" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_sym", expr(
          "size(regexp_extract_all(text, '[^a-zA-Z0-9 ]', 0))").cast("long"))
        .withColumn("n_code", expr(
          "size(regexp_extract_all(text, '[;{}()=<>]', 0))").cast("long"))
        .withColumn("n_digit", expr(
          "size(regexp_extract_all(text, '[0-9]', 0))").cast("long"))
        // greatest(n_chars, 1): an empty document must yield 0-ratios and
        // is_code = false, not NULL ratios and a NULL boolean (engine-
        // divergent and spec-crashing) — r12 advisor fix.
        .withColumn("sym_ratio",
          (col("n_sym").cast("decimal(18,6)") / greatest(col("n_chars"), lit(1L)))
            .cast("decimal(18,6)"))
        .withColumn("code_ratio",
          (col("n_code").cast("decimal(18,6)") / greatest(col("n_chars"), lit(1L)))
            .cast("decimal(18,6)"))
        .withColumn("digit_ratio",
          (col("n_digit").cast("decimal(18,6)") / greatest(col("n_chars"), lit(1L)))
            .cast("decimal(18,6)"))
        .withColumn("is_code",
          col("sym_ratio") >= expr("CAST(0.05 AS DECIMAL(18,6))") &&
          col("code_ratio") >= expr("CAST(0.01 AS DECIMAL(18,6))"))
        .select(col("doc_id"), col("n_sym"), col("n_code"), col("n_digit"),
                col("sym_ratio").cast("double").as("sym_ratio"),
                col("code_ratio").cast("double").as("code_ratio"),
                col("digit_ratio").cast("double").as("digit_ratio"),
                col("is_code"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, n_sym, n_code, n_digit,
                     CAST(sym_ratio AS DOUBLE) AS sym_ratio,
                     CAST(code_ratio AS DOUBLE) AS code_ratio,
                     CAST(digit_ratio AS DOUBLE) AS digit_ratio,
                     (sym_ratio >= CAST(0.05 AS DECIMAL(18,6))
                      AND code_ratio >= CAST(0.01 AS DECIMAL(18,6))) AS is_code
              FROM (SELECT doc_id, n_sym, n_code, n_digit,
                      CAST(CAST(n_sym AS DECIMAL(18,6)) / n_chars
                           AS DECIMAL(18,6)) AS sym_ratio,
                      CAST(CAST(n_code AS DECIMAL(18,6)) / n_chars
                           AS DECIMAL(18,6)) AS code_ratio,
                      CAST(CAST(n_digit AS DECIMAL(18,6)) / n_chars
                           AS DECIMAL(18,6)) AS digit_ratio
                    FROM (SELECT doc_id, greatest(n_chars, 1) AS n_chars,
                            len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_sym,
                            len(regexp_extract_all(text, '[;{}()=<>]')) AS n_code,
                            len(regexp_extract_all(text, '[0-9]')) AS n_digit
                          FROM documents))
              ORDER BY doc_id""")),

    // N-gram LM corpus prep: top-3 bigrams per lang by frequency. The
    // bigram array is built with zip_with over two slices — the array
    // arguments evaluate once per ROW (never per element), dodging the
    // element_at-in-lambda O(tokens²) re-split trap documented on
    // graft.functions.Sketches.
    "llm_bigrams" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("bigram"))
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .select(col("lang"), explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> concat(a, ' ', b))""")).as("bigram"))
          .groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("lang"), col("rn"), col("bigram"), col("n"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(s"""WITH t AS (SELECT lang, $duckToks AS toks FROM documents),
               bg AS (SELECT lang,
                        unnest(list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                      FROM t),
               cnt AS (SELECT lang, bigram, COUNT(*) AS n
                       FROM bg GROUP BY lang, bigram)
               SELECT lang, rn, bigram, n FROM (
                 SELECT lang, bigram, n,
                        ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY n DESC, bigram) AS rn
                 FROM cnt)
               WHERE rn <= 3
               ORDER BY lang, rn""")),

    // Bigram-LM lookup table: for the 5 most frequent contexts w1, the
    // argmax next token and its conditional probability P(w2|w1) — the
    // n-gram-LM training step proper (llm_bigrams counts; this
    // normalizes). Probability is an exact integer ratio in DECIMAL, cast
    // to DOUBLE last (hash-gate discipline). One explode + one agg; both
    // windows ride the same w1 partitioning.
    "llm_next_token" -> Q(
      (s, dir) => {
        val cnt = Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .select(explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2"))
        val wTot = Window.partitionBy(col("w1"))
        val wPick = Window.partitionBy(col("w1"))
          .orderBy(col("c2").desc, col("w2"))
        // Top-5 contexts via orderBy+limit — TakeOrderedAndProject keeps
        // per-partition heaps, vs the r5 global row_number window that
        // funneled the whole vocab-sized pick table through ONE task
        // (billions of distinct contexts at web scale). Equivalent
        // because the former cr filter selected exactly the limit's
        // total order (c1 DESC, w1) and cr never reached the output.
        cnt.withColumn("c1", sum(col("c2")).over(wTot))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .orderBy(col("c1").desc, col("w1"))
          .limit(5)
          .withColumn("p", (col("c2").cast("decimal(18,6)") / col("c1"))
                             .cast("decimal(18,6)").cast("double"))
          .select(col("w1"), col("c1"), col("w2").as("next_tok"),
                  col("c2"), col("p"))
          .orderBy(col("w1"))
      },
      Some(s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
               bg AS (SELECT unnest(toks[1:len(toks) - 1]) AS w1,
                             unnest(toks[2:len(toks)]) AS w2 FROM t),
               cnt AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
               j AS (SELECT w1, w2, c2,
                            CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1
                     FROM cnt),
               pick AS (SELECT * FROM j
                        QUALIFY ROW_NUMBER() OVER (PARTITION BY w1
                                  ORDER BY c2 DESC, w2) = 1),
               top AS (SELECT * FROM pick
                       QUALIFY ROW_NUMBER() OVER (ORDER BY c1 DESC, w1) <= 5)
               SELECT w1, c1, w2 AS next_tok, c2,
                      CAST(CAST(CAST(c2 AS DECIMAL(18,6)) / c1
                                AS DECIMAL(18,6)) AS DOUBLE) AS p
               FROM top ORDER BY w1""")),

    // Perplexity-proxy quality scoring (CCNet shape): score each doc by
    // its mean unigram log-probability under the corpus's own LM — the
    // standard "does this look like the reference distribution" filter.
    // Two passes: token counts (the LM), then explode + join + per-doc
    // mean. At 100 TB the LM is the small side (vocab, not corpus) and
    // broadcasts. ln is rounded at 6 per term (libm ulp hazard) and the
    // mean runs through the exact-decimal path.
    "llm_perplexity_proxy" -> Q(
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksE)).as("tok"))
        val lm = tok.groupBy(col("tok"))
          .agg(count(lit(1)).as("tf"))
          .crossJoin(broadcast(tok.agg(count(lit(1)).as("n_total"))))
          .select(col("tok"),
                  round(log(col("tf").cast("double") / col("n_total")), 6)
                    .as("logp"))
        tok.join(broadcast(lm), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"),
               (sum(col("logp").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("mean_logp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
               n AS (SELECT COUNT(*) AS n_total FROM tok),
               lm AS (SELECT tok, round(ln(CAST(COUNT(*) AS DOUBLE) / n_total), 6)
                               AS logp
                      FROM tok, n GROUP BY tok, n_total)
               SELECT doc_id, COUNT(*) AS n_toks,
                      CAST(CAST(SUM(CAST(logp AS DECIMAL(38,6))) / COUNT(*)
                           AS DECIMAL(38,6)) AS DOUBLE) AS mean_logp
               FROM tok JOIN lm USING (tok)
               GROUP BY doc_id
               ORDER BY doc_id""")),

    // Interpolated bigram LM scoring — the KenLM-shaped upgrade to
    // llm_perplexity_proxy's unigram model: each doc scores by the mean
    // ln(λ·P(w2|w1) + (1−λ)·P(w2)) over its bigrams, λ = 0.5, with the
    // unigram term as the backoff mass so unseen-in-context continuations
    // never hit ln(0). MLE ratios are exact integer fractions evaluated
    // in identical operation order on both engines; ln rounds to 6 (libm
    // ulp) before the exact decimal mean. Scale shape: the LM tables are
    // vocab- and bigram-vocab-sized (broadcast); the corpus explodes once
    // and aggregates per doc — no corpus-sized shuffle beyond the
    // (doc_id) agg.
    "llm_ngram_lm" -> Q(
      (s, dir) => {
        // ONE tokenization (r15): the tokenized doc table feeds the
        // bigram and unigram branches (each previously re-ran the
        // regex-tokenize scan); the unigram counts feed two broadcast
        // sides plus the total. Memo.cut materializes the (shuffle-free)
        // tokenize once; PlanCut shares c1's reduce exchange.
        val docs = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksE).as("toks")))
        val bg = docs.select(col("doc_id"), explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val uni = docs.select(explode(col("toks")).as("tok"))
        val c1 = org.apache.spark.sql.graft.PlanCut.once(
          uni.groupBy(col("tok")).agg(count(lit(1)).as("c1")))
        val nTot = uni.agg(count(lit(1)).as("n_total"))
        val lm = c2
          .join(broadcast(c1.select(col("tok").as("w1"), col("c1").as("c1a"))),
                Seq("w1"))
          .join(broadcast(c1.select(col("tok").as("w2"), col("c1").as("c1b"))),
                Seq("w2"))
          .crossJoin(broadcast(nTot))
          .select(col("w1"), col("w2"),
                  round(log(lit(0.5) * (col("c2").cast("double") / col("c1a")) +
                            lit(0.5) * (col("c1b").cast("double") / col("n_total"))), 6)
                    .as("logp"))
        bg.join(broadcast(lm), Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
               (sum(col("logp").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("mean_logp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
               bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                      FROM t, LATERAL (SELECT unnest(generate_series(1,
                             len(toks) - 1)) AS i) u),
               c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
               uni AS (SELECT unnest(toks) AS tok FROM t),
               c1 AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY 1),
               n AS (SELECT COUNT(*) AS n_total FROM uni),
               lm AS (SELECT w1, w2,
                             round(ln(0.5 * (CAST(c2 AS DOUBLE) / a.c1) +
                                      0.5 * (CAST(b.c1 AS DOUBLE) / n_total)), 6)
                               AS logp
                      FROM c2 JOIN c1 a ON c2.w1 = a.tok
                              JOIN c1 b ON c2.w2 = b.tok, n)
               SELECT doc_id, COUNT(*) AS n_bigrams,
                      CAST(CAST(SUM(CAST(logp AS DECIMAL(38,6))) / COUNT(*)
                           AS DECIMAL(38,6)) AS DOUBLE) AS mean_logp
               FROM bg JOIN lm USING (w1, w2)
               GROUP BY 1 ORDER BY doc_id""")),

    // CCNet-style quality bucketing (Wenzek et al. 2020): rank each
    // language's documents by LM score and cut into head/middle/tail
    // thirds — the bucket label CCNet ships with every CommonCrawl doc,
    // and the unit the mixing weights consume downstream. The LM is the
    // per-LANG unigram model (CCNet trains per-language LMs; the
    // lang-conditional proxy mirrors that), docs rank by mean log-prob
    // (higher = more fluent = head) with doc_id tiebreak, and the output
    // is the per-(lang, bucket) summary a curation run reads. Exact
    // tertiles need the per-lang sort of the doc-STATS table (documents
    // reduce first — the corpus text never reaches the window); at
    // extreme per-lang cardinality the approx path swaps ntile for
    // approx_percentile cutoffs, trading exactness for no sort — the
    // same inherent trade q_rfm documents.
    "llm_ccnet_bucket" -> Q(
      (s, dir) => {
        // ONE tokenization (r15): tok feeds the per-lang totals, the LM
        // build, and the per-doc scoring probe — three full tokenize
        // re-runs before (3 parquet scans in the r14 plan)
        val tok = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), explode(expr(toksE)).as("tok")))
        val nl = tok.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        val lm = tok.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          .join(broadcast(nl), Seq("lang"))
          .select(col("lang"), col("tok"),
                  round(log(col("tf").cast("double") / col("n_lang")), 6)
                    .as("logp"))
        val per = tok.join(broadcast(lm), Seq("lang", "tok"))
          .groupBy(col("doc_id"), col("lang"))
          .agg((sum(col("logp").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("mean_logp"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("mean_logp").desc, col("doc_id"))
        per.withColumn("bucket", ntile(3).over(w))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
               (sum(col("mean_logp").cast("decimal(38,6)")) / count(lit(1)))
                 .cast("decimal(38,6)").cast("double").as("avg_logp"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, lang, unnest($duckToks) AS tok
                            FROM documents),
               nl AS (SELECT lang, COUNT(*) AS n_lang FROM tok GROUP BY 1),
               lm AS (SELECT tok.lang, tok.tok,
                             round(ln(CAST(COUNT(*) AS DOUBLE) / n_lang), 6)
                               AS logp
                      FROM tok JOIN nl ON tok.lang = nl.lang
                      GROUP BY tok.lang, tok.tok, n_lang),
               per AS (SELECT doc_id, tok.lang AS lang,
                              CAST(CAST(SUM(CAST(logp AS DECIMAL(38,6)))
                                        / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE)
                                AS mean_logp
                       FROM tok JOIN lm ON tok.lang = lm.lang
                                       AND tok.tok = lm.tok
                       GROUP BY 1, 2),
               b AS (SELECT lang, mean_logp,
                            NTILE(3) OVER (PARTITION BY lang
                                           ORDER BY mean_logp DESC, doc_id)
                              AS bucket
                     FROM per)
               SELECT lang, bucket, COUNT(*) AS n_docs,
                      CAST(CAST(SUM(CAST(mean_logp AS DECIMAL(38,6))) / COUNT(*)
                           AS DECIMAL(38,6)) AS DOUBLE) AS avg_logp
               FROM b GROUP BY 1, 2
               ORDER BY lang, bucket""")),

    // Document fingerprint: position-weighted rolling hash over
    // md5-derived token ids — deterministic across engines/runs, the
    // cheap near-identity key for incremental dedup.
    "llm_fingerprint" -> Q(
      (s, dir) => {
        // tid60 kernel (the oracle keeps the conv(substr(md5(...)))
        // spelling — bit-identical)
        Tables.documents(s, dir)
        .withColumn("tids", expr(
          s"transform($toksE, tok -> tid60(tok) % 1000003)"))
        .withColumn("fp", expr(
          """aggregate(sequence(1, size(tids)), 0L,
                       (acc, i) -> acc + i * element_at(tids, i)) % 2147483647"""))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
                      CAST(list_sum(list_transform(generate_series(1, len(tids)),
                             i -> i * tids[i])) % 2147483647 AS BIGINT) AS fp
               FROM (SELECT doc_id,
                       list_transform($duckToks,
                         tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003) AS tids
                     FROM documents)
               ORDER BY doc_id""")),

    // Pointwise mutual information of adjacent token pairs — the standard
    // collocation detector over a corpus. Exact integer counts feed ONE
    // log call on an identically-associated double ratio (bit-identical
    // across engines), rounded at 6 (libm ulp hazard). The unigram LM and
    // both scalar totals broadcast; the only corpus-sized shuffle is the
    // bigram count — at 100 TB this is two token-keyed aggs plus
    // vocab-sized build sides.
    "llm_pmi" -> Q(
      (s, dir) => {
        // ONE tokenization (r15): toks feeds the unigram and bigram
        // branches; uni then feeds the total + two broadcast sides, bg
        // the total + the probe — all previously full re-computations
        // (5 parquet scans in the r14 plan). Memo.cut the shuffle-free
        // tokenize; PlanCut the two count tables.
        val toks = graft.llm.Memo.cut(s)(
          Tables.documents(s, dir).select(expr(toksE).as("toks")))
        val uni = org.apache.spark.sql.graft.PlanCut.once(
          toks.select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c1")))
        val bg = org.apache.spark.sql.graft.PlanCut.once(
          toks.select(explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
        val nTok = uni.agg(sum(col("c1")).cast("bigint").as("n_tok"))
        val nBg = bg.agg(sum(col("c2")).cast("bigint").as("n_bg"))
        bg.join(broadcast(uni.select(col("w").as("w1"), col("c1").as("c1a"))), Seq("w1"))
          .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1b"))), Seq("w2"))
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
          .withColumn("pmi", round(log(
            (col("c2").cast("double") * col("n_tok") * col("n_tok")) /
            (col("n_bg").cast("double") * col("c1a") * col("c1b"))), 6))
          // Top-20 via orderBy+limit (TakeOrderedAndProject — per-
          // partition heaps, no global sort): the r5 global row_number
          // window funneled the full distinct-bigram table through one
          // task — billions of rows at web scale. rn derives AFTER the
          // limit, so its window sorts 20 rows, not the corpus.
          .orderBy(col("c2").desc, col("w1"), col("w2"))
          .limit(20)
          .withColumn("rn", row_number().over(
            Window.partitionBy().orderBy(col("c2").desc, col("w1"), col("w2"))))
          .select(col("rn"), col("w1"), col("w2"), col("c2"), col("pmi"))
          .orderBy(col("rn"))
      },
      Some(s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
               uc AS (SELECT w, COUNT(*) AS c1
                      FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
               bgr AS (SELECT unnest(toks[1:len(toks) - 1]) AS w1,
                              unnest(toks[2:len(toks)]) AS w2 FROM t),
               cnt AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgr GROUP BY w1, w2),
               tots AS (SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM uc) AS n_tok,
                               (SELECT CAST(SUM(c2) AS BIGINT) FROM cnt) AS n_bg),
               j AS (SELECT c.w1, c.w2, c.c2, ua.c1 AS c1a, ub.c1 AS c1b,
                            n_tok, n_bg
                     FROM cnt c JOIN uc ua ON c.w1 = ua.w
                                JOIN uc ub ON c.w2 = ub.w, tots)
               SELECT rn, w1, w2, c2,
                      round(ln((CAST(c2 AS DOUBLE) * n_tok * n_tok) /
                               (CAST(n_bg AS DOUBLE) * c1a * c1b)), 6) AS pmi
               FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY c2 DESC, w1, w2) AS rn
                     FROM j)
               WHERE rn <= 20
               ORDER BY rn""")),

    // Gopher-style repetition signals per document — the quality gate that
    // catches boilerplate/looping text that a length or stopword filter
    // misses: (a) fraction of 2-gram occurrences taken by the single most
    // frequent 2-gram, (b) fraction of 3-gram occurrences whose gram
    // appears more than once in the doc. Both are per-doc aggregates of
    // exploded n-grams — a map-side-combined hash agg keyed by doc_id, no
    // cross-doc shuffle of text at all (each doc's grams reduce locally).
    // n-grams use the zip_with-over-slices idiom (never re-split per
    // element — the documented CollapseProject/lambda O(tokens²) trap).
    // Fractions are exact integer ratios in DOUBLE, one IEEE divide +
    // round(6) on both sides.
    "llm_repetition_filter" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir).withColumn("toks", expr(toksE))
        val g2 = d.select(col("doc_id"), explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> concat(a, ' ', b))""")).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("m2"), sum(col("c")).as("t2"))
        val g3 = d.select(col("doc_id"), explode(expr(
            """zip_with(zip_with(slice(toks, 1, size(toks) - 2),
                                 slice(toks, 2, size(toks) - 2),
                                 (a, b) -> concat(a, ' ', b)),
                        slice(toks, 3, size(toks) - 2),
                        (ab, c) -> concat(ab, ' ', c))""")).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"),
               sum(col("c")).as("t3"))
        d.select(col("doc_id"), col("lang")).join(g2, "doc_id").join(g3, "doc_id")
          .withColumn("top2_frac", round(col("m2").cast("double") / col("t2"), 6))
          .withColumn("dup3_frac", round(col("dup3").cast("double") / col("t3"), 6))
          .withColumn("keep", col("top2_frac") <= 0.1 && col("dup3_frac") <= 0.2)
          .select(col("doc_id"), col("lang"), col("top2_frac"),
                  col("dup3_frac"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
               b2 AS (SELECT doc_id,
                        unnest(list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS g
                      FROM t),
               c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM b2 GROUP BY doc_id, g),
               s2 AS (SELECT doc_id, MAX(c) AS m2, SUM(c) AS t2
                      FROM c2 GROUP BY doc_id),
               b3 AS (SELECT doc_id,
                        unnest(list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
                      FROM t),
               c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM b3 GROUP BY doc_id, g),
               s3 AS (SELECT doc_id,
                             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
                             SUM(c) AS t3
                      FROM c3 GROUP BY doc_id)
               SELECT t.doc_id AS doc_id, lang,
                      round(CAST(m2 AS DOUBLE) / t2, 6) AS top2_frac,
                      round(CAST(dup3 AS DOUBLE) / t3, 6) AS dup3_frac,
                      (round(CAST(m2 AS DOUBLE) / t2, 6) <= 0.1 AND
                       round(CAST(dup3 AS DOUBLE) / t3, 6) <= 0.2) AS keep
               FROM t JOIN s2 ON t.doc_id = s2.doc_id
                      JOIN s3 ON t.doc_id = s3.doc_id
               ORDER BY t.doc_id""")),

    // First BPE merge iteration — tokenizer training's inner step: count
    // adjacent character pairs across the corpus, weighted by word
    // frequency. The two-table shape is the scale design: the corpus
    // reduces to a (token, count) vocabulary first (map-side combined;
    // the vocab is orders of magnitude smaller than the corpus), then
    // character pairs explode off the VOCAB, not the corpus — 100 TB of
    // text never ships a per-character row. Top 20 pairs by weighted
    // count, deterministic tiebreak on the pair string.
    "llm_bpe_pairs" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val vocab = Tables.documents(s, dir)
          .select(explode(expr(toksE)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
          .filter(length(col("tok")) >= 2)
        val pairs = vocab.select(col("wc"), explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        pairs.withColumn("rn", row_number().over(
            Window.orderBy(col("n").desc, col("pair"))))
          .filter(col("rn") <= 20)
          .select(col("rn"), col("pair"), col("n"))
          .orderBy(col("rn"))
      },
      Some(s"""WITH vocab AS (
                 SELECT tok, COUNT(*) AS wc
                 FROM (SELECT unnest($duckToks) AS tok FROM documents)
                 GROUP BY tok HAVING len(tok) >= 2),
               pairs AS (
                 SELECT substr(tok, i, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS n
                 FROM (SELECT tok, wc,
                         unnest(generate_series(1, len(tok) - 1)) AS i
                       FROM vocab)
                 GROUP BY pair)
               SELECT rn, pair, n FROM (
                 SELECT pair, n,
                        ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rn
                 FROM pairs)
               WHERE rn <= 20
               ORDER BY rn""")),

    // BPE training step 2: APPLY the winning merge and recount — the
    // loop body that, iterated, yields the merge table. Greedy
    // left-to-right non-overlapping pair merge over single-char symbols
    // is exactly string replace() semantics (both engines), with the
    // merged symbol held as an out-of-alphabet marker (chr(1)) so the
    // recount's 2-grams treat it as one symbol; display names swap the
    // marker back. Everything still runs off the (token, count) VOCAB —
    // the corpus is touched once for the vocab reduce and never again,
    // which is what makes BPE training feasible at 100 TB (the loop
    // iterates over the vocabulary, not the text).
    "llm_bpe_apply" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val vocab = Tables.documents(s, dir)
          .select(explode(expr(toksE)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
          .filter(length(col("tok")) >= 2)
        val pairs = vocab.select(col("wc"), explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        val top1 = pairs
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n").desc, col("pair"))))
          .filter(col("rn") === 1).select(col("pair").as("merge_pair"))
        val merged = vocab.crossJoin(broadcast(top1))
          .withColumn("tok2", expr("replace(tok, merge_pair, char(1))"))
          .filter(length(col("tok2")) >= 2)
        merged.select(col("wc"), col("merge_pair"), explode(expr(
            "transform(sequence(1, length(tok2) - 1), i -> substring(tok2, i, 2))"))
            .as("p2"))
          .groupBy(expr("replace(p2, char(1), merge_pair)").as("pair"))
          .agg(sum(col("wc")).as("n"))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n").desc, col("pair"))))
          .filter(col("rn") <= 10)
          .select(col("rn"), col("pair"), col("n"))
          .orderBy(col("rn"))
      },
      Some(s"""WITH vocab AS (
                 SELECT tok, COUNT(*) AS wc
                 FROM (SELECT unnest($duckToks) AS tok FROM documents)
                 GROUP BY tok HAVING len(tok) >= 2),
               pairs AS (
                 SELECT substr(tok, i, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS n
                 FROM (SELECT tok, wc,
                         unnest(generate_series(1, len(tok) - 1)) AS i
                       FROM vocab)
                 GROUP BY pair),
               top1 AS (
                 SELECT pair AS merge_pair FROM pairs
                 ORDER BY n DESC, pair LIMIT 1),
               merged AS (
                 SELECT v.wc, t.merge_pair,
                        replace(v.tok, t.merge_pair, chr(1)) AS tok2
                 FROM vocab v, top1 t
                 WHERE len(replace(v.tok, t.merge_pair, chr(1))) >= 2),
               np AS (
                 SELECT replace(substr(tok2, i, 2), chr(1), merge_pair) AS pair,
                        CAST(SUM(wc) AS BIGINT) AS n
                 FROM (SELECT wc, merge_pair, tok2,
                         unnest(generate_series(1, len(tok2) - 1)) AS i
                       FROM merged)
                 GROUP BY 1)
               SELECT rn, pair, n FROM (
                 SELECT pair, n,
                        ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rn
                 FROM np)
               WHERE rn <= 10
               ORDER BY rn""")),

    // BPE training, the whole loop: K=3 greedy merge rounds producing
    // the ordered merge TABLE — the artifact a tokenizer trainer
    // actually ships (llm_bpe_pairs is round 1's count; llm_bpe_apply
    // is one loop body; this iterates). Each round counts 2-grams over
    // the CURRENT symbol strings, takes the (count desc, pair asc)
    // argmax, and rewrites the vocab with a per-round out-of-alphabet
    // marker char(r) so later rounds treat the merge as one symbol;
    // display names expand markers back through the earlier merges.
    // Scale shape: the corpus is reduced ONCE to the (token, count)
    // vocab; every iteration is a vocab-sized agg (tens of k rows at
    // any corpus size — vocab growth is sub-linear in corpus size),
    // with a 1-ROW collect per round as the argmax anchor and a
    // Memo.cut (reliable checkpoint on a cluster, localCheckpoint
    // locally) cutting the per-round replace lineage. That —
    // looping over the vocabulary, never the text — is what makes BPE
    // training feasible at 100 TB.
    "llm_bpe_train" -> Q(
      (s, dir) => {
        import s.implicits._
        val cut = Memo.cut(s) _
        val K = 3
        val pairsOf = "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"
        var vocab = cut(Tables.documents(s, dir)
          .select(explode(expr(toksE)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
          .filter(length(col("tok")) >= 2))
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        for (r <- 1 to K) {
          // 1-row argmax anchor (documented driver-side collect — the
          // greedy loop's decision variable, same class as the kmeans
          // centroid pull).
          val top = vocab
            .select(col("wc"), explode(expr(pairsOf)).as("pair"))
            .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
            .orderBy(col("n").desc, col("pair")).limit(1)
            .collect()(0)
          val raw = top.getString(0)
          // expand markers newest-first: chr(j) holds round j's RAW pair
          val display = (merges.length to 1 by -1).foldLeft(raw) { (p, j) =>
            p.replace(j.toChar.toString, merges(j - 1)._2)
          }
          merges += ((r, raw, display, top.getLong(1)))
          vocab = cut(vocab
            .withColumn("tok", replace(col("tok"), lit(raw), lit(r.toChar.toString)))
            .filter(length(col("tok")) >= 2))
        }
        merges.toSeq.map { case (r, _, d, n) => (r, d, n) }
          .toDF("round", "pair", "n").orderBy(col("round"))
      },
      Some(s"""WITH v0 AS (
                 SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
                 FROM (SELECT unnest($duckToks) AS tok FROM documents)
                 GROUP BY tok HAVING len(tok) >= 2),
               p1 AS (SELECT substr(tok, i, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS n
                      FROM (SELECT tok, wc,
                              unnest(generate_series(1, len(tok) - 1)) AS i FROM v0)
                      GROUP BY 1),
               t1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
               v1 AS (SELECT replace(v.tok, t.pair, chr(1)) AS tok, v.wc
                      FROM v0 v, t1 t
                      WHERE len(replace(v.tok, t.pair, chr(1))) >= 2),
               p2 AS (SELECT substr(tok, i, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS n
                      FROM (SELECT tok, wc,
                              unnest(generate_series(1, len(tok) - 1)) AS i FROM v1)
                      GROUP BY 1),
               t2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
               v2 AS (SELECT replace(v.tok, t.pair, chr(2)) AS tok, v.wc
                      FROM v1 v, t2 t
                      WHERE len(replace(v.tok, t.pair, chr(2))) >= 2),
               p3 AS (SELECT substr(tok, i, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS n
                      FROM (SELECT tok, wc,
                              unnest(generate_series(1, len(tok) - 1)) AS i FROM v2)
                      GROUP BY 1),
               t3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1)
               SELECT round, pair, n FROM (
                 SELECT 1 AS round, t1.pair AS pair, t1.n AS n FROM t1
                 UNION ALL
                 SELECT 2, replace(t2.pair, chr(1), t1.pair), t2.n FROM t2, t1
                 UNION ALL
                 SELECT 3, replace(replace(t3.pair, chr(2), t2.pair),
                                   chr(1), t1.pair), t3.n FROM t3, t2, t1)
               ORDER BY round""")),

    // Self-BLEU-2: per-document BLEU against the REST of the corpus as
    // the multi-reference set — the standard corpus-diversity metric
    // (low self-BLEU = diverse generations, high = mode collapse).
    // Leave-one-out clipping without an all-pairs join: modified n-gram
    // precision clips each candidate count at the MAX count of that gram
    // in any single other document, and max-excluding-self falls out of
    // the global top-2 per gram (if the argmax doc IS the candidate,
    // the runner-up count applies; else the max does). So the whole
    // metric rides the (gram, doc) count table: one explode per n-gram
    // order, a rank-≤2 window per gram partition, and an equi-join of
    // candidate counts back to the gram top-2 — corpus-linear, where
    // the textbook formulation joins every doc against every other.
    // Brevity penalty uses the shortest-other-reference convention via
    // the same top-2 trick on the 1-row length anchor (broadcast).
    // p1/p2 are exact integer ratios in the decimal lane; sqrt is
    // IEEE-exact on identical doubles; exp rides the round-6 convention.
    "llm_self_bleu" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // ONE tokenization (r15): t feeds the length table and both
        // n-gram builds, each of which previously re-ran the regex
        // tokenize (7 parquet scans in the r14 plan). Memo.cut
        // materializes the (shuffle-free) tokenize once.
        val t = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksE).as("toks")))
        val lens = t.select(col("doc_id"), size(col("toks")).as("c_len"))
        val m1 = lens.agg(min(col("c_len")).as("min1"))
        val lagg = lens.crossJoin(broadcast(m1)).agg(
          min(col("min1")).as("min1"),
          count(when(col("c_len") === col("min1"), lit(1))).as("cmin"),
          min(when(col("c_len") > col("min1"), col("c_len"))).as("min2"))
        def grams(n: Int) = {
          val g = if (n == 1) t.select(col("doc_id"), explode(col("toks")).as("g"))
          else t.select(col("doc_id"), explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> concat(a, ' ', b))""")).as("g"))
          g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        }
        def clipped(cnt0: DataFrame) = {
          // cnt feeds the clip-reference build AND the probe join —
          // PlanCut shares the n-gram reduce exchange between them
          val cnt = org.apache.spark.sql.graft.PlanCut.once(cnt0)
          val w = Window.partitionBy(col("g")).orderBy(col("c").desc, col("doc_id"))
          val top = cnt.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
            .groupBy(col("g"))
            .agg(max(when(col("rn") === 1, col("c"))).as("m1"),
                 max(when(col("rn") === 1, col("doc_id"))).as("a1"),
                 max(when(col("rn") === 2, col("c"))).as("m2"))
          cnt.join(top, Seq("g"))
            .withColumn("mx", when(col("a1") === col("doc_id"),
                                   coalesce(col("m2"), lit(0L)))
                                .otherwise(col("m1")))
            .groupBy(col("doc_id"))
            .agg(sum(least(col("c"), col("mx"))).as("clipped"),
                 sum(col("c")).as("total"))
        }
        val c1 = clipped(grams(1))
          .select(col("doc_id"), col("clipped").as("cl1"), col("total").as("tt1"))
        val c2 = clipped(grams(2))
          .select(col("doc_id"), col("clipped").as("cl2"), col("total").as("tt2"))
        def ratio(a: Column, b: Column) =
          (a.cast("decimal(18,6)") / b).cast("decimal(18,6)").cast("double")
        lens.crossJoin(broadcast(lagg))
          .join(c1, Seq("doc_id"))
          .join(c2, Seq("doc_id"), "left_outer")
          .withColumn("r_len",
            when(col("c_len") === col("min1") && col("cmin") === 1, col("min2"))
              .otherwise(col("min1")))
          .withColumn("p1", ratio(col("cl1"), col("tt1")))
          .withColumn("p2", when(col("tt2") > 0, ratio(col("cl2"), col("tt2"))))
          .withColumn("bp",
            when(col("c_len") >= col("r_len"), lit(1.0))
              .otherwise(round(exp(lit(1.0) -
                col("r_len").cast("double") / col("c_len").cast("double")), 6)))
          .select(col("doc_id"), col("c_len"), col("r_len"), col("p1"), col("p2"),
                  round(col("bp") * sqrt(col("p1") * col("p2")), 6).as("bleu2"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
                    lens AS (SELECT doc_id, len(toks) AS c_len FROM t),
                    lagg AS (SELECT MIN(c_len) AS min1,
                                    COUNT(*) FILTER (WHERE c_len =
                                      (SELECT MIN(c_len) FROM lens)) AS cmin,
                                    MIN(c_len) FILTER (WHERE c_len >
                                      (SELECT MIN(c_len) FROM lens)) AS min2
                             FROM lens),
                    u1 AS (SELECT doc_id, unnest(toks) AS g FROM t),
                    u2 AS (SELECT doc_id,
                             unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
                           FROM t),
                    cn1 AS (SELECT doc_id, g, COUNT(*) AS c FROM u1 GROUP BY 1, 2),
                    cn2 AS (SELECT doc_id, g, COUNT(*) AS c FROM u2 GROUP BY 1, 2),
                    tp1 AS (SELECT g, MAX(CASE WHEN rn = 1 THEN c END) AS m1,
                                   MAX(CASE WHEN rn = 1 THEN doc_id END) AS a1,
                                   MAX(CASE WHEN rn = 2 THEN c END) AS m2
                            FROM (SELECT g, doc_id, c, ROW_NUMBER() OVER (
                                    PARTITION BY g ORDER BY c DESC, doc_id) AS rn
                                  FROM cn1)
                            WHERE rn <= 2 GROUP BY g),
                    tp2 AS (SELECT g, MAX(CASE WHEN rn = 1 THEN c END) AS m1,
                                   MAX(CASE WHEN rn = 1 THEN doc_id END) AS a1,
                                   MAX(CASE WHEN rn = 2 THEN c END) AS m2
                            FROM (SELECT g, doc_id, c, ROW_NUMBER() OVER (
                                    PARTITION BY g ORDER BY c DESC, doc_id) AS rn
                                  FROM cn2)
                            WHERE rn <= 2 GROUP BY g),
                    cl1 AS (SELECT cn1.doc_id,
                              CAST(SUM(LEAST(c, CASE WHEN tp1.a1 = cn1.doc_id
                                                     THEN COALESCE(tp1.m2, 0)
                                                     ELSE tp1.m1 END)) AS BIGINT) AS cl1,
                              CAST(SUM(c) AS BIGINT) AS tt1
                            FROM cn1 JOIN tp1 USING (g) GROUP BY 1),
                    cl2 AS (SELECT cn2.doc_id,
                              CAST(SUM(LEAST(c, CASE WHEN tp2.a1 = cn2.doc_id
                                                     THEN COALESCE(tp2.m2, 0)
                                                     ELSE tp2.m1 END)) AS BIGINT) AS cl2,
                              CAST(SUM(c) AS BIGINT) AS tt2
                            FROM cn2 JOIN tp2 USING (g) GROUP BY 1),
                    j AS (SELECT lens.doc_id, lens.c_len,
                                 CASE WHEN lens.c_len = lagg.min1 AND lagg.cmin = 1
                                      THEN lagg.min2 ELSE lagg.min1 END AS r_len,
                                 CAST(CAST(CAST(cl1.cl1 AS DECIMAL(18,6)) / cl1.tt1
                                      AS DECIMAL(18,6)) AS DOUBLE) AS p1,
                                 CASE WHEN cl2.tt2 > 0 THEN
                                   CAST(CAST(CAST(cl2.cl2 AS DECIMAL(18,6)) / cl2.tt2
                                        AS DECIMAL(18,6)) AS DOUBLE) END AS p2
                          FROM lens CROSS JOIN lagg
                          JOIN cl1 ON lens.doc_id = cl1.doc_id
                          LEFT JOIN cl2 ON lens.doc_id = cl2.doc_id)
               SELECT doc_id, c_len, r_len, p1, p2,
                      round(CASE WHEN c_len >= r_len THEN 1.0
                                 ELSE round(exp(1.0 - CAST(r_len AS DOUBLE)
                                                      / CAST(c_len AS DOUBLE)), 6)
                            END * sqrt(p1 * p2), 6) AS bleu2
               FROM j ORDER BY doc_id""")),

    // Term burstiness — variance-to-mean ratio of a term's per-doc count
    // over ALL docs (zeros included): a term with VMR ≈ 1 arrives
    // Poisson-like (function words); VMR >> 1 clumps into few docs
    // (topical/boilerplate terms) — the corpus statistic behind
    // burstiness-aware TF weighting and boilerplate screens, orthogonal
    // to rank-frequency (llm_zipf) and dispersion-free df. Zeros enter
    // through the IDENTITY Σ over non-occurrences being 0: mean = Σtf/N
    // and E[x²] = Σtf²/N need only the occurrence rows, so ONE tf reduce
    // covers the whole N-doc population — no doc×term grid anywhere.
    // Exact-int sums; two divisions + one subtract per term, rounded 6.
    "llm_burstiness" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val n = d.agg(count(lit(1)).as("n_docs"))
        val tf = d.select(col("doc_id"), explode(expr(toksE)).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"),
               sum(col("tf")).as("t1"), sum(col("tf") * col("tf")).as("t2"))
          .filter(col("df") >= 10)
          .crossJoin(broadcast(n))
          .withColumn("mean_tf",
            col("t1").cast("double") / col("n_docs").cast("double"))
          .withColumn("ex2",
            col("t2").cast("double") / col("n_docs").cast("double"))
          .withColumn("vmr", round(
            (col("ex2") - col("mean_tf") * col("mean_tf")) / col("mean_tf"), 6))
          .select(col("term"), col("df"), col("t1").cast("long").as("total_tf"),
                  round(col("mean_tf"), 6).as("mean_tf"), col("vmr"))
          .orderBy(col("vmr").desc, col("term"))
          .limit(20)
      },
      Some(s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
                tf AS (SELECT doc_id, unnest($duckToks) AS term
                       FROM documents),
                c AS (SELECT doc_id, term, COUNT(*) AS tf
                      FROM tf GROUP BY 1, 2),
                s AS (SELECT term, COUNT(*) AS df,
                             SUM(tf) AS t1, SUM(tf * tf) AS t2
                      FROM c GROUP BY 1 HAVING COUNT(*) >= 10)
               SELECT term, df, CAST(t1 AS BIGINT) AS total_tf,
                      round(CAST(t1 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                        AS mean_tf,
                      round((CAST(t2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                             - (CAST(t1 AS DOUBLE) / CAST(n_docs AS DOUBLE))
                               * (CAST(t1 AS DOUBLE) / CAST(n_docs AS DOUBLE)))
                            / (CAST(t1 AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
                        AS vmr
               FROM s, n
               ORDER BY vmr DESC, term LIMIT 20""")),

    // ROUGE-1 / ROUGE-2 between adjacent same-source docs (candidate =
    // doc, reference = the source's next doc_id): the summarization-eval
    // staple beside llm_kappa / llm_self_bleu. Clipped n-gram overlap is
    // the multiset-intersection sum Σ min(tf_cand, tf_ref) — computed by
    // an equi-join of the two per-doc gram-count tables on (pair, gram),
    // never an alignment loop. Shape: pairing is one lead() window over
    // source (reusing a single source-keyed exchange), gram counts
    // reduce map-side, and every join is pair-keyed hash — linear in
    // total grams at any corpus size. Precision/recall are single
    // int÷int double divisions (correctly rounded IEEE, identical both
    // engines); F1 re-derives from the ROUNDED p and r on both sides so
    // the compounded arithmetic stays inside the round(6) grain.
    "llm_rouge" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val wsrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val pairs = d
          .select(col("source"), col("doc_id"),
                  lead(col("doc_id"), 1).over(wsrc).as("ref_id"))
          .filter(col("ref_id").isNotNull)
        def grams(n: Int) = {
          val base = d.select(col("doc_id"), expr(toksE).as("toks"))
          val g = if (n == 1) base.select(col("doc_id"), explode(col("toks")).as("g"))
                  else base.select(col("doc_id"), explode(expr(
                    """transform(slice(toks, 1, size(toks) - 1),
                         (t, i) -> concat(t, ' ', element_at(toks, i + 2)))""")).as("g"))
          g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        }
        def overlap(n: Int, pref: String) = {
          val gc = grams(n)
          val cand = pairs.join(gc, Seq("doc_id"))
            .select(col("doc_id"), col("ref_id"), col("g"), col("c").as("cc"))
          val ref = gc.select(col("doc_id").as("ref_id"), col("g"),
                              col("c").as("rc"))
          val tot = gc.groupBy(col("doc_id")).agg(sum(col("c")).as("tot"))
          cand.join(ref, Seq("ref_id", "g"))
            .groupBy(col("doc_id"), col("ref_id"))
            .agg(sum(least(col("cc"), col("rc"))).as("clip"))
            .join(tot, Seq("doc_id"))
            .withColumnRenamed("tot", "c_tot")
            .join(tot.withColumnRenamed("doc_id", "ref_id")
                     .withColumnRenamed("tot", "r_tot"), Seq("ref_id"))
            .withColumn(s"${pref}_p", round(
              col("clip").cast("double") / col("c_tot").cast("double"), 6))
            .withColumn(s"${pref}_r", round(
              col("clip").cast("double") / col("r_tot").cast("double"), 6))
            .withColumn(s"${pref}_f", round(
              when(col(s"${pref}_p") + col(s"${pref}_r") > 0.0,
                   lit(2.0) * col(s"${pref}_p") * col(s"${pref}_r")
                     / (col(s"${pref}_p") + col(s"${pref}_r")))
                .otherwise(lit(0.0)), 6))
            .select(col("doc_id"), col("ref_id"),
                    col(s"${pref}_p"), col(s"${pref}_r"), col(s"${pref}_f"))
        }
        pairs.select(col("source"), col("doc_id"), col("ref_id"))
          .join(overlap(1, "r1"), Seq("doc_id", "ref_id"), "left")
          .join(overlap(2, "r2"), Seq("doc_id", "ref_id"), "left")
          .na.fill(0.0, Seq("r1_p", "r1_r", "r1_f", "r2_p", "r2_r", "r2_f"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""WITH pairs AS (
                 SELECT source, doc_id,
                        LEAD(doc_id) OVER (PARTITION BY source
                                           ORDER BY doc_id) AS ref_id
                 FROM documents QUALIFY ref_id IS NOT NULL),
               t1 AS (SELECT doc_id, unnest($duckToks) AS g FROM documents),
               g1 AS (SELECT doc_id, g, COUNT(*) AS c FROM t1 GROUP BY 1, 2),
               tk AS (SELECT doc_id, $duckToks AS toks FROM documents),
               t2 AS (SELECT doc_id,
                             unnest(list_transform(
                               generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
                      FROM tk),
               g2 AS (SELECT doc_id, g, COUNT(*) AS c FROM t2 GROUP BY 1, 2),
               tot1 AS (SELECT doc_id, SUM(c) AS tot FROM g1 GROUP BY 1),
               tot2 AS (SELECT doc_id, SUM(c) AS tot FROM g2 GROUP BY 1),
               o1 AS (SELECT p.doc_id, p.ref_id,
                             SUM(LEAST(c.c, r.c)) AS clip
                      FROM pairs p
                      JOIN g1 c ON c.doc_id = p.doc_id
                      JOIN g1 r ON r.doc_id = p.ref_id AND r.g = c.g
                      GROUP BY 1, 2),
               o2 AS (SELECT p.doc_id, p.ref_id,
                             SUM(LEAST(c.c, r.c)) AS clip
                      FROM pairs p
                      JOIN g2 c ON c.doc_id = p.doc_id
                      JOIN g2 r ON r.doc_id = p.ref_id AND r.g = c.g
                      GROUP BY 1, 2),
               m1 AS (SELECT p.doc_id, p.ref_id,
                             round(CAST(o1.clip AS DOUBLE)
                                   / CAST(ct.tot AS DOUBLE), 6) AS r1_p,
                             round(CAST(o1.clip AS DOUBLE)
                                   / CAST(rt.tot AS DOUBLE), 6) AS r1_r
                      FROM pairs p
                      JOIN o1 ON o1.doc_id = p.doc_id AND o1.ref_id = p.ref_id
                      JOIN tot1 ct ON ct.doc_id = p.doc_id
                      JOIN tot1 rt ON rt.doc_id = p.ref_id),
               m2 AS (SELECT p.doc_id, p.ref_id,
                             round(CAST(o2.clip AS DOUBLE)
                                   / CAST(ct.tot AS DOUBLE), 6) AS r2_p,
                             round(CAST(o2.clip AS DOUBLE)
                                   / CAST(rt.tot AS DOUBLE), 6) AS r2_r
                      FROM pairs p
                      JOIN o2 ON o2.doc_id = p.doc_id AND o2.ref_id = p.ref_id
                      JOIN tot2 ct ON ct.doc_id = p.doc_id
                      JOIN tot2 rt ON rt.doc_id = p.ref_id)
               SELECT p.source, p.doc_id, p.ref_id,
                      COALESCE(m1.r1_p, 0.0) AS r1_p,
                      COALESCE(m1.r1_r, 0.0) AS r1_r,
                      COALESCE(CASE WHEN m1.r1_p + m1.r1_r > 0.0
                                    THEN round(2.0 * m1.r1_p * m1.r1_r
                                               / (m1.r1_p + m1.r1_r), 6)
                                    ELSE 0.0 END, 0.0) AS r1_f,
                      COALESCE(m2.r2_p, 0.0) AS r2_p,
                      COALESCE(m2.r2_r, 0.0) AS r2_r,
                      COALESCE(CASE WHEN m2.r2_p + m2.r2_r > 0.0
                                    THEN round(2.0 * m2.r2_p * m2.r2_r
                                               / (m2.r2_p + m2.r2_r), 6)
                                    ELSE 0.0 END, 0.0) AS r2_f
               FROM pairs p
               LEFT JOIN m1 ON m1.doc_id = p.doc_id AND m1.ref_id = p.ref_id
               LEFT JOIN m2 ON m2.doc_id = p.doc_id AND m2.ref_id = p.ref_id
               ORDER BY p.source, p.doc_id"""))
  )
}
