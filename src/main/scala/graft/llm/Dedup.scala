package graft.llm

import graft.{Q, Tables}
import graft.functions.StandingProbe
import graft.llm.TextRules.{duckToks, dupPrefix, toksE}
import graft.operators.PairJoin
import org.apache.spark.sql.functions._

/** SURVEY §2h + driver mandate — deduplication family over `documents`:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Everything is deterministic (md5-derived
  * token ids, no JVM-seed-dependent hashes) so each operator carries a full
  * DuckDB oracle — including MinHash, whose banding arithmetic is
  * re-expressed in SQL.
  *
  * Scale design (100 TB): signatures/fingerprints are computed as single
  * array *projections* (no explode, no shuffle); only the final
  * bucket-join / blocked self-join shuffles, keyed on (band, signature) or
  * (lang) — the standard LSH layout where bucket cardinality, not corpus
  * size², bounds the pair explosion. */
object Dedup {

  /** Distinct 3-token shingles — the near-dup grain. A tiny shared
    * vocabulary makes unigram Jaccard saturate (~24% of pairs ≥ 0.8,
    * measured); 3-gram shingles isolate the deliberately planted
    * near-duplicates (6 pairs ≥ 0.3 at sf0.01).
    *
    * PERFORMANCE HAZARD (measured, 85 s → 2 s at sf0.1): the token array
    * MUST be a materialized column before shingling. Spark does not
    * common-subexpression-eliminate inside higher-order-function lambdas,
    * so inlining the `split` into `element_at(split(...), i)` re-splits
    * the whole text once per shingle element — O(tokens²) per document. */
  private val shinglesFromToks =
    """array_distinct(transform(sequence(1, size(toks) - 2),
        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                       element_at(toks, i + 2))))"""
  /** Deterministic 60-bit token id from md5 — reproducible across engines
    * and runs (never JVM hashCode / xxhash64 whose seeds don't travel).
    * Spark side rides the [[graft.functions.Sketches.Tid60]] kernel
    * (digest-byte bit math; bit-identical to the SQL spelling
    * `CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)` the oracle
    * keeps). */
  private def tidE(tok: String) = s"tid60($tok)"

  private val duckShingles =
    s"""list_distinct(list_transform(generate_series(1, len($duckToks) - 2),
        i -> $duckToks[i] || ' ' || $duckToks[i+1] || ' ' || $duckToks[i+2]))"""

  /** (doc_id, lang, sh) via the native shingles3 kernel — immune to the
    * CollapseProject/lambda-inlining trap documented on
    * [[graft.functions.Sketches.Shingles3]] (the SQL spelling is kept
    * above in [[shinglesFromToks]] as the semantic reference).
    *
    * Memoized per (session, dataset) as an eagerly-materialized
    * checkpoint ([[Memo.stage]]): the signature table is a shared
    * PIPELINE STAGE feeding five declared keys (near/prefix/containment/
    * novelty/dup_degree) plus the minhash family — one materialized
    * compute replaces five re-derivations, which is also the honest
    * 100 TB shape (write the signature table once, read it many times).
    * A `.cache()` would be wrong here: CacheManager sameResult-
    * substitutes the cached subtree into SIBLING queries' audited plans
    * (the r6-s4 order-dependence bug) and has no unpersist point inside
    * a declared query — see [[Memo]]. */
  private[llm] def shingled(s: org.apache.spark.sql.SparkSession, dir: String) =
    Memo.stage(s, dir, "shingles3") {
      Memo.cut(s)(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), expr(s"shingles3($toksE)").as("sh")))
    }

  /** Full-inverted-index near-pair plan — every distinct shingle posts to
    * the index; pairs aggregate collision counts into the exact
    * intersection. This WAS [[nearPairs]]'s plan through r7; since r8 the
    * shared helper rides the PPJoin prefix filter ([[prefixNearPairs]])
    * and this twin is kept, un-exported from any declared key, to
    * (a) pin the prefix filter's losslessness theorem in PrefixJoinSpec
    * (hardened output == full-index output, row-exact), and (b) document
    * the crossover: at fixture scale the full index is CHEAPER (measured
    * max shingle df = 14, so Σ df² is tiny and the df/rank passes are
    * pure overhead), but it has no defense against posting-list skew —
    * one boilerplate shingle with df = 10⁶ at corpus scale makes the
    * candidate join a 10¹² row fan-out. Columns: lang, id_a, id_b, n_a,
    * n_b, n_inter, n_union, jac (exact DECIMAL(18,6)). */
  private[graft] def fullIndexNearPairs(s: org.apache.spark.sql.SparkSession,
                                        dir: String) =
    fullIndexPairsOf(shingled(s, dir))

  /** The full inverted index of a (doc_id, lang, sh) shingle table: one
    * (lang, doc_id, n, tok) posting per distinct shingle, n = |sh|. */
  private[llm] def postings(shingles: org.apache.spark.sql.DataFrame) =
    shingles.withColumn("n", size(col("sh")))
      .select(col("lang"), col("doc_id"), col("n"), explode(col("sh")).as("tok"))

  /** [[fullIndexNearPairs]] parameterized on an arbitrary
    * (doc_id, lang, sh) shingle table — lets the adversarial-skew spec
    * drive both plans over a boilerplate-injected corpus. */
  private[graft] def fullIndexPairsOf(shingles: org.apache.spark.sql.DataFrame) =
    PairJoin.candidates(postings(shingles), Seq("lang", "tok"), "doc_id", Seq("n"))
      .groupBy(col("lang"), col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jac", (col("n_inter").cast("decimal(18,6)") /
                          col("n_union")).cast("decimal(18,6)"))
      .filter(col("jac") >= 0.3)

  /** PPJoin prefix-filtered near-pair plan, un-memoized (the shared
    * memoized stage is [[nearPairs]]): candidate pairs come only from
    * collisions among each doc's PREFIX — its first n - ceil(τ·n) + 1
    * shingles under the global rarest-first (df, tok) order — then exact
    * Jaccard verifies candidates against the full shingle arrays.
    * Lossless vs [[fullIndexNearPairs]] (PrefixJoinSpec pins row-exact
    * output equality; the theorem lives on llm_dedup_prefix's scaladoc),
    * and skew-hardened: a boilerplate shingle with huge df sorts LAST in
    * every doc's rarest-first order, so it only enters a prefix when a
    * doc consists almost entirely of such shingles — in which case the
    * docs are true near-duplicates and the pairs are OUTPUT, not waste.
    * Posting volume drops from Σ df to Σ df_prefix and candidate cost
    * from Σ df² to Σ df_prefix² — the r7 verdict's named scale-killer
    * (unpruned posting lists under adversarial skew) closed with zero
    * recall loss. Columns: lang, id_a, id_b, n_a, n_b, n_inter, n_union,
    * jac (exact DECIMAL(18,6)) — schema-identical to the full-index
    * twin (n_inter cast to long to match its count()). */
  private[graft] def prefixNearPairs(s: org.apache.spark.sql.SparkSession,
                                     dir: String) =
    prefixPairsOf(shingled(s, dir))

  /** The PPJoin PREFIX INDEX of a (doc_id, lang, sh) shingle table: only
    * each doc's first n - ceil(0.29999n) + 1 shingles under the global
    * rarest-first (df, tok) order post to it. 0.29999 is τ = 0.3 less the
    * slack the length and positional filters carry (the declared filter
    * compares the HALF_UP round-6 Jaccard, so a kept pair's true ratio
    * can be 0.2999995; a bare ceil(0.3n) cut loses such pairs from ~2M
    * shingles up). Exact BIGINT arithmetic, equal to ceil(3n/10) for
    * n < 10,000. Split out so the adversarial-skew spec can measure
    * Σ df² of exactly the posting lists the candidate join consumes. */
  private[graft] def prefixIndexOf(shingles: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // df rides ONE exchange of the exploded table: an unbounded count
    // window on (lang, tok). The previous groupBy + equi-join-back
    // spelling shuffled the SAME exploded table twice more (once into
    // the partial agg, once into the sort-merge probe side) — at 100 TB
    // the df table is corpus-sized (mostly-unique shingles), never
    // broadcastable, so the join was a full extra pass (r8 verdict item
    // 3). Skew is unchanged: a boilerplate token co-locates its df rows
    // on one task either way (window group here, SMJ stream group
    // before), and the prefix filter's Σ df² defense is downstream of
    // this stage (PrefixJoinSpec pins it).
    postings(shingles).withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("lang"), col("tok"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("pos") <= expr("n - ((29999L * n + 99999) div 100000) + 1"))
      // n and pos ride along (two ints per posting) so the candidate
      // join can apply the PPJoin LENGTH and POSITIONAL filters without
      // touching the arrays. pos is the token's rank within the doc's
      // FULL rarest-first order (computed before the prefix cut above),
      // which is what the positional bound needs.
      .select(col("lang"), col("tok"), col("doc_id"), col("n"), col("pos"))
  }

  /** The distinct PPJoin candidate pair set (lang, id_a, id_b) of a
    * shingle table: prefix-index collisions surviving the LENGTH and
    * POSITIONAL filters (Bayardo et al. WWW'07 §3.1, Xiao et al.
    * VLDB'08 "PPJoin"), r16 — both are the [[PairJoin]]'s `on`, so only
    * survivors reach the distinct and the shingle-array attach in
    * [[prefixPairsOf]]: every candidate pruned here is a pair of arrays
    * never shuffled (guide §2.1/§3.2). Measured at sf0.1: 136,544 → 57,206
    * distinct candidate pairs (−58%). Losslessness of both is pinned by
    * PrefixJoinSpec: row-exact output equality against the unfiltered
    * full-index twin (fixture + adversarial boilerplate corpus) plus a
    * strict candidate-count reduction vs the unfiltered collision set.
    *
    * LENGTH filter: jac >= 0.3 needs n_inter >= 0.3 * n_union, and
    * n_inter <= min(n_a, n_b) while n_union >= max(n_a, n_b), so any
    * surviving pair has min/max >= 0.2999995 (the declared filter
    * compares the HALF_UP round-6 decimal against 0.3, so the true
    * ratio may undershoot 0.3 by up to half an ulp — 29999/100000
    * keeps that slack with margin).
    *
    * POSITIONAL filter: jac >= 0.3 also forces
    * n_inter >= 0.2999995/1.2999995 * (n_a + n_b) > 29999/129999 *
    * (n_a + n_b). For the MINIMUM common token c under the global
    * rarest-first order, every common token ranks >= pos(c) in both
    * docs (rank is monotone in the global order within a doc), so
    * n_inter <= min(n_a - pos_a(c), n_b - pos_b(c)) + 1 — and c is in
    * both prefixes by the prefix theorem, so a true pair's c-row is
    * always among the collisions and always passes; distinct() needs
    * exactly one surviving row per pair. Collision rows on non-minimal
    * common tokens may be pruned freely — they are redundant. */
  private[graft] def prefixCandidatesOf(shingles: org.apache.spark.sql.DataFrame) =
    PairJoin.candidates(prefixIndexOf(shingles), Seq("lang", "tok"), "doc_id",
      Seq("n", "pos"),
      on = Some(col("n_a") * 100000L >= col("n_b") * 29999L &&
                col("n_b") * 100000L >= col("n_a") * 29999L &&
                (least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))
                   + 1) * 129999L >= (col("n_a") + col("n_b")) * 29999L),
      distinct = Seq("lang"))

  /** [[prefixNearPairs]] parameterized on an arbitrary (doc_id, lang, sh)
    * shingle table (see [[fullIndexPairsOf]]). */
  private[graft] def prefixPairsOf(shingles: org.apache.spark.sql.DataFrame) =
    PairJoin.attach(prefixCandidatesOf(shingles),
                    shingles.withColumn("n", size(col("sh"))), "doc_id", Seq("sh", "n"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jac", (col("n_inter").cast("decimal(18,6)") /
                          col("n_union")).cast("decimal(18,6)"))
      .filter(col("jac") >= 0.3)
      .select(col("lang"), col("id_a"), col("id_b"), col("n_a"), col("n_b"),
              col("n_inter"), col("n_union"), col("jac"))

  /** Near-dup pairs (3-shingle Jaccard ≥ 0.3 within lang) — the SHARED
    * pair table behind llm_dedup_near, llm_minhash_recall, the component
    * labels in [[Pipeline]] (→ cluster/survivors/thresholds) and
    * llm_dup_degree in [[Screens]]. Since r8 it rides the skew-hardened
    * [[prefixNearPairs]] plan and, like the shingle table it derives
    * from, is memoized per (session, dataset) as an eagerly-materialized
    * checkpoint ([[Memo.stage]]): a real curation DAG writes the
    * verified pair table ONCE and feeds every downstream consumer from
    * it — the same write-once/read-many pipeline-stage shape, and the
    * bench's first consumer pays the build exactly once per dataset.
    * Columns: lang, id_a, id_b, n_a, n_b, n_inter, n_union, jac (exact
    * DECIMAL(18,6)). */
  private[llm] def nearPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    // SESSION-scoped on purpose (r15): the interrupted build round disk-
    // backed this stage across JVMs keyed on fixture mtime, which would
    // let a later bench/Verify invocation skip the ~5 s build it claims
    // to time — cross-run result caching, prohibited by the optimization
    // round's rules. Every invocation rebuilds from the parquet inputs
    // and the bench charges it honestly as stage:near_pairs.
    Memo.stage(s, dir, "near_pairs") {
      Memo.cut(s)(prefixNearPairs(s, dir))
    }

  /** DuckDB spelling of the dense near-dup pair set, as a CTE-list
    * fragment (no WITH prefix — the cluster oracle prepends
    * `WITH RECURSIVE`). The oracle keeps the dense formulation. This is
    * the ONE shared CTE builder behind every near-pair oracle
    * (llm_dedup_near, llm_dedup_prefix, llm_dup_degree, the cluster /
    * survivor / recall oracles) — drift between per-key copies of this
    * chain was the likeliest future hash-mismatch source, so consumers
    * select from `near_pairs` instead of re-deriving it. Validated
    * value-and-dtype-identical to the previous inline spellings in
    * DuckDB at sf0.01 before the swap. */
  private[llm] val duckNearPairsCtes: String =
    s"""s AS (SELECT doc_id, lang, $duckShingles AS sh FROM documents),
        near_pairs AS (
          SELECT lang, id_a, id_b, n_inter, n_union, jac FROM (
            SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh)) AS n_inter,
                   len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union,
                   CAST(CAST(len(list_intersect(a.sh, b.sh)) AS DECIMAL(18,6))
                        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                        AS DECIMAL(18,6)) AS jac
            FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id)
          WHERE jac >= 0.3)"""

  /** The per-doc LSH band table (doc_id, lang, band, bsig): 16
    * md5-derived minhash permutations, 4 bands of 4, each band's
    * signature rendered as a join-ready string. This is the SHARED
    * candidate-generation substrate: [[minhashCands]] self-joins it for
    * the full-corpus pair set, and llm_dedup_incremental persists the
    * corpus half of it as the probe index. */
  private[llm] def minhashBands(s: org.apache.spark.sql.SparkSession,
                                dir: String) = {
    val P = 1000003L
    shingled(s, dir)
      .withColumn("tids", expr(s"transform(sh, tok -> ${tidE("tok")} % $P)"))
      .withColumn("sigs", expr("minhash16(tids)"))
      .select(
        col("doc_id"), col("lang"),
        explode(expr(
          """transform(sequence(0, 3),
             b -> struct(b AS band,
                         concat_ws(',', transform(slice(sigs, b*4 + 1, 4),
                                                  x -> cast(x AS STRING))) AS bsig))"""))
          .as("bb"))
      .select(col("doc_id"), col("lang"),
              col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** MinHash+LSH candidate pairs (lang, id_a, id_b), distinct across
    * band collisions — shared by llm_dedup_minhash and the recall probe.
    * 16 md5-derived permutations, 4 bands of 4; a [[PairJoin]] blocked
    * on (lang, band, bsig) that carries no payload. */
  private[llm] def minhashCands(s: org.apache.spark.sql.SparkSession,
                                dir: String) =
    PairJoin.candidates(minhashBands(s, dir), Seq("lang", "band", "bsig"), "doc_id",
                        distinct = Seq("lang"))

  /** DuckDB spelling of the MinHash candidate set, as a CTE-list fragment
    * ending in `mh_cand(lang, id_a, id_b)`. Expects an `s(doc_id, lang,
    * sh)` CTE in scope (see [[duckNearPairsCtes]]). */
  private[llm] val duckMinhashCandCtes: String =
    """mh_ids AS (SELECT doc_id, lang,
                 list_transform(sh, tok ->
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003) AS tids
                 FROM s),
       mh_sigs AS (SELECT doc_id, lang,
                  list_transform(generate_series(0, 15), j ->
                    list_min(list_transform(tids,
                      h -> ((2*j + 3) * h + 5*j + 7) % 1000003))) AS sigs
                  FROM mh_ids),
       mh_bands AS (SELECT doc_id, lang, b AS band,
                   array_to_string(sigs[b*4 + 1 : b*4 + 4], ',') AS bsig
                   FROM mh_sigs, (SELECT unnest(generate_series(0, 3)) AS b)),
       mh_cand AS (SELECT DISTINCT a.lang AS lang, a.doc_id AS id_a,
                          b.doc_id AS id_b
                   FROM mh_bands a JOIN mh_bands b
                     ON a.lang = b.lang AND a.band = b.band
                    AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""

  val qs: Seq[(String, Q)] = Seq(

    // Exact dedup by normalized-content fingerprint (first 40 chars — the
    // full texts are unique in the fixtures; the prefix key produces real
    // dup groups). Survivor = min doc_id per hash, the deterministic
    // alternative to dropDuplicates (SURVEY §7.4.6).
    "llm_dedup_exact" -> Q(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("h", sha2(expr(dupPrefix), 256))
        d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
          .join(d.select(col("doc_id"), col("lang"), col("n_chars")), Seq("doc_id"))
          .select(col("doc_id"), col("h"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT k.doc_id, k.h, d.lang, d.n_chars
              FROM (SELECT sha256($dupPrefix) AS h,
                           MIN(doc_id) AS doc_id
                    FROM documents GROUP BY 1) k
              JOIN documents d ON k.doc_id = d.doc_id
              ORDER BY k.doc_id""")),

    // Near-dup pairs: 3-token-shingle Jaccard >= 0.3 inside lang blocks,
    // read from the shared [[nearPairs]] pipeline stage — since r8 the
    // PPJoin PREFIX-FILTERED inverted index (only each doc's rarest
    // n - ceil(τn) + 1 shingles post; see llm_dedup_prefix for the
    // losslessness theorem), which keeps the sparse-similarity-join
    // shape that holds at 100 TB (the dense blocked self-join was 382 s
    // at sf0.1; the UNPRUNED full index — kept as fullIndexNearPairs for
    // the spec pin — dies instead on one df=10⁶ boilerplate shingle).
    // The oracle keeps the dense formulation: DuckDB only verifies at
    // sf0.01. Jaccard is an exact integer ratio cast to DECIMAL so the
    // hash gate never sees a raw double division.
    "llm_dedup_near" -> Q(
      (s, dir) => nearPairs(s, dir)
        // threshold on the exact decimal, DECLARE as double (driver's
        // comparator hash-splits on decimal representation)
        .select(col("lang"), col("id_a"), col("id_b"),
                col("n_inter").cast("int").as("n_inter"),
                col("n_union").cast("int").as("n_union"),
                col("jac").cast("double").as("jac"))
        .orderBy(col("lang"), col("id_a"), col("id_b")),
      Some(s"""WITH $duckNearPairsCtes
               SELECT lang, id_a, id_b, n_inter, n_union,
                      CAST(jac AS DOUBLE) AS jac
               FROM near_pairs
               ORDER BY lang, id_a, id_b""")),

    // MinHash + LSH, the 100 TB near-dup path: 16 permutations over
    // md5-derived shingle ids (one array projection per doc, no explode),
    // 4 bands of 4 -> bucket-join on (lang, band, band-signature) ->
    // exact-Jaccard verification of candidates. Fully deterministic, so
    // even the banding has a DuckDB oracle twin.
    "llm_dedup_minhash" -> Q(
      (s, dir) => {
        // Candidates: minhashCands (one codegen pass per doc for all 16
        // signatures, a PairJoin on the bucket key — at 100 TB the only
        // corpus-wide shuffle). Shingle arrays stay out of it and the
        // distinct; PairJoin.attach joins them by id.
        PairJoin.attach(minhashCands(s, dir), shingled(s, dir), "doc_id", Seq("sh"))
          .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
          .withColumn("jac", (col("n_inter").cast("decimal(18,6)") /
            (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))).cast("decimal(18,6)"))
          .filter(col("jac") >= 0.3)
          .select(col("lang"), col("id_a"), col("id_b"),
                  col("jac").cast("double").as("jac"))
          .orderBy(col("lang"), col("id_a"), col("id_b"))
      },
      Some(s"""WITH s AS (SELECT doc_id, lang, $duckShingles AS sh FROM documents),
               ids AS (SELECT doc_id, lang, sh,
                       list_transform(sh, tok ->
                         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003) AS tids
                       FROM s),
               sigs AS (SELECT doc_id, lang, sh,
                        list_transform(generate_series(0, 15), j ->
                          list_min(list_transform(tids,
                            h -> ((2*j + 3) * h + 5*j + 7) % 1000003))) AS sigs
                        FROM ids),
               bands AS (SELECT doc_id, lang, sh, b AS band,
                         array_to_string(sigs[b*4 + 1 : b*4 + 4], ',') AS bsig
                         FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b)),
               cand AS (SELECT DISTINCT a.lang AS lang, a.doc_id AS id_a,
                               b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
                        FROM bands a JOIN bands b
                          ON a.lang = b.lang AND a.band = b.band
                         AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
               SELECT lang, id_a, id_b, CAST(jac AS DOUBLE) AS jac FROM (
                 SELECT lang, id_a, id_b,
                        CAST(CAST(len(list_intersect(sh_a, sh_b)) AS DECIMAL(18,6))
                             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
                             AS DECIMAL(18,6)) AS jac
                 FROM cand)
               WHERE jac >= 0.3
               ORDER BY lang, id_a, id_b""")),

    // Incremental (nightly-ingest) dedup — the shape a 100 TB corpus
    // actually runs: you never re-pair the whole corpus against itself;
    // the standing corpus's LSH band table is a PERSISTED index (written
    // once via the same atomic-rename publish as the ANN lake), and each
    // new batch computes signatures only for ITSELF and probes the index
    // with a plain equi-join. Fixture split: even doc_ids are the
    // standing corpus, odd doc_ids the incoming batch. Output: per new
    // doc that collides, its earliest corpus duplicate (the doc it would
    // dedup against) and in how many of the 4 bands it collided —
    // the skip-list a curation run feeds back into ingest. At real scale
    // the index side is bucketed by (band, bsig) so the probe join is
    // shuffle-free on the corpus side, and the (small) batch side
    // broadcasts; the candidate volume math is identical to
    // llm_dedup_minhash's banding analysis.
    "llm_dedup_incremental" -> Q(
      (s, dir) => {
        val idxPath = Memo.materializedPath(s, dir, "mh_band_index") { tmp =>
          minhashBands(s, dir).filter(col("doc_id") % 2 === 0)
            .write.parquet(tmp)
        }
        val index = s.read.parquet(idxPath)
          .select(col("doc_id").as("old_id"), col("lang").as("lang_i"),
                  col("band").as("band_i"), col("bsig").as("bsig_i"))
        val batch = minhashBands(s, dir).filter(col("doc_id") % 2 === 1)
        batch.join(index,
            col("lang") === col("lang_i") && col("band") === col("band_i") &&
            col("bsig") === col("bsig_i"))
          .groupBy(col("lang"), col("doc_id").as("new_id"))
          .agg(min(col("old_id")).as("dup_of"),
               countDistinct(col("band")).as("n_bands"))
          .orderBy(col("lang"), col("new_id"))
      },
      Some(s"""WITH s AS (SELECT doc_id, lang, $duckShingles AS sh FROM documents),
               $duckMinhashCandCtes
               SELECT a.lang AS lang, a.doc_id AS new_id,
                      MIN(b.doc_id) AS dup_of,
                      COUNT(DISTINCT a.band) AS n_bands
               FROM mh_bands a JOIN mh_bands b
                 ON a.lang = b.lang AND a.band = b.band AND a.bsig = b.bsig
                AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
               GROUP BY 1, 2
               ORDER BY lang, new_id""")),

    // LSH recall accounting — the lexical twin of the ANN path's
    // multiprobe recall row: how many of the EXACT Jaccard-τ pairs does
    // the 4×4 MinHash banding actually surface, and how many candidates
    // does it spend to do it? recall = |cand ∩ exact| / |exact| is the
    // number a curation run must watch when it swaps the inverted-index
    // join for LSH at scale (banding probability 1−(1−j^4)^4 is steep in
    // j, so planted high-j dups survive while τ-threshold pairs can
    // slip); candidate_efficiency = |cand ∩ exact| / |cand| is the wasted
    // verification work. Both pinned exactly — the sketch is
    // deterministic, so recall is a fact, not a distribution.
    "llm_minhash_recall" -> Q(
      (s, dir) => {
        val exact = nearPairs(s, dir)
          .select(col("lang"), col("id_a"), col("id_b"))
        val cand = minhashCands(s, dir)
        val hit = exact.join(cand, Seq("lang", "id_a", "id_b"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(hit.agg(count(lit(1)).as("n_found")))
          .select(col("n_exact"), col("n_candidates"), col("n_found"),
                  (col("n_found").cast("double") / col("n_exact"))
                    .as("recall"),
                  (col("n_found").cast("double") / col("n_candidates"))
                    .as("candidate_efficiency"))
      },
      Some(s"""WITH $duckNearPairsCtes,
                    $duckMinhashCandCtes,
                    ne AS (SELECT COUNT(*) AS n_exact FROM near_pairs),
                    nc AS (SELECT COUNT(*) AS n_candidates FROM mh_cand),
                    nf AS (SELECT COUNT(*) AS n_found
                           FROM near_pairs p SEMI JOIN mh_cand c
                             ON p.lang = c.lang AND p.id_a = c.id_a
                            AND p.id_b = c.id_b)
               SELECT n_exact, n_candidates, n_found,
                      CAST(n_found AS DOUBLE) / n_exact AS recall,
                      CAST(n_found AS DOUBLE) / n_candidates
                        AS candidate_efficiency
               FROM ne, nc, nf""")),

    // SimHash: 32-bit majority-vote fingerprint over distinct-token md5
    // ids (one codegen pass via simhash32), near-dup = hamming distance
    // <= 4 within lang blocks. Pairing uses 5-BAND BLOCKING: 32 bits split
    // into 5 bands of 7,7,6,6,6 bits; hd ≤ 4 differing bits across 5 bands
    // leaves ≥1 band identical (pigeonhole), so joining on any equal band
    // finds EXACTLY the dense result while generating Σ bucket² candidates
    // instead of corpus² — the same banding that scales this to 100 TB.
    // (Round 1 used 7,7,7,7,4: the 4-bit band has only 16 buckets, so it
    // alone contributed n²/16 of the candidates — the suite's heaviest
    // query. Evening the widths floors every band at 64 buckets.)
    "llm_dedup_simhash" -> Q(
      (s, dir) => {
        // ONE fingerprint pass (r15): both banded join sides derive from
        // sh, and its chain is shuffle-free (scan → tokenize → md5 per
        // token → simhash32), so left declarative the whole fingerprint
        // computation ran twice. Memo.cut materializes the 3-column
        // doc-level table once.
        val sh = graft.llm.Memo.cut(s)(Tables.documents(s, dir)
          .withColumn("toks_d", expr(s"array_distinct($toksE)"))
          .withColumn("tids", expr(
            s"transform(toks_d, tok -> ${tidE("tok")})"))
          .select(col("doc_id"), col("lang"), expr("simhash32(tids)").as("simhash")))
        val banded = sh.select(col("doc_id"), col("lang"), col("simhash"),
            explode(expr(
              """transform(sequence(0, 4),
                 b -> struct(b AS band,
                             shiftright(simhash, element_at(array(0, 7, 14, 20, 26), b + 1))
                               & CASE WHEN b <= 1 THEN 127L ELSE 63L END AS bval))"""))
              .as("bb"))
          .select(col("doc_id"), col("lang"), col("simhash").as("sh"),
                  col("bb.band").as("band"), col("bb.bval").as("bval"))
        // hd <= 4 lives INSIDE the join condition, so the Σ bucket²
        // candidate rows die in the join operator; only true near-dups
        // reach the distinct (a surviving pair may share several bands).
        PairJoin.candidates(banded, Seq("lang", "band", "bval"), "doc_id", Seq("sh"),
            on = Some(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 4),
            distinct = Seq("lang", "sh_a", "sh_b"))
          .withColumn("hd", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
          .orderBy(col("lang"), col("id_a"), col("id_b"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
                      list_transform(list_distinct($duckToks),
                        tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS tids
                      FROM documents),
               sh AS (SELECT doc_id, lang,
                      CAST(list_sum(list_transform(generate_series(0, 31), i ->
                        CASE WHEN 2 * len(list_filter(tids, h -> (h >> i) & 1 = 1))
                                  > len(tids)
                             THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
                      FROM t)
               SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sh_a, b.simhash AS sh_b,
                      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hd
               FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
               WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
               ORDER BY lang, id_a, id_b""")),

    // Exact duplicated-substring report (the Lee et al. "Deduplicating
    // Training Data" signal): every 8-token span (stride 1) that occurs
    // more than once anywhere in the corpus, top 20 by occurrence count.
    // Spans come off a materialized token array via slice() — 8-element
    // copies, never a per-position re-split — and reduce by span string
    // in one hash agg (map-side combined: a doc's repeated spans collapse
    // locally before the shuffle). At 100 TB the published approach is a
    // distributed suffix array; this explode→agg shape is the Spark-
    // native equivalent for fixed span length, and its shuffle carries
    // only (span, count) partials, not documents. The HAVING > 1 filter
    // drops the unique-span long tail before the final top-k, which runs
    // as TakeOrderedAndProject over the surviving aggregates.
    "llm_dup_spans" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val spans = Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                         i -> concat_ws(' ', slice(toks, i, 8)))""")).as("span"))
          .groupBy(col("span"))
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_occ") > 1)
        spans.withColumn("rn", row_number().over(
            Window.orderBy(col("n_occ").desc, col("span"))))
          .filter(col("rn") <= 20)
          .select(col("rn"), col("span"), col("n_occ"), col("n_docs"))
          .orderBy(col("rn"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
               sp AS (SELECT doc_id,
                        array_to_string(list_slice(toks, i, i + 7), ' ') AS span
                      FROM (SELECT doc_id, toks,
                              unnest(generate_series(1, len(toks) - 7)) AS i
                            FROM t WHERE len(toks) >= 8)),
               agg AS (SELECT span, COUNT(*) AS n_occ,
                              COUNT(DISTINCT doc_id) AS n_docs
                       FROM sp GROUP BY span HAVING COUNT(*) > 1)
               SELECT rn, span, n_occ, n_docs FROM (
                 SELECT span, n_occ, n_docs,
                        ROW_NUMBER() OVER (ORDER BY n_occ DESC, span) AS rn
                 FROM agg)
               WHERE rn <= 20
               ORDER BY rn""")),

    // PPJoin-style PREFIX-FILTERED similarity join (Chaudhuri et al.
    // SSJoin / Bayardo et al. WWW'07): same pair set as llm_dedup_near,
    // but the inverted index holds only each doc's PREFIX — the first
    // n - ceil(tau*n) + 1 shingles under a global rarest-first order —
    // instead of all n. Losslessness: J(a,b) >= tau implies
    // |a∩b| >= ceil(tau*n_a) (since |a∩b| >= tau*|a∪b| >= tau*n_a), and
    // the smallest common shingle c under the canonical order must sit
    // inside BOTH prefixes (if c were past a's prefix, the >= n_a - p_a + 1
    // = ceil(tau*n_a) tokens before it would all be non-common, leaving
    // room for at most ceil(tau*n_a) - 1 common ones — contradiction).
    // So candidates = prefix-token collisions only: the indexed posting
    // lists shrink from df to df_prefix and candidate cost drops from
    // Σ df² to Σ df_prefix² — the 100 TB win over llm_dedup_near's full
    // inverted index, with zero recall loss (PrefixJoinSpec pins output
    // equality against the full-index plan and the candidate-count
    // strict reduction). The cut uses tau = 0.29999 (the round-6 slack
    // of the declared 0.3 filter, see prefixIndexOf) in exact integer
    // arithmetic ((29999n + 99999) div 100000) — a float tau*n would
    // mis-round the prefix boundary and silently drop true pairs. The
    // per-doc prefix ranking windows on doc_id (corpus-cardinality key,
    // scale-safe); the df table joins on (lang, tok) — the same shuffle
    // key the explode already produced. Oracle: the dense self-join (the
    // hash gate proves the pruned plan equals it).
    "llm_dedup_prefix" -> Q(
      (s, dir) => {
        // The plan lives in [[prefixNearPairs]] — since r8 it is ALSO the
        // plan behind the shared nearPairs stage (r7 verdict: harden the
        // shared helper against posting-list skew), so this key now
        // documents and bench-prices the builder itself: it runs the
        // full un-memoized computation every time, while llm_dedup_near
        // reads the memoized stage the first consumer materialized. The
        // shingle table feeds four subtrees here (df build, prefix
        // index, both verification array joins) and arrives via the
        // [[Memo.stage]] localCheckpoint (see [[shingled]]) — one
        // materialized read replaces four kernel recomputes. NOTE the
        // fixture-scale economics: this plan pays two posting-volume
        // LINEAR shuffles (df build, prefix rank) to shrink the index
        // join's QUADRATIC term from Σ df² to Σ df_prefix². At sf0.1
        // the quadratic term is tiny, so the linear overhead shows
        // against the full-index twin (fullIndexNearPairs, kept for the
        // PrefixJoinSpec equality pin); at corpus scale Σ df² is the
        // term that kills the full index and the linear passes are the
        // cheap part.
        prefixNearPairs(s, dir)
          .select(col("lang"), col("id_a"), col("id_b"),
                  col("n_inter").cast("int").as("n_inter"),
                  col("n_union").cast("int").as("n_union"),
                  col("jac").cast("double").as("jac"))
          .orderBy(col("lang"), col("id_a"), col("id_b"))
      },
      // Same oracle as llm_dedup_near, from the one shared CTE builder —
      // the hash gate is what proves the pruned plan equals the full one.
      Some(s"""WITH $duckNearPairsCtes
               SELECT lang, id_a, id_b, n_inter, n_union,
                      CAST(jac AS DOUBLE) AS jac
               FROM near_pairs
               ORDER BY lang, id_a, id_b""")),

    // Bloom-filter dedup PRE-SCREEN against the standing corpus — the
    // space-bounded front door of incremental ingest: the standing
    // corpus's distinct shingles compress into a ~4200-word bit array
    // (k=4 seeded 60-bit md5 hashes, 62 usable bits per word so neither
    // engine's BIGINT shift can overflow), and each incoming doc counts
    // how many of its shingles the filter says it has maybe seen. A
    // Bloom filter admits NO false negatives, so n_maybe ≥ n_true
    // structurally, and a doc with n_maybe = 0 skips the (much more
    // expensive) LSH/verification path entirely. Everything about the
    // filter is deterministic md5 arithmetic, so the ORACLE REBUILDS THE
    // IDENTICAL BLOOM in SQL and the gate hash-compares n_maybe itself —
    // no probabilistic-bound booleans needed (contrast udaf_hll). Scale
    // shape: the build is one linear reduce to ≤4232 rows (bit_or
    // partial-combines map-side), the probe side broadcasts those rows
    // and stays scan-local; in production m grows with the corpus to
    // hold the false-positive rate, and the array ships to every
    // executor in KBs where the exact shingle set would be TBs.
    "llm_dedup_bloom" -> Q(
      (s, dir) => {
        val WORDS = 4231L // m = 4231*62 = 262,322 bits
        def bitsOf(side: String) =
          shingled(s, dir)
            .filter(if (side == "old") col("doc_id") % 2 === 0
                    else col("doc_id") % 2 =!= 0)
            .select(col("doc_id"), explode(col("sh")).as("tok"))
            .select(col("doc_id"), col("tok"),
                    explode(expr(s"""transform(sequence(0, 3), k ->
                      tid60(concat(tok, '#', CAST(k AS STRING))) % ${WORDS * 62}L)"""))
                      .as("idx"))
            .select(col("doc_id"), col("tok"),
                    expr("idx div 62").as("word"),
                    expr("shiftleft(1L, CAST(idx % 62 AS INT))").as("mask"))
        val bloom = bitsOf("old")
          .groupBy(col("word"))
          .agg(expr("bit_or(mask)").as("bits"))
        val oldToks = shingled(s, dir).filter(col("doc_id") % 2 === 0)
          .select(explode(col("sh")).as("tok")).distinct()
        val probes = bitsOf("new")
          .join(broadcast(bloom), Seq("word"), "left")
          .groupBy(col("doc_id"), col("tok"))
          // flagged iff all 4 seeded bits are present
          .agg(min(when(expr("bits is not null and (bits & mask) = mask"),
                        1).otherwise(0)).as("hit"))
        val truth = shingled(s, dir).filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("tok"))
          .join(oldToks.withColumnRenamed("tok", "otok"),
                col("tok") === col("otok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"),
               sum(when(col("otok").isNotNull, 1L).otherwise(0L)).as("n_true"))
        probes.groupBy(col("doc_id"))
          .agg(sum(col("hit")).cast("long").as("n_maybe"))
          .join(truth, Seq("doc_id"))
          .select(col("doc_id"), col("n_sh"), col("n_true"), col("n_maybe"),
                  (col("n_maybe") >= col("n_true")).as("no_false_neg"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
                bits AS (SELECT doc_id, tok,
                                (('0x' || substr(md5(tok || '#' || k), 1, 15))::BIGINT
                                 % 262322) AS idx
                         FROM (SELECT doc_id, unnest(sh) AS tok FROM s),
                              (SELECT unnest(['0','1','2','3']) AS k) g),
                wb AS (SELECT doc_id, tok, idx // 62 AS word,
                              (1::BIGINT << CAST(idx % 62 AS INTEGER)) AS mask
                       FROM bits),
                bloom AS (SELECT word, bit_or(mask) AS bits
                          FROM wb WHERE doc_id % 2 = 0 GROUP BY 1),
                old_toks AS (SELECT DISTINCT unnest(sh) AS tok FROM s
                             WHERE doc_id % 2 = 0),
                probe AS (SELECT w.doc_id, w.tok,
                                 MIN(CASE WHEN b.bits IS NOT NULL
                                           AND (b.bits & w.mask) = w.mask
                                          THEN 1 ELSE 0 END) AS hit
                          FROM wb w LEFT JOIN bloom b ON w.word = b.word
                          WHERE w.doc_id % 2 <> 0
                          GROUP BY 1, 2),
                maybe AS (SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_maybe
                          FROM probe GROUP BY 1),
                truth AS (SELECT e.doc_id, COUNT(*) AS n_sh,
                                 CAST(SUM(CASE WHEN o.tok IS NOT NULL
                                          THEN 1 ELSE 0 END) AS BIGINT) AS n_true
                          FROM (SELECT doc_id, unnest(sh) AS tok FROM s
                                WHERE doc_id % 2 <> 0) e
                          LEFT JOIN old_toks o ON e.tok = o.tok
                          GROUP BY 1)
               SELECT t.doc_id, t.n_sh, t.n_true, m.n_maybe,
                      (m.n_maybe >= t.n_true) AS no_false_neg
               FROM truth t JOIN maybe m ON t.doc_id = m.doc_id
               ORDER BY t.doc_id""")),

    // Content-defined chunking dedup (the FastCDC/Rabin shape at token
    // granularity): chunk boundaries fall where the rolling 2-gram hash
    // ≡ 0 (mod 32), so a chunk boundary depends only on LOCAL content —
    // an insertion early in a document shifts every fixed-size block but
    // leaves all later CDC chunks identical, which is why storage dedup
    // uses it. Report: chunks shared across occurrences (the dedup win),
    // top 30. Per-document the whole split is one scan-pipelined in-row
    // array program — gram hashes via zip_with over aligned slices
    // (never element_at(computed array, i), the documented Shingles3
    // trap), then each chunk materializes via one slice per BOUNDARY, so
    // total per-doc work is Σ chunk lengths = O(tokens). The only
    // corpus-wide shuffle is the final chunk-hash aggregation, whose
    // width is the chunk stream (~tokens/32 records) — at 100 TB this is
    // the same agg shape as exact dedup, just on chunk keys.
    "llm_cdc_chunks" -> Q(
      (s, dir) => {
        cdcChunkStream(s, dir)
          .groupBy(md5(col("chunk")).as("chunk_hash"),
                   size(split(col("chunk"), " ")).as("chunk_toks"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
               count(lit(1)).as("n_occ"))
          .filter(col("n_occ") >= 2)
          .orderBy(col("n_occ").desc, col("n_docs").desc, col("chunk_hash"))
          .limit(30)
      },
      Some(s"""WITH $duckCdcCtes
               SELECT md5(chunk) AS chunk_hash,
                      len(string_split(chunk, ' ')) AS chunk_toks,
                      COUNT(DISTINCT doc_id) AS n_docs,
                      COUNT(*) AS n_occ
               FROM c
               GROUP BY 1, 2
               HAVING COUNT(*) >= 2
               ORDER BY n_occ DESC, n_docs DESC, chunk_hash
               LIMIT 30""")),

    // CDC storage-savings aggregate — the number a storage/dedup team
    // actually quotes: corpus tokens vs tokens after chunk-level dedup
    // (store each distinct chunk once). Rides the same chunk stream as
    // llm_cdc_chunks; the whole report is one (hash, len) aggregate
    // then one scalar reduce, so the added cost over the chunk split is
    // a single map-side-combined shuffle on chunk keys.
    "llm_cdc_ratio" -> Q(
      (s, dir) => {
        cdcChunkStream(s, dir)
          .groupBy(md5(col("chunk")).as("chunk_hash"),
                   size(split(col("chunk"), " ")).as("chunk_toks"))
          .agg(count(lit(1)).as("n_occ"))
          .agg(sum(col("chunk_toks").cast("long") * col("n_occ"))
                 .as("total_toks"),
               sum(col("chunk_toks").cast("long")).as("unique_toks"),
               count(lit(1)).as("n_unique_chunks"),
               sum(col("n_occ")).as("n_chunks"),
               (sum(col("chunk_toks").cast("long")).cast("decimal(18,6)")
                 / sum(col("chunk_toks").cast("long") * col("n_occ")))
                 .cast("decimal(18,6)").cast("double").as("dedup_ratio"))
      },
      Some(s"""WITH $duckCdcCtes,
                    g AS (SELECT md5(chunk) AS chunk_hash,
                                 len(string_split(chunk, ' ')) AS chunk_toks,
                                 COUNT(*) AS n_occ
                          FROM c GROUP BY 1, 2)
               SELECT CAST(SUM(chunk_toks * n_occ) AS BIGINT) AS total_toks,
                      CAST(SUM(chunk_toks) AS BIGINT) AS unique_toks,
                      COUNT(*) AS n_unique_chunks,
                      CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
                      CAST(CAST(CAST(SUM(chunk_toks) AS DECIMAL(18,6))
                                / SUM(chunk_toks * n_occ) AS DECIMAL(18,6))
                           AS DOUBLE) AS dedup_ratio
               FROM g""")),

    // END-TO-END incremental-ingest funnel (r11 VERDICT #6) — the
    // composition a nightly crawl-ingest actually runs, over the standing
    // (even doc_ids) + incoming (odd doc_ids) corpus split:
    //   1. EXACT: incoming hash ∈ standing hash set → 'exact_dup'
    //      (cheapest test first: one broadcast semi-probe on a 64-hex key);
    //   2. BLOOM pre-screen: incoming shingles probed against the standing
    //      corpus's bloom (the llm_dedup_bloom filter, identical
    //      arithmetic); n_maybe = 0 → 'novel_fastpath' — the doc skips
    //      every downstream verification, which at 100 TB is most docs
    //      and most of the win;
    //   3. CDC chunk overlap: ≥ half of the doc's CDC chunks already in
    //      the standing chunk store (integer compare 2·n_shared ≥
    //      n_chunks — no decimal lane) → 'cdc_dup';
    //   4. else 'admitted'. Survivors = admitted ∪ novel_fastpath.
    // Scale shape: ONE full-text scan total ([[ingestFeatPath]]
    // materializes hash+shingles+chunks in a single projection; pinned in
    // PlanAuditSpec — the final plan never touches documents.parquet);
    // the standing-side structures (hash set, ≤4231-word bloom, chunk-
    // hash set) are all broadcast-sized or key-only and ship as ONE
    // broadcast value, which native kernels probe row by row
    // ([[ingestVerdicts]]): the incoming side is a scan plus one
    // projection — no join, no exchange before the final sort. The
    // oracle recomputes the survivor set DENSELY in SQL — including
    // rebuilding the identical bloom and spelling every step as a join —
    // so the hash gate checks the whole funnel's routing, not just the
    // pieces.
    "llm_ingest_e2e" -> Q(
      (s, dir) => {
        val F = s.read.parquet(ingestFeatPath(s, dir))
        val inc = F.filter(col("doc_id") % 2 =!= 0)
        val stand = F.filter(col("doc_id") % 2 === 0)
        ingestVerdicts(inc, standingIndexOf(stand)).orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckCdcCtes,
                    s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
                    hsh AS (SELECT doc_id,
                                   sha256($dupPrefix) AS h
                            FROM documents),
                    stand_h AS (SELECT DISTINCT h FROM hsh WHERE doc_id % 2 = 0),
                    bits AS (SELECT doc_id, tok,
                                    (('0x' || substr(md5(tok || '#' || k), 1, 15))::BIGINT
                                     % 262322) AS idx
                             FROM (SELECT doc_id, unnest(sh) AS tok FROM s),
                                  (SELECT unnest(['0','1','2','3']) AS k) g),
                    wb AS (SELECT doc_id, tok, idx // 62 AS word,
                                  (1::BIGINT << CAST(idx % 62 AS INTEGER)) AS mask
                           FROM bits),
                    bloom AS (SELECT word, bit_or(mask) AS bits
                              FROM wb WHERE doc_id % 2 = 0 GROUP BY 1),
                    probe AS (SELECT w.doc_id, w.tok,
                                     MIN(CASE WHEN b.bits IS NOT NULL
                                               AND (b.bits & w.mask) = w.mask
                                              THEN 1 ELSE 0 END) AS hit
                              FROM wb w LEFT JOIN bloom b ON w.word = b.word
                              WHERE w.doc_id % 2 <> 0
                              GROUP BY 1, 2),
                    maybe AS (SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_maybe
                              FROM probe GROUP BY 1),
                    stand_c AS (SELECT DISTINCT md5(chunk) AS ch FROM c
                                WHERE doc_id % 2 = 0),
                    cdc AS (SELECT c.doc_id, COUNT(*) AS n_chunks,
                                   CAST(SUM(CASE WHEN sc.ch IS NOT NULL
                                            THEN 1 ELSE 0 END) AS BIGINT)
                                     AS n_shared
                            FROM c LEFT JOIN stand_c sc ON md5(c.chunk) = sc.ch
                            WHERE c.doc_id % 2 <> 0
                            GROUP BY 1),
                    inc AS (SELECT h.doc_id, h.h,
                                   CAST(len(s.sh) AS BIGINT) AS n_sh
                            FROM hsh h JOIN s USING (doc_id)
                            WHERE h.doc_id % 2 <> 0)
               SELECT doc_id, n_sh, n_maybe, n_chunks, n_shared, verdict,
                      verdict IN ('novel_fastpath', 'admitted') AS admitted
               FROM (SELECT i.doc_id, i.n_sh,
                            COALESCE(m.n_maybe, 0) AS n_maybe,
                            COALESCE(d.n_chunks, 0) AS n_chunks,
                            COALESCE(d.n_shared, 0) AS n_shared,
                            CASE WHEN sh2.h IS NOT NULL THEN 'exact_dup'
                                 WHEN COALESCE(m.n_maybe, 0) = 0
                                   THEN 'novel_fastpath'
                                 WHEN 2 * COALESCE(d.n_shared, 0)
                                      >= COALESCE(d.n_chunks, 0)
                                   THEN 'cdc_dup'
                                 ELSE 'admitted' END AS verdict
                     FROM inc i
                     LEFT JOIN stand_h sh2 ON i.h = sh2.h
                     LEFT JOIN maybe m ON m.doc_id = i.doc_id
                     LEFT JOIN cdc d ON d.doc_id = i.doc_id)
               ORDER BY doc_id"""))
  )

  /** Adds the CDC chunk-ARRAY column (`chunks`) to a frame holding a
    * materialized `toks` column: rolling 2-gram-hash boundaries
    * (hash ≡ 0 mod 32), with `hs`/`sp` as their own columns so each is
    * evaluated once per row (inlining would run the tid60 gram-hash
    * program twice per row). One in-row array program per document —
    * shared by [[cdcChunkStream]] (the exploded per-chunk form) and the
    * ingest pipeline's one-scan featurization ([[ingestFeatPath]]),
    * which materializes the array alongside the exact hash and shingles
    * in a single projection. */
  private def withCdcChunks(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("hs", expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
                    slice(toks, 2, size(toks) - 1),
                    (a, b) -> tid60(concat(a, ' ', b)))"""))
      .withColumn("sp", expr(
        """filter(transform(hs, (h, i) ->
             IF(pmod(h, 32) = 0, i + 1, -1)), x -> x > 0)"""))
      .withColumn("chunks", expr(
        """zip_with(concat(array(0), sp),
                    concat(sp, array(size(toks))),
                    (a, b) -> array_join(slice(toks, a + 1, b - a), ' '))"""))

  /** The CDC chunk stream (doc_id, chunk) — [[withCdcChunks]] exploded
    * per chunk; shared by llm_cdc_chunks / llm_cdc_ratio. */
  private def cdcChunkStream(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    withCdcChunks(Tables.documents(s, dir).withColumn("toks", expr(toksE)))
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
  }

  // ---- ingest funnel core (shared batch/stream since r13) --------------
  // The r12 VERDICT #4 stream-side funnel runs the SAME verdict logic the
  // declared llm_ingest_e2e key runs, per micro-batch, against standing
  // structures built ONCE — so the funnel body is factored out of the key
  // into [[standingIndexOf]] + [[ingestVerdicts]] (and featurization into
  // [[featurize]]). The index is broadcast once ([[StandingIndex.probe]])
  // and each micro-batch's verdicts are a single scan-and-project job
  // over it. Batch-equivalence is pinned in StreamingSpec: the verdict of
  // a doc depends only on its OWN features + the standing index, so
  // micro-batch boundaries cannot change the answer.

  /** Per-doc funnel features off raw documents rows: exact-dup hash `h`,
    * 3-shingle array `sh`, CDC chunk array `chunks` — ONE projection,
    * one text scan (the batch path materializes it via
    * [[ingestFeatPath]]; the stream path runs it per micro-batch).
    * `docs`' session must be installed ([[Tables.configure]]). */
  private[graft] def featurize(docs: org.apache.spark.sql.DataFrame) =
    withCdcChunks(docs.withColumn("toks", expr(toksE)))
      .select(col("doc_id"),
              sha2(expr(dupPrefix), 256).as("h"),
              expr("shingles3(toks)").as("sh"),
              col("chunks"))

  /** The standing corpus's probe structures — all broadcast-sized or
    * key-only at any corpus size (hash SET, ≤[[BloomWords]]-word bloom,
    * chunk-hash SET): built once per standing snapshot and reused by
    * every batch/micro-batch that probes it. The three frames are the
    * structures' declarative form (callers may persist them); [[probe]]
    * collects them once into a single broadcast value, which is what
    * [[ingestVerdicts]] actually reads. */
  private[graft] case class StandingIndex(
    standH: org.apache.spark.sql.DataFrame,
    bloom: org.apache.spark.sql.DataFrame,
    standC: org.apache.spark.sql.DataFrame) {

    /** The one broadcast the verdicts probe — built on first use from
      * one driver collect of the three structures (the data the old
      * broadcast-join hints already shipped through the driver; one SQL
      * execution, so their shuffle stages run side by side), released
      * with [[release]]. */
    lazy val probe: org.apache.spark.broadcast.Broadcast[StandingProbe.Index] = {
      val (str, long) = (lit(null).cast("string"), lit(null).cast("long"))
      val rows = standH.select(lit(0).as("part"), col("h_old").as("key"), long.as("word"), long.as("bits"))
        .union(bloom.select(lit(1), str, col("word"), col("bits")))
        .union(standC.select(lit(2), col("ch_old"), long, long))
        .collect()
      def part(p: Int) = rows.filter(_.getInt(0) == p)
      standH.sparkSession.sparkContext.broadcast(StandingProbe.index(
        hashes = part(0).map(_.getString(1)),
        words = part(1).filter(r => !r.isNullAt(2) && !r.isNullAt(3))
          .map(r => (r.getLong(2), r.getLong(3))),
        nWords = BloomWords.toInt,
        chunks = part(2).map(_.getString(1))))
    }

    /** Drop the broadcast from the driver and every executor. */
    def release(): Unit = probe.destroy()
  }

  private[graft] val BloomWords = 4231L // m = 4231*62 bits — llm_dedup_bloom geometry

  /** Build the standing index off featurized rows (doc_id, h, sh, chunks).
    * The bloom is the llm_dedup_bloom build: each standing shingle sets
    * bit idx % 62 of word idx div 62, idx = tid60(tok#k) mod 62·words,
    * k = 0..3. */
  private[graft] def standingIndexOf(stand: org.apache.spark.sql.DataFrame): StandingIndex =
    StandingIndex(
      standH = stand.select(col("h").as("h_old")).distinct(),
      bloom = stand.select(explode(col("sh")).as("tok"))
        .select(explode(expr(s"""transform(sequence(0, 3), k ->
          tid60(concat(tok, '#', CAST(k AS STRING))) % ${BloomWords * 62}L)""")).as("idx"))
        .groupBy(expr("idx div 62").as("word"))
        .agg(expr("bit_or(shiftleft(1L, CAST(idx % 62 AS INT)))").as("bits")),
      standC = stand.select(explode(col("chunks")).as("chunk"))
        .select(md5(col("chunk")).as("ch_old")).distinct())

  /** The funnel verdict per incoming featurized doc: exact-hash reject →
    * bloom pre-screen (n_maybe = 0 → novel fastpath) → CDC chunk-overlap
    * majority → admitted. ROW-LOCAL: each doc's counts come from the
    * [[StandingProbe]] kernels over its own `h`/`sh`/`chunks` against the
    * index's one broadcast, all in one projection — no join, no
    * aggregation, no shuffle, whatever the batch size. That is also what
    * makes the stream-side per-micro-batch run batch-equivalent. Forces
    * `idx.probe` if it is not built yet. */
  private[graft] def ingestVerdicts(inc: org.apache.spark.sql.DataFrame,
                                    idx: StandingIndex): org.apache.spark.sql.DataFrame = {
    val ix = idx.probe
    inc.select(col("doc_id"),
               size(col("sh")).cast("long").as("n_sh"),
               StandingProbe.exactHit(col("h"), ix).as("exact"),
               StandingProbe.bloomMaybe(col("sh"), ix).as("n_maybe"),
               when(col("chunks").isNull, 0L)
                 .otherwise(size(col("chunks")).cast("long")).as("n_chunks"),
               StandingProbe.chunkShared(col("chunks"), ix).as("n_shared"))
      .select(col("doc_id"), col("n_sh"), col("n_maybe"), col("n_chunks"), col("n_shared"),
              when(col("exact"), "exact_dup")
                .when(col("n_maybe") === 0, "novel_fastpath")
                .when(col("n_shared") * 2 >= col("n_chunks"), "cdc_dup")
                .otherwise("admitted").as("verdict"))
      .withColumn("admitted",
                  col("verdict").isin("novel_fastpath", "admitted"))
  }

  /** The ingest pipeline's ONE full-text pass: every per-doc signal the
    * funnel needs — exact-dup hash, 3-shingle array, CDC chunk array —
    * computed in a single projection over documents and written once
    * (atomic-rename published, mtime-versioned). Everything downstream of
    * this file moves hashes and token-free keys only; at 100 TB this is
    * the difference between one corpus scan and three. Pinned in
    * PlanAuditSpec: llm_ingest_e2e's final plan reads THIS path and never
    * documents.parquet. */
  private[graft] def ingestFeatPath(s: org.apache.spark.sql.SparkSession,
                                    dir: String): String =
    Memo.materializedPath(s, dir, "ingest_feat") { tmp =>
      featurize(Tables.documents(s, dir)).write.parquet(tmp)
    }

  /** DuckDB CTEs producing the same `c(doc_id, chunk)` stream. */
  // def, not val: referenced from the `queries` map val above, which
  // initializes FIRST in object-body order — a val here would still be
  // null when the map's interpolated SQL strings are built.
  private def duckCdcCtes: String =
    s"""t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        h AS (SELECT doc_id, toks,
                list_transform(generate_series(1, len(toks) - 1),
                  i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]),
                        1, 15))::BIGINT) AS hs
              FROM t),
        sp AS (SELECT doc_id, toks,
                 list_filter(list_transform(
                   generate_series(1, len(hs)),
                   i -> CASE WHEN hs[i] % 32 = 0 THEN i
                             ELSE -1 END), x -> x > 0) AS sp
               FROM h),
        c AS (SELECT doc_id,
                unnest(list_transform(
                  generate_series(1, len(sp) + 1),
                  k -> array_to_string(list_slice(toks,
                         CASE WHEN k = 1 THEN 1
                              ELSE sp[k-1] + 1 END,
                         CASE WHEN k = len(sp) + 1 THEN len(toks)
                              ELSE sp[k] END), ' '))) AS chunk
              FROM sp)"""
}
