package graft

import org.apache.spark.sql.functions._

/** Driver-contract smoke + edge-case unit tests the fixed fixtures can't
  * hit (SURVEY §5.3): null handling, empty inputs, boundary semantics. */
class OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("entry(): flagship query returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every declared oracle key has a queries entry and vice-versa rules hold") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"oracle keys without queries: ${ok -- qk}")
    // Every declared key carries an oracle (round 2: q_agg_approx_distinct
    // gained its exact-count + within_bound formulation).
    assert((qk -- ok).isEmpty, s"unexpected oracle-less: ${qk -- ok}")
  }

  test("q_agg_approx_distinct: HLL++ estimate within 3*rsd of exact") {
    // The declared query already encodes the bound as `within_bound`;
    // assert it holds, and independently recompute the raw estimate so a
    // broken within_bound expression can't self-certify.
    val rows = Registry.byName("q_agg_approx_distinct").fn(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val approx = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == approx.keySet)
    rows.foreach { case (k, (exact, within)) =>
      assert(within, s"$k: query-declared within_bound is false")
      val ap = approx(k).toDouble
      assert(math.abs(ap - exact) / exact <= 0.06,
        s"$k: approx $ap vs exact $exact drifted past 3*rsd")
    }
  }

  test("fn_variant: VARIANT contract beyond the oracled extractions") {
    // The oracle gate covers typed path extraction; pin here the parts
    // DuckDB can't mirror: the inferred variant schema, variant-null vs
    // SQL-null, and malformed input under try_parse_json.
    val row = spark.sql(
      """SELECT schema_of_variant(parse_json(
           '{"id":7,"cust":{"key":9},"tags":["a","b"]}')) AS sch,
                is_variant_null(variant_get(parse_json('{"a":null}'), '$.a')) AS vnull,
                variant_get(parse_json('{"a":null}'), '$.missing') AS sqlnull,
                try_parse_json('{broken') AS bad""").head()
    assert(row.getString(0) == "OBJECT<cust: OBJECT<key: BIGINT>, id: BIGINT, tags: ARRAY<STRING>>",
      s"variant schema inference drifted: ${row.getString(0)}")
    assert(row.getBoolean(1), "JSON null must surface as a variant null")
    assert(row.isNullAt(2), "absent path must be SQL NULL")
    assert(row.isNullAt(3), "malformed JSON must be NULL under try_parse_json")
  }

  test("q_join_collated: collation semantics beyond the ASCII oracle") {
    // UTF8_LCASE is simple case folding (what lower() mirrors — the
    // oracled fixture relies on that agreement); the ICU collations add
    // what no lower() wrapper reproduces: accent-insensitive equality
    // under the _AI variants. (Measured boundary on this Spark: ICU
    // equality does NOT expand ß=SS even under UNICODE_CI — pinned so a
    // future collation-version bump that changes it is noticed.) Also
    // pin that a collated comparison still plans as a JOIN key, not a
    // filter over a cartesian product.
    val r = spark.sql(
      """SELECT 'Algeria' COLLATE UTF8_LCASE = 'ALGERIA' AS lcase_eq,
                'é' COLLATE UNICODE_CI_AI = 'E' AS icu_ai,
                'é' COLLATE UTF8_LCASE = 'e' AS lcase_accent,
                'ß' COLLATE UNICODE_CI = 'SS' AS icu_sz""").head()
    assert(r.getBoolean(0), "UTF8_LCASE must fold ASCII case")
    assert(r.getBoolean(1), "UNICODE_CI_AI must equate é with E (ICU accent+case)")
    assert(!r.getBoolean(2), "UTF8_LCASE must NOT strip accents (simple folding)")
    assert(!r.getBoolean(3), "measured: ICU equality does not expand ß=SS here")
    val plan = Registry.byName("q_join_collated").fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"collated equality fell out of the equi-join key:\n$plan")
  }

  test("udaf_hll: sketch estimate within 3*rsd, invariant to partitioning") {
    // known-cardinality input: 10k distinct longs, each duplicated 3x
    val n = 10000L
    val base = spark.range(n * 3).select((col("id") % n).as("v"))
    Seq(1, 7, 32).foreach { parts =>
      val est = base.repartition(parts).agg(expr("hll_distinct(v)")).head().getLong(0)
      assert(math.abs(est - n).toDouble / n <= 3 * functions.HyperLogLogAgg.Rsd,
        s"parts=$parts: est $est vs exact $n past 3*rsd")
      // determinism across partitionings (max-merge is order-free)
      val est1 = base.repartition(1).agg(expr("hll_distinct(v)")).head().getLong(0)
      assert(est == est1, s"estimate varies with partitioning: $est vs $est1")
    }
    // declared query's bound holds
    val rows = Registry.byName("udaf_hll").fn(spark, sf).collect()
    rows.foreach(r => assert(r.getBoolean(2), s"${r.getString(0)}: out of bound"))
  }

  test("udaf_quantile_sketch: partition-invariant, exact under k, near-median over k") {
    import spark.implicits._
    // Mergeability/determinism: the estimate is a pure function of the
    // value multiset — identical across 1/7/32-partition merge shapes.
    val li = Tables.lineitem(spark, sf).select(col("l_extendedprice").as("v"))
    val ests = Seq(1, 7, 32).map { p =>
      li.repartition(p).agg(expr("bkq_median(v)")).head().getDouble(0)
    }
    assert(ests.distinct.size == 1, s"merge shape changed the sketch: $ests")
    // Small groups (n <= k): the sample IS the group — exact disc median.
    val small = (1 to 99).map(_.toDouble).toDF("v")
    assert(small.agg(expr("bkq_median(v)")).head().getDouble(0) == 50.0)
    // Large input: the estimated median's true rank must sit within the
    // ±3/sqrt(k) band around 0.5 (k=256 -> ±0.1875, generous on purpose).
    val est = ests.head
    val n = li.count().toDouble
    val rank = li.filter(col("v") <= est).count() / n
    assert(math.abs(rank - 0.5) < 3.0 / math.sqrt(256.0),
      s"estimated median at true rank $rank")
  }

  test("tid60 kernel: bit-identical to the conv(substr(md5)) spelling") {
    val bad = spark.range(2000)
      .selectExpr("CAST(id AS STRING) AS t",
                  "concat(repeat(CAST(id AS STRING), 7), 'é☃') AS t2",
                  "'' AS t3")
      .selectExpr(
        "tid60(t) = CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) AS ok1",
        "tid60(t2) = CAST(conv(substr(md5(t2), 1, 15), 16, 10) AS BIGINT) AS ok2",
        "tid60(t3) = CAST(conv(substr(md5(t3), 1, 15), 16, 10) AS BIGINT) AS ok3")
      .where("NOT (ok1 AND ok2 AND ok3)").count()
    assert(bad == 0, "tid60 diverged from the SQL md5 spelling")
  }

  test("H.round6: DuckDB's std::round(x*1e6)/1e6 at a just-below-half value") {
    // 8155/16000 = 0.5096875 in decimal, but as a double times 1e6 it is
    // 509687.49999999994: DuckDB rounds that down, Spark's round(x, 6)
    // rounds the shortest repr 0.5096875 up (the q_win_nav_dist cd case).
    val r = spark.range(1)
      .select(lit(8155.0 / 16000.0).as("x"))
      .select(H.round6(col("x")).as("r6"), round(col("x"), 6).as("spark_r6"),
              H.round6(lit(0.5)).as("half"), H.round6(lit(-0.0000025)).as("neg"))
      .head()
    assert(8155.0 / 16000.0 * 1e6 == 509687.49999999994)
    assert(r.getDouble(0) == 0.509687, s"round6 gave ${r.getDouble(0)}")
    assert(r.getDouble(1) == 0.509688, "Spark's round(x, 6) no longer differs here")
    // exact halves still round away from zero, as std::round does
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == -0.000003,
      s"round6 halves: ${r.getDouble(2)}, ${r.getDouble(3)}")
  }

  test("src_csv_malformed: the 3 broken lines are retained as corrupt records") {
    // run the declared query first so the malformed fixture exists
    Registry.byName("src_csv_malformed").fn(spark, sf).collect()
    import org.apache.spark.sql.types._
    val st = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType),
      StructField("_corrupt_record", StringType)))
    // Spark disallows queries touching ONLY _corrupt_record — read full
    // rows (the documented workaround) and extract it afterwards.
    val corrupt = spark.read.option("sep", "\t").option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(st).csv(s"${graft.Fixtures.dir}/nation_malformed.tsv")
      .collect()
      .flatMap(r => Option(r.getAs[String]("_corrupt_record")))
    assert(corrupt.length == 3, s"expected 3 corrupt rows, got ${corrupt.toSeq}")
    assert(corrupt.exists(_.startsWith("not_a_number")) &&
           corrupt.exists(_.startsWith("99\tTRUNCATED")) &&
           corrupt.exists(_.startsWith("###")))
  }

  test("null semantics: na.drop/fill and null-safe predicates") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, null))
      .toDF("k", "v")
    assert(df.na.drop(Seq("k")).count() == 2)
    assert(df.na.fill(Map("v" -> "missing")).filter($"v" === "missing").count() == 1)
    assert(df.filter($"k" <=> null).count() == 1)
  }

  test("joins on empty inputs produce correct shapes") {
    val a = Seq((1, "x")).toDF("k", "v")
    val empty = spark.emptyDataFrame.selectExpr("CAST(NULL AS INT) AS k")
      .limit(0)
    assert(a.join(empty, Seq("k"), "left_anti").count() == 1)
    assert(a.join(empty, Seq("k"), "left_semi").count() == 0)
    assert(a.join(empty, Seq("k"), "left").count() == 1)
  }

  test("cosine_sim: custom Expression matches zip_with/aggregate fold bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(50)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "a")
      .withColumn("b", expr("reverse(a)"))
    val both = df.select(
      expr("cosine_sim(a, b)").as("custom"),
      expr("""aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
              / (sqrt(aggregate(zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
                 * sqrt(aggregate(zip_with(b, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))""").as("builtin"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"bit mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // self-similarity ≈ 1, bounds hold
    val self = df.select(expr("cosine_sim(a, a)").as("c")).as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("snk_rest: FileTransport round-trips every row exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rest").toString
    val src = Tables.nation(spark, sf)
    graft.sources.RestSink.postToDir(src, tmp, batchSize = 7)
    val back = spark.read.json(s"$tmp/*.jsonl")
    assert(back.count() == src.count())
    assertSameRows(
      back.select($"n_nationkey".cast("int"), $"n_name", $"n_regionkey".cast("int")),
      src.select($"n_nationkey".cast("int"), $"n_name", $"n_regionkey".cast("int")))
  }

  test("snk_rest: retry policy re-posts a flaky batch until it lands") {
    import graft.sources.RestSink
    val tmp = java.nio.file.Files.createTempDirectory("graft_rest_retry").toString
    val src = Tables.nation(spark, sf)
    RestSink.post(src, batchSize = 7,
        retry = RestSink.RetryPolicy(maxAttempts = 3, backoffMs = 1))(
      (pid, attempt) => new RestTestTransports.Flaky(tmp, pid, attempt))
    val back = spark.read.json(s"$tmp/*.jsonl")
    assert(back.count() == src.count(), "retried batches must land exactly once")
  }

  test("snk_rest: exhausted retries quarantine to dead-letter, pipeline continues") {
    import graft.sources.RestSink
    val tmp = java.nio.file.Files.createTempDirectory("graft_rest_main").toString
    val dl = java.nio.file.Files.createTempDirectory("graft_rest_dl").toString
    val src = Tables.nation(spark, sf)
    // endpoint permanently down + dead-letter: no task failure, every row
    // quarantined
    RestSink.post(src, batchSize = 7,
        retry = RestSink.RetryPolicy(maxAttempts = 2, backoffMs = 1),
        deadLetter = Some((pid, attempt) =>
          new RestSink.FileTransport(dl, pid, attempt)))(
      (pid, attempt) => new RestTestTransports.Down(tmp, pid, attempt))
    assert(spark.read.json(s"$dl/*.jsonl").count() == src.count(),
      "every batch must reach the dead-letter path")
    // same endpoint, NO dead-letter: the task (and job) must fail
    intercept[org.apache.spark.SparkException] {
      RestSink.post(src, batchSize = 7,
          retry = RestSink.RetryPolicy(maxAttempts = 2, backoffMs = 1))(
        (pid, attempt) => new RestTestTransports.Down(tmp, pid, attempt))
    }
  }

  test("snk_partitioned: partition pruning prunes files read back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.lineitem(spark, sf)
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter($"l_returnflag" === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      Tables.lineitem(spark, sf).filter($"l_returnflag" === "R").count())
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      "partition filter missing from scan")
  }

  test("q_concurrent_sessions: two-level prefix scan equals the global sweep") {
    import org.apache.spark.sql.expressions.Window
    val out = Registry.byName("q_concurrent_sessions").fn(spark, sf)
    // independent reference: identical session build, then ONE global
    // running sum over all markers (the single-partition formulation the
    // distributed decomposition must reproduce exactly)
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Tables.events(spark, sf)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
             unix_micros($"ts".cast("timestamp")) -
             unix_micros($"prev_ts".cast("timestamp")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ts").as("s"), max($"ts").as("e"))
    val markers = sess.select($"s".as("ts"), lit(1L).as("delta"))
      .unionAll(sess.select($"e".as("ts"), lit(-1L).as("delta")))
    val wG = Window.orderBy($"ts", $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = markers.withColumn("run", sum($"delta").over(wG))
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(max($"run").as("max_concurrent"),
           sum(when($"delta" === 1, 1L).otherwise(0L)).as("n_starts"))
    assertSameRows(out, ref)
  }

  test("q_median_disc: matches the directly computed discrete median per group") {
    val got = Registry.byName("q_median_disc").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val grouped = Tables.orders(spark, sf)
      .select($"o_orderpriority", $"o_totalprice").as[(String, Double)]
      .collect().groupBy(_._1)
    assert(got.map(_._1).toSet == grouped.keySet)
    got.foreach { case (k, med, n) =>
      val vs = grouped(k).map(_._2).sorted
      assert(n == vs.length, s"$k: group size")
      assert(med == vs((vs.length - 1) / 2),
        s"$k: median $med != sorted element ${(vs.length - 1) / 2}")
    }
  }

  test("llm_repetition_filter: fractions match a direct per-doc computation") {
    val rows = Registry.byName("llm_repetition_filter").fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().take(25).foreach { case (id, text) =>
        val toks = text.toLowerCase.trim.split(" ").toSeq
        val g2 = toks.sliding(2).map(_.mkString(" ")).toSeq
        val g3 = toks.sliding(3).map(_.mkString(" ")).toSeq
        val top2 = g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size
        val c3 = g3.groupBy(identity).values.map(_.size).toSeq
        val dup3 = c3.filter(_ > 1).sum.toDouble / g3.size
        val (t2, d3) = rows(id)
        assert(math.abs(t2 - top2) <= 1e-6, s"doc $id top2: $t2 vs $top2")
        assert(math.abs(d3 - dup3) <= 1e-6, s"doc $id dup3: $d3 vs $dup3")
      }
  }

  test("llm_dup_spans: every span duplicated, counts ordered and consistent") {
    val rows = Registry.byName("llm_dup_spans").fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "fixture near-duplicates should share 8-token spans")
    rows.foreach { case (rn, span, nOcc, nDocs) =>
      assert(nOcc > 1, s"rank $rn: span not duplicated")
      assert(nDocs <= nOcc, s"rank $rn: n_docs $nDocs > n_occ $nOcc")
      assert(span.split(" ").length == 8, s"rank $rn: span is not 8 tokens")
    }
    val occs = rows.map(_._3)
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b },
      "spans not ordered by occurrence count")
  }

  test("llm_global_shuffle: deterministic across runs, all shards populated") {
    val a = Registry.byName("llm_global_shuffle").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = Registry.byName("llm_global_shuffle").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sameElements(b), "shuffle order changed between runs")
    val nDocs = Tables.documents(spark, sf).count()
    assert(a.length == nDocs, "shuffle dropped or duplicated docs")
    assert(a.map(_._1).distinct.length == 8, "expected all 8 shards populated")
    // positions are contiguous 1..n within each shard
    a.groupBy(_._1).foreach { case (shard, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length),
        s"shard $shard positions not contiguous")
    }
  }

  test("llm_kmeans_iter: assignment is total and cosines are in range") {
    val rows = Registry.byName("llm_kmeans_iter").fn(spark, sf).collect()
      .map(r => (r.getInt(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._2).sum == Tables.embeddings(spark, sf).count(),
      "every vector must be assigned to exactly one centroid")
    rows.foreach { case (lbl, n, moved, meanCos) =>
      assert(moved <= n, s"$lbl: moved $moved > assigned $n")
      assert(meanCos >= -1.0 && meanCos <= 1.0, s"$lbl: mean cosine $meanCos")
    }
  }

  test("llm_dsir: importance weights actually separate the target domain") {
    val rows = Registry.byName("llm_dsir").fn(spark, sf)
      .select("lang", "log_iw", "selected").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val en = rows.filter(_._1 == "en").map(_._2).toSeq
    val rest = rows.filter(_._1 != "en").map(_._2).toSeq
    assert(en.nonEmpty && rest.nonEmpty)
    // The whole point of the estimator: target-domain docs must score
    // higher on average than the rest of the corpus.
    assert(mean(en) > mean(rest),
      s"en mean ${mean(en)} not above non-en mean ${mean(rest)}")
    val kept = rows.count(_._3)
    assert(kept > 0 && kept < rows.length, "selection must be a proper subset")
  }

  test("q_shuffle_balance: bucket loads cover the table and ratios are consistent") {
    val rows = Registry.byName("q_shuffle_balance").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
                 r.getBoolean(4)))
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_._2).sum == total, "bucket rows must partition the table")
    assert(rows.length <= 32 && rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (b, n, k, ratio, hot) =>
      assert(k <= n, s"bucket $b: $k keys > $n rows")
      assert(math.abs(ratio - n.toDouble * 32 / total) < 1e-6)
      assert(hot == (n * 320 > total * 13), s"bucket $b hot flag inconsistent")
    }
  }

  test("q_zorder_layout: buckets cover the table and bound BOTH dimensions") {
    val rows = Registry.byName("q_zorder_layout").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val li = Tables.lineitem(spark, sf)
      .agg(count(lit(1)), max(col("l_partkey")) - min(col("l_partkey")),
           max(col("l_suppkey")) - min(col("l_suppkey"))).collect()(0)
    val (total, pRange, sRange) = (li.getLong(0), li.getLong(1), li.getLong(2))
    assert(rows.map(_._2).sum == total, "bucket rows must partition the table")
    assert(rows.forall { case (zb, _, _, _) => zb >= 0 && zb < 64 })
    // The clustering claim: every z-bucket confines each dimension to a
    // fraction of its global range (8x8 grid → 1/8 per cell; assert the
    // loose 1/4 so quantization edges never flake).
    rows.foreach { case (zb, _, pSpan, sSpan) =>
      assert(pSpan * 4 <= pRange + 4, s"bucket $zb partkey span $pSpan")
      assert(sSpan * 4 <= sRange + 4, s"bucket $zb suppkey span $sSpan")
    }
  }

  test("q_fd_check: key FD holds, name FDs are violated") {
    val rows = Registry.byName("q_fd_check").fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // o_orderkey is the table key — its FD can never be violated.
    assert(rows("o_orderkey->o_orderstatus") == 0L)
    // 64 two-word names over 2000 parts guarantee brand/type fan-out.
    assert(rows("p_name->p_brand") > 0L)
    assert(rows("p_name->p_type") > 0L)
  }

  test("llm_self_bleu: exact duplicates score 1.0, a disjoint doc scores 0") {
    // Constructed-corpus boundary pin: two identical docs are each
    // other's perfect reference (clipped precision 1, equal lengths →
    // BP 1 → BLEU exactly 1.0), while a doc sharing no n-gram with
    // anyone must clip to 0. Uses a crafted documents.parquet so the
    // metric's extremes are pinned independently of fixture content.
    val dir = "target/tmp/bleu_edge"
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),
      (2L, "zzz yyy xxx www vvv uuu ttt sss rrr", "en", "s", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("llm_self_bleu").fn(spark, dir)
      .select("doc_id", "bleu2").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1.0 else x.getDouble(1))).toMap
    assert(r(0L) == 1.0 && r(1L) == 1.0, s"duplicate pair should score 1.0: $r")
    assert(r(2L) == 0.0, s"disjoint doc should score 0: $r")
  }

  test("llm_mmr_rerank: a duplicate of the top hit is demoted below the diverse candidate") {
    // The metric's reason to exist, pinned on constructed geometry: two
    // candidates tie on relevance (0.9) but one is an EXACT duplicate of
    // the top pick (mutual sim 1.0) while the other diverges (sim 0.81).
    // Relevance-only ranking returns the duplicate at rank 2; MMR must
    // put the diverse candidate there and recall the duplicate last.
    val dir = "target/tmp/mmr_edge"
    def v(xs: Double*): Array[Float] =
      (xs.map(_.toFloat) ++ Seq.fill(64 - xs.size)(0f)).toArray
    Seq(
      (0L, v(1.0), 0),                    // the query
      (1L, v(0.9, 0.4358899), 1),
      (2L, v(0.9, 0.4358899), 1),         // exact duplicate of 1
      (3L, v(0.9, 0.0, 0.4358899), 2),    // equally relevant, diverse
      (4L, v(0.1, 0.99498743), 3))        // low-relevance filler
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Registry.byName("llm_mmr_rerank").fn(spark, dir)
      .select("rank", "vec_id").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSeq
    assert(r == Seq((1, 1L), (2, 3L), (3, 2L)),
      s"MMR should demote the duplicate: got $r")
  }

  test("llm_kappa: perfectly separable classes score accuracy = kappa = macro-F1 = 1") {
    // Two well-separated clusters, one holdout query each (vec_id % 10
    // == 0): every 3-NN vote matches the true label, so observed
    // agreement is 1 and chance-corrected kappa must also be exactly 1
    // (pe = 0.5 with symmetric marginals). Pins the exact integer-ratio
    // arithmetic end to end.
    val dir = "target/tmp/kappa_edge"
    def v(xs: Double*): Array[Float] =
      (xs.map(_.toFloat) ++ Seq.fill(64 - xs.size)(0f)).toArray
    val a = (0L to 9L).map(i => (i, v(1.0, 0.001 * (i + 1)), 1))
    val b = (10L to 19L).map(i => (i, v(0.001 * (i + 1), 1.0), 2))
    (a ++ b).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Registry.byName("llm_kappa").fn(spark, dir).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 2, s"n_eval/agree wrong: $r")
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0,
      s"accuracy/kappa/macro_f1 should all be exactly 1.0: $r")
  }

  test("df.observe: pipeline metrics ride the existing scan, no second job") {
    // The operational counters every ingest run reports (rows seen,
    // quantity total) must not cost a second corpus pass: observe()
    // attaches CollectMetrics to the existing plan and the values
    // arrive with the action that ran anyway. Cross-check both metrics
    // against independently-computed values.
    val obs = new org.apache.spark.sql.Observation("ingest")
    val li = Tables.lineitem(spark, sf)
    val n = li.observe(obs, count(lit(1)).as("rows"),
                       sum(col("l_quantity").cast(H.D)).as("qty"))
      .filter(col("l_quantity") >= 0).count()
    val m = obs.get
    assert(m("rows") == n, s"observed rows ${m("rows")} != counted $n")
    val direct = li.agg(sum(col("l_quantity").cast(H.D))).collect()(0).getDecimal(0)
    assert(m("qty") == direct, s"observed qty ${m("qty")} != direct $direct")
  }

  test("q_alloc_largest_remainder: seats sum to EXACTLY the budget, every share >= floor") {
    // The apportionment invariants, independent of the oracle values:
    // Hamilton's method always allocates exactly SEATS in total, and no
    // nation gets less than its floored quota.
    val rows = Registry.byName("q_alloc_largest_remainder").fn(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == 1000L,
      s"allocation must sum to the 1000-seat budget")
    assert(rows.forall(_.getLong(2) >= 0L))
  }

  test("llm_dedup_bloom: zero false negatives — structural, every row") {
    val rows = Registry.byName("llm_dedup_bloom").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"false negative on doc ${r.getLong(0)}")
      assert(r.getLong(3) >= r.getLong(2), // n_maybe >= n_true
        s"bloom undercounted doc ${r.getLong(0)}")
    }
  }

  test("q_join_pit: every purchase matches exactly one dimension interval") {
    val out = Registry.byName("q_join_pit").fn(spark, sf)
    val nPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(out.count() == nPurchases,
      "PIT intervals must partition the timeline: one dim row per fact")
    assert(out.select(col("buy_id")).distinct().count() == nPurchases,
      "a purchase matched two intervals — intervals overlap")
  }

  test("q_capped_running_sum: balances are never negative and cap at the deposit sum") {
    val rows = Registry.byName("q_capped_running_sum").fn(spark, sf).collect()
    val deposits = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "signup"))
      .groupBy(col("user_id")).agg(sum(col("value")).as("dep"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val bal = r.getDouble(2)
      assert(bal >= 0.0, s"clamp violated for user ${r.getLong(0)}")
      assert(bal <= deposits.getOrElse(r.getLong(0), 0.0) + 1e-6,
        s"balance exceeds total deposits for user ${r.getLong(0)}")
    }
  }

  test("q_hll_sliding: trailing estimate is exact in the sparse regime, per day") {
    val rows = Registry.byName("q_hll_sliding").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "a day's sliding estimate left the 3-rsd bound")
  }

  test("q_mannwhitney: U matches the brute-force pairwise count") {
    // The rank-sum identity U_a = #(a>b) + #(a=b)/2 — recomputed directly
    // from the raw pairs at fixture scale, so a broken tie-averaged rank
    // (the doubled-rank lane) can't self-certify through the oracle.
    val r = Registry.byName("q_mannwhitney").fn(spark, sf).collect()(0)
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val a = vals.filter(_._1 == "purchase").map(_._2)
    val b = vals.filter(_._1 == "signup").map(_._2)
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    val brute = a.iterator.map { x =>
      b.count(x > _) + 0.5 * b.count(x == _)
    }.sum
    assert(math.abs(r.getDouble(2) - brute) < 1e-9,
      s"u_stat ${r.getDouble(2)} != brute-force $brute")
  }

  test("q_ks_test: D matches the brute-force sup over the pooled support") {
    val r = Registry.byName("q_ks_test").fn(spark, sf).collect()(0)
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val a = vals.filter(_._1 == "purchase").map(_._2).sorted
    val b = vals.filter(_._1 == "signup").map(_._2).sorted
    val d = (a ++ b).distinct.iterator.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length
               - b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(r.getDouble(2) - d) < 1e-6,
      s"d_stat ${r.getDouble(2)} != brute-force $d")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  test("q_interval_union: coverage matches a driver-side interval merge, per user") {
    val rows = Registry.byName("q_interval_union").fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ivs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("st"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.keySet == ivs.keySet)
    ivs.foreach { case (u, starts) =>
      var islands = 0L; var covered = 0L
      var curSt = -1L; var curEn = -1L
      starts.foreach { st =>
        val en = st + 300000000L
        if (st > curEn || islands == 0) {
          if (islands > 0) covered += curEn - curSt
          islands += 1; curSt = st; curEn = en
        } else if (en > curEn) curEn = en
      }
      if (islands > 0) covered += curEn - curSt
      assert(rows(u) == ((islands, covered)),
        s"user $u: got ${rows(u)}, brute ($islands, $covered)")
    }
  }

  test("llm_multimodal_frames: sampled indices valid, frame 0 always present, slices in bounds") {
    val rows = Registry.byName("llm_multimodal_frames").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val n = rs.head.getInt(1)
      val idxs = rs.map(_.getInt(2)).sorted
      assert(idxs.head == 0, s"doc $doc: uniform sample must include frame 0")
      assert(idxs.distinct.length == idxs.length && idxs.length <= 4)
      assert(idxs.forall(i => i >= 0 && i < n), s"doc $doc: index out of range")
      rs.foreach { r =>
        assert(r.getInt(3) > 0 && r.getInt(3) <= 256,
          s"doc $doc frame ${r.getInt(2)}: slice length out of (0, 256]")
      }
    }
  }

  test("llm_multimodal_frames: an empty payload emits NO frame rows (r10 advice)") {
    // Pre-r11 a length-0 document got n_frames=0 yet still emitted one
    // frame_idx=0 row with frame_len=0 and out-of-range substr probes,
    // breaking the (0, 256] invariant above on any fixture with an
    // empty text. Pin the filter with a purpose-built mini fixture.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-frames").toString
    Seq((1L, ""), (2L, "x" * 300)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("llm_multimodal_frames").fn(spark, dir).collect()
    assert(rows.forall(_.getLong(0) == 2L), "empty doc must emit no frame rows")
    assert(rows.nonEmpty && rows.forall(r => r.getInt(3) > 0 && r.getInt(3) <= 256))
  }

  test("q_gap_profile: session-break count equals q_events_session's boundaries") {
    val r = Registry.byName("q_gap_profile").fn(spark, sf).collect()(0)
    val sessions = Registry.byName("q_events_session").fn(spark, sf).count()
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    // every >30-min gap IS one new-session boundary beyond each user's
    // first session, so the two declared keys must agree exactly
    assert(r.getLong(5) == sessions - users,
      s"n_session_breaks ${r.getLong(5)} != sessions - users ${sessions - users}")
    val n = Tables.events(spark, sf).count()
    assert(r.getLong(0) == n - users, "one gap per event beyond each user's first")
    assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3),
      "percentiles must be monotone")
  }

  test("q_assortativity: matches a driver-side endpoint-degree Pearson") {
    val r = Registry.byName("q_assortativity").fn(spark, sf).collect()(0)
    assert(r.getDouble(1) >= -1.0 - 1e-9 && r.getDouble(1) <= 1.0 + 1e-9)
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), col("l_partkey").as("p"),
              col("l_suppkey").as("sk")).distinct()
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2)))
      .groupBy(t => (t._1, t._2)).values
      .flatMap { g =>
        val ss = g.map(_._3).distinct.sorted
        for (i <- ss.indices; j <- i + 1 until ss.length) yield (ss(i), ss(j))
      }.toSeq.distinct
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val pts = sym.map { case (u, v) => (deg(u), deg(v)) }
    val m = pts.size.toDouble
    val mx = pts.map(_._1).sum / m; val my = pts.map(_._2).sum / m
    val num = pts.map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(pts.map(p => (p._1 - mx) * (p._1 - mx)).sum *
                        pts.map(p => (p._2 - my) * (p._2 - my)).sum)
    assert(r.getLong(0) == sym.size)
    val brute = if (den > 0) num / den else 0.0
    assert(math.abs(r.getDouble(1) - brute) < 1e-5,
      s"assortativity ${r.getDouble(1)} != brute $brute")
  }

  test("q_session_window_native: sessions partition the events and never overlap") {
    val rows = Registry.byName("q_session_window_native").fn(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == Tables.events(spark, sf).count(),
      "session event counts must partition the corpus")
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_ isBefore _)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[java.time.LocalDateTime](1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a.getAs[java.time.LocalDateTime](2)
          val bStart = b.getAs[java.time.LocalDateTime](1)
          assert(!bStart.isBefore(aEnd),
            s"user $u: overlapping native sessions ($aEnd vs $bStart)")
        case _ => ()
      }
    }
  }

  test("q_spearman: matches a driver-side tie-averaged rank correlation") {
    val r = Registry.byName("q_spearman").fn(spark, sf).collect()(0)
    val data = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount")).collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    def avgRanks(xs: Array[Double]): Array[Double] = {
      val byV = xs.zipWithIndex.sortBy(_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < byV.length) {
        var j = i
        while (j < byV.length && byV(j)._1 == byV(i)._1) j += 1
        val rank = (i + 1 + j).toDouble / 2 // average of ranks i+1..j
        (i until j).foreach(k => out(byV(k)._2) = rank)
        i = j
      }
      out
    }
    val rx = avgRanks(data.map(_._1)); val ry = avgRanks(data.map(_._2))
    val n = data.length
    val mx = rx.sum / n; val my = ry.sum / n
    val num = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
                        ry.map(b => (b - my) * (b - my)).sum)
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - num / den) < 1e-6,
      s"rho ${r.getDouble(1)} != brute ${num / den}")
  }

  test("q_ri_audit: clean fixture reports 7 zero-orphan edges; injected orphan is counted") {
    val clean = Registry.byName("q_ri_audit").fn(spark, sf).collect()
    assert(clean.length == 7)
    assert(clean.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L),
      s"driver fixture must be FK-clean: ${clean.mkString(",")}")
    // Doctored copy of the fixture: one nation row pointing at a
    // nonexistent region — the audit must count exactly that orphan.
    val dir = s"${graft.Fixtures.dir}/ri_orphan_fixture"
    Seq("region", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    Tables.nation(spark, sf)
      .unionAll(spark.sql("SELECT 99 AS n_nationkey, 'ORPHANIA' AS n_name, 77 AS n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val doctored = Registry.byName("q_ri_audit").fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(doctored("nation.region") == ((1L, 1L)),
      s"injected orphan not counted: ${doctored("nation.region")}")
    assert(doctored("customer.nation") == ((0L, 0L)) &&
           doctored("lineitem.orders") == ((0L, 0L)),
      "unrelated edges must stay clean")
  }

  test("q_hhi: concentration bounds hold per nation") {
    // HHI is pinched between the two share extremes: top_share^2 <= HHI
    // (the max term alone) and HHI <= top_share (each share <= max), and
    // can never drop below the perfectly-even floor 1/n_cust.
    val rows = Registry.byName("q_hhi").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hhi, top) = (r.getLong(1), r.getDouble(3), r.getDouble(4))
      assert(hhi >= 1.0 / n - 1e-6, s"${r.getString(0)}: hhi below even floor")
      assert(hhi <= top + 1e-6, s"${r.getString(0)}: hhi above top_share")
      assert(hhi >= top * top - 1e-6, s"${r.getString(0)}: hhi below top_share^2")
    }
  }

  test("llm_preference_pairs: chosen strictly outranks rejected, ids distinct, " +
       "pair stays inside its cluster, margin is the quality gap") {
    val rows = Registry.byName("llm_preference_pairs").fn(spark, sf).collect()
    assert(rows.nonEmpty, "fixture has near-dup clusters with quality spread")
    val labels = Registry.byName("llm_dedup_cluster").fn(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (cid, n, chosen, rejected) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (cq, rq, margin) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(n >= 2, s"cluster $cid: pair from a singleton")
      assert(chosen != rejected, s"cluster $cid: chosen == rejected")
      assert(cq > rq, s"cluster $cid: chosen_q $cq !> rejected_q $rq")
      assert(math.abs(margin - (cq - rq)) < 1e-9,
        s"cluster $cid: margin $margin != ${cq - rq}")
      assert(labels(chosen) == cid && labels(rejected) == cid,
        s"cluster $cid: pair member labeled elsewhere")
    }
  }

  test("llm_tokenizer_fertility: fertility >= 1, split_rate in [0,1], " +
       "word counts partition the corpus") {
    val rows = Registry.byName("llm_tokenizer_fertility").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWords, nSub) = (r.getLong(1), r.getLong(2))
      val (fert, split) = (r.getDouble(3), r.getDouble(4))
      assert(nSub >= nWords, s"${r.getString(0)}: fewer subtokens than words")
      assert(fert >= 1.0 - 1e-9, s"${r.getString(0)}: fertility < 1")
      assert(split >= 0.0 && split <= 1.0, s"${r.getString(0)}: split_rate")
    }
    val totalWords = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(rows.map(_.getLong(1)).sum == totalWords,
      "per-lang word counts must partition the nonempty-word corpus count")
  }

  test("llm_code_detect: ratios bounded, code punct is a subset of symbols, " +
       "the boolean matches its own thresholds") {
    val rows = Registry.byName("llm_code_detect").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSym, nCode) = (r.getLong(1), r.getLong(2))
      val (sym, code, digit) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(nCode <= nSym, s"doc ${r.getLong(0)}: code punct exceeds symbols")
      Seq(sym, code, digit).foreach(x =>
        assert(x >= 0.0 && x <= 1.0, s"doc ${r.getLong(0)}: ratio $x"))
      assert(r.getBoolean(7) == (sym >= 0.05 && code >= 0.01),
        s"doc ${r.getLong(0)}: is_code disagrees with thresholds")
    }
  }

  test("llm_cdc_chunks: every reported chunk is genuinely shared and " +
       "the report is ranked by occurrence") {
    val rows = Registry.byName("llm_cdc_chunks").fn(spark, sf).collect()
    assert(rows.length <= 30)
    rows.foreach { r =>
      val (toks, nDocs, nOcc) = (r.getInt(1), r.getLong(2), r.getLong(3))
      assert(nOcc >= 2, "reported chunk not shared")
      assert(nDocs <= nOcc, "distinct docs exceed occurrences")
      assert(toks >= 1, "empty chunk")
    }
    val occs = rows.map(_.getLong(3))
    assert(occs.sameElements(occs.sorted(Ordering[Long].reverse)),
      "rows not ranked by n_occ desc")
  }
}

/** Transports for the snk_rest retry tests, top-level so the
  * mkTransport lambdas capture only a path string (a suite-inner class
  * would drag the non-serializable suite instance into the closure). */
object RestTestTransports {
  import graft.sources.RestSink

  /** Fails the first 2 post() calls per instance (= per partition), then
    * delegates — with maxAttempts=3 every batch lands exactly once. */
  class Flaky(dir: String, pid: Int, attempt: Long)
      extends RestSink.FileTransport(dir, pid, attempt) {
    private var fails = 2
    override def post(batch: Seq[String]): Unit = {
      if (fails > 0) { fails -= 1; throw new java.io.IOException("503") }
      super.post(batch)
    }
  }

  /** Permanently down endpoint. */
  class Down(dir: String, pid: Int, attempt: Long)
      extends RestSink.FileTransport(dir, pid, attempt) {
    override def post(batch: Seq[String]): Unit =
      throw new java.io.IOException("endpoint down")
  }
}
