package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edge cases of the ingest funnel's probe kernels
  * ([[graft.functions.StandingProbe]]). Every case is checked twice: against
  * hand-computed counts and verdicts, and row-for-row against the join
  * spelling the kernels replaced (kept below as the reference twin — the
  * same arithmetic the DuckDB oracle spells in SQL). */
class StandingProbeSpec extends graft.SparkSuite {

  private val featSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("h", StringType),
    StructField("sh", ArrayType(StringType, containsNull = true)),
    StructField("chunks", ArrayType(StringType, containsNull = true))))

  /** Featurized rows (doc_id, h, sh, chunks); a null Seq is a null array. */
  private def feat(rows: (Long, String, Seq[String], Seq[String])*): DataFrame = {
    def arr(xs: Seq[String]) = if (xs == null) null else xs.toArray
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, h, sh, ch) =>
        Row(id, h, arr(sh), arr(ch)) }: _*),
      featSchema)
  }

  /** The pre-kernel spelling of Dedup.ingestVerdicts: bloom words by
    * explode + groupBy, then the incoming side exploded, broadcast-left
    * joined against each structure, re-aggregated and joined back on
    * doc_id. */
  private def joinVerdicts(inc: DataFrame, stand: DataFrame): DataFrame = {
    val m = Dedup.BloomWords * 62
    def wordMask(df: DataFrame) = df
      .select(col("doc_id"), col("tok"),
              explode(expr(s"""transform(sequence(0, 3), k ->
                tid60(concat(tok, '#', CAST(k AS STRING))) % ${m}L)""")).as("idx"))
      .select(col("doc_id"), col("tok"), expr("idx div 62").as("word"),
              expr("shiftleft(1L, CAST(idx % 62 AS INT))").as("mask"))
    val standH = stand.select(col("h").as("h_old")).distinct()
    val bloom = wordMask(stand.select(col("doc_id"), explode(col("sh")).as("tok")))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val standC = stand.select(explode(col("chunks")).as("chunk"))
      .select(md5(col("chunk")).as("ch_old")).distinct()
    val maybe = wordMask(inc.select(col("doc_id"), explode(col("sh")).as("tok")))
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy(col("doc_id"), col("tok"))
      .agg(min(when(expr("bits is not null and (bits & mask) = mask"), 1)
               .otherwise(0)).as("hit"))
      .groupBy(col("doc_id")).agg(sum(col("hit")).cast("long").as("n_maybe"))
    val cdc = inc.select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .withColumn("ch", md5(col("chunk")))
      .join(broadcast(standC), col("ch") === col("ch_old"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("ch_old").isNotNull, 1L).otherwise(0L)).as("n_shared"))
    inc.select(col("doc_id"), col("h"), size(col("sh")).cast("long").as("n_sh"))
      .join(broadcast(standH), col("h") === col("h_old"), "left")
      .join(maybe, Seq("doc_id"), "left")
      .join(cdc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
              coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
              coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
              coalesce(col("n_shared"), lit(0L)).as("n_shared"),
              when(col("h_old").isNotNull, "exact_dup")
                .when(coalesce(col("n_maybe"), lit(0L)) === 0, "novel_fastpath")
                .when(coalesce(col("n_shared"), lit(0L)) * 2 >=
                      coalesce(col("n_chunks"), lit(0L)), "cdc_dup")
                .otherwise("admitted").as("verdict"))
      .withColumn("admitted", col("verdict").isin("novel_fastpath", "admitted"))
  }

  /** Kernel verdicts == the twin's rows, and == `expected` as
    * doc_id -> (n_maybe, n_chunks, n_shared, verdict). */
  private def check(inc: DataFrame, stand: DataFrame,
                    expected: Map[Long, (Long, Long, Long, String)]): Unit = {
    val idx = Dedup.standingIndexOf(stand)
    try {
      val got = Dedup.ingestVerdicts(inc, idx)
      assertSameRows(got, joinVerdicts(inc, stand))
      val rows = got.collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_maybe"), r.getAs[Long]("n_chunks"),
          r.getAs[Long]("n_shared"), r.getAs[String]("verdict")))
      }.toMap
      assert(rows == expected, s"kernel verdicts $rows != hand-computed $expected")
    } finally idx.release()
  }

  private val standing = feat(
    (0L, "h-old", Seq("a b c", "b c d", "c d e"), Seq("a b c d", "e f")),
    (2L, null, null, null))

  test("empty standing corpus: nothing is a dup, every doc takes the fastpath") {
    check(feat((1L, "h-old", Seq("a b c", "b c d"), Seq("a b c d", "e f"))),
          feat(),
          Map(1L -> ((0L, 2L, 0L, "novel_fastpath"))))
  }

  test("null text: null h/sh/chunks give no hit, counts of 0, and no exact match " +
       "against a standing null hash") {
    // the standing side holds a null-text doc too: NULL must not match NULL
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, null), Row(3L, null)),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val f = Dedup.featurize(docs)
    assert(f.filter(col("h").isNotNull || col("sh").isNotNull || col("chunks").isNotNull)
      .count() == 0, "featurize of a null text must give null h, sh and chunks")
    check(f.filter(col("doc_id") === 3L),
          standing.unionByName(f.filter(col("doc_id") === 2L)),
          Map(3L -> ((0L, 0L, 0L, "novel_fastpath"))))
  }

  test("fewer than 3 tokens: empty shingles take the fastpath even with shared chunks") {
    val two = spark.createDataFrame(java.util.Arrays.asList(Row(5L, "E F")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Dedup.featurize(two).select(size(col("sh"))).head().getInt(0) == 0,
      "a 2-token doc must featurize to an empty shingle array")
    check(feat((5L, "h-5", Seq(), Seq("e f"))),
          standing,
          Map(5L -> ((0L, 1L, 1L, "novel_fastpath"))))
  }

  test("repeated chunks count per occurrence; repeated and null tokens count once / never") {
    check(feat((7L, "h-7", Seq("a b c", "a b c", null), Seq("a b c d", "a b c d", "x y")),
               (9L, "h-9", Seq("b c d", "z z z"), Seq("a b c d", "x y", "y z")),
               (11L, "h-old", Seq("a b c"), Seq("x y"))),
          standing,
          Map(7L -> ((1L, 3L, 2L, "cdc_dup")),
              9L -> ((1L, 3L, 1L, "admitted")),
              11L -> ((1L, 1L, 0L, "exact_dup"))))
  }

  test("one projection: no join, no exchange, no ScalaUDF; interpreted == codegen") {
    // through parquet: over a local relation the optimizer would fold the
    // whole projection at plan time (ConvertToLocalRelation)
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString
    feat((7L, "h-7", Seq("a b c", "q r s"), Seq("a b c d", "x y")),
         (8L, null, null, null)).write.parquet(s"$dir/inc")
    val inc = spark.read.parquet(s"$dir/inc")
    val idx = Dedup.standingIndexOf(standing)
    try {
      val v = Dedup.ingestVerdicts(inc, idx)
      val p = v.queryExecution.executedPlan.toString
      assert(!p.contains("Join") && !p.contains("Exchange") && !p.contains("ScalaUDF"),
        s"verdicts must be a single projection:\n$p")
      Seq("probe_exact", "probe_maybe", "probe_shared").foreach(k =>
        assert(p.contains(k), s"$k kernel missing from the plan:\n$p"))
      val codegen = rowSet(v)
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        assert(rowSet(Dedup.ingestVerdicts(inc, idx)) == codegen,
          "interpreted eval disagrees with generated code")
      } finally saved.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    } finally idx.release()
  }
}
