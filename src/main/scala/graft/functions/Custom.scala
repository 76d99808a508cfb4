package graft.functions

import graft.{Q, Tables}
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SURVEY §2j — the engine's custom-extension surface: scalar UDF, typed
  * `Aggregator` UDAF, generator/UDTF, and one native Catalyst `Expression`
  * with whole-stage codegen. Everything else in this engine rides on
  * built-ins (SURVEY §7.3); these four exist to prove each extension
  * mechanism with a real, oracle-checked operator. */
object Custom {

  // -------------------------------------------------------------------
  // expr_cosine: native codegen cosine kernel
  // -------------------------------------------------------------------

  /** cosine_sim(array<float>, array<float>) → double as a native Catalyst
    * expression participating in whole-stage codegen — no UDF serde, no
    * boxing, a tight primitive loop in the generated Java.
    *
    * Numeric parity (must stay bit-identical to the `zip_with`+`aggregate`
    * fold in [[graft.llm.Similarity]] and to DuckDB's `list_sum` — all
    * three fold doubles sequentially in element order): floats are widened
    * to double before multiplying (exact — 24-bit mantissas fit 53), and
    * each accumulator (`dot`, `nx`, `ny`) sees the same additions in the
    * same order as the built-in formulation. */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = super.checkInputDataTypes()
    override def prettyName: String = "cosine_sim"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toFloatArray()
      val ys = b.asInstanceOf[ArrayData].toFloatArray()
      val n = math.min(xs.length, ys.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xi = xs(i).toDouble; val yi = ys(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        s"""
           |float[] $xs = $a.toFloatArray();
           |float[] $ys = $b.toFloatArray();
           |int $n = Math.min($xs.length, $ys.length);
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double xi = (double) $xs[$i]; double yi = (double) $ys[$i];
           |  $dot += xi * yi; $nx += xi * xi; $ny += yi * yi;
           |}
           |${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The engine's native function table: every name a query body or a
    * user's SQL may call. [[register]] installs it per session and
    * [[GraftExtensions]] injects it cluster-wide, so the two cannot
    * drift apart. */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    ("cosine_sim", es => CosineSim(es(0), es(1))),
    ("vec_dot", es => Sketches.DotProduct(es(0), es(1))),
    ("simhash32", es => Sketches.SimHash32(es(0))),
    ("minhash16", es => Sketches.MinHash16(es(0))),
    ("shingles3", es => Sketches.Shingles3(es(0))),
    ("hll_distinct", es => HyperLogLogAgg(es(0)).toAggregateExpression()),
    ("hll_sketch", es => HllSketchAgg(es(0)).toAggregateExpression()),
    ("hll_merge_est", es => HllMergeAgg(es(0)).toAggregateExpression()),
    ("tid60", es => Sketches.Tid60(es(0))),
    ("jaro_winkler", es => Sketches.JaroWinkler(es(0), es(1))),
    ("bkq_median", es => BottomKMedianAgg(es(0)).toAggregateExpression()))

  /** Registers [[functions]] in the session's function registry
    * (idempotent). Sessions get it from [[Tables.configure]], the one
    * install every key and the streaming micro-batch clone pass
    * through ([[Q.fn]]). */
  def register(spark: SparkSession): SparkSession = {
    val reg = registry(spark)
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark
  }

  /** One registry lookup: is [[functions]]' last entry present? A
    * registration cut short reads as absent and is redone. */
  def registered(spark: SparkSession): Boolean =
    registry(spark).functionExists(FunctionIdentifier(functions.last._1))

  private def registry(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  // -------------------------------------------------------------------
  // udaf_topk: bounded top-k heap Aggregator
  // -------------------------------------------------------------------

  /** Bounded top-k per group: the scalable alternative to sort-everything
    * — each partial buffer holds ≤ k entries, so the shuffle carries
    * O(groups·k) bytes regardless of input size (the property that makes
    * per-group top-k viable at 100 TB; a window row_number() shuffles and
    * sorts every row). Ordered by (value desc, key asc) — the unique key
    * tiebreak keeps the result deterministic over duplicate values. */
  class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[Long]] {
    private val ord: Ordering[(Double, Long)] =
      Ordering.by[(Double, Long), (Double, Long)] { case (v, id) => (-v, id) }
    override def zero: Seq[(Double, Long)] = Nil
    override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      (a +: b).sorted(ord).take(k)
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (a ++ b).sorted(ord).take(k)
    override def finish(r: Seq[(Double, Long)]): Seq[Long] = r.map(_._2)
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  // -------------------------------------------------------------------
  // udf_scalar: validator/extractor UDFs
  // -------------------------------------------------------------------

  /** Payload validator in the reference's ID-validation shape — a strict
    * regex gate over a string column, as a registered Scala UDF. */
  private val propsShape = """\{"k": \d+\}"""

  val qs: Seq[(String, Q)] = Seq(

    // Scalar-UDF surface: validate the events JSON payload shape and
    // extract its integer, as registered UDFs. The oracle re-expresses the
    // same predicate/extraction as SQL regex — semantics, not mechanism.
    "udf_scalar" -> Q(
      (s, dir) => {
        val validProps = udf((p: String) => p != null && p.matches(propsShape))
        val extractK = udf((p: String) =>
          "\\d+".r.findFirstIn(if (p == null) "" else p).map(_.toInt).getOrElse(-1))
        s.udf.register("graft_valid_props", validProps)
        s.udf.register("graft_extract_k", extractK)
        Tables.events(s, dir)
          .filter(validProps(col("props")))
          .withColumn("k", extractK(col("props")))
          .filter(col("k") >= 50)
          .select(col("event_id"), col("event_type"), col("k"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type,
                     CAST(regexp_extract(props, '[0-9]+') AS INT) AS k
              FROM events
              WHERE regexp_matches(props, '^\{"k": [0-9]+\}$')
                AND CAST(regexp_extract(props, '[0-9]+') AS INT) >= 50
              ORDER BY event_id""")),

    // Typed-Aggregator UDAF surface: top-3 orders by totalprice per
    // priority class via the bounded-heap aggregator. The key array is
    // DECLARED as a comma-joined string (driver's comparator can't
    // sort/hash ndarray cells — round-1 `err` class).
    "udaf_topk" -> Q(
      (s, dir) => {
        val top3 = udaf(new TopKAgg(3))
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top_keys_arr"))
          .select(col("o_orderpriority"),
                  expr("concat_ws(',', transform(top_keys_arr, x -> CAST(x AS STRING)))")
                    .as("top_keys"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
                     array_to_string(
                       (array_agg(CAST(o_orderkey AS VARCHAR)
                                  ORDER BY o_totalprice DESC, o_orderkey))[1:3], ',')
                       AS top_keys
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // Generator/UDTF surface: one doc row → (pos, token) rows. Built-in
    // posexplode IS the engine's generator surface (SURVEY §7.3); oracle
    // is DuckDB's zipped-unnest (same-length unnests zip row-wise).
    "udtf_gen" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
                posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
        .orderBy(col("doc_id"), col("pos")),
      Some("""SELECT doc_id,
                     unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 20
              ORDER BY doc_id, pos""")),

    // Mergeable quantile sketch (bottom-k-by-md5 uniform sample, k=256,
    // see [[BottomKMedianAgg]]). Because the sample is a deterministic
    // function of the value multiset, the DuckDB oracle reproduces the
    // SAME sketch in SQL (ROW_NUMBER over the identical hash order,
    // LIMIT k, identical disc-median element) — the estimate is pinned
    // bit-for-bit, not by a tolerance bool.
    "udaf_quantile_sketch" -> Q(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(expr("bkq_median(l_extendedprice)").as("est_median"),
               count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH s AS (
                SELECT l_returnflag, l_extendedprice,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY
                         ('0x' || substr(md5(CAST(CAST(round(l_extendedprice * 100)
                                                      AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT,
                         l_extendedprice) AS rn
                FROM lineitem),
                   k AS (SELECT l_returnflag, l_extendedprice FROM s WHERE rn <= 256),
                   n AS (SELECT l_returnflag, COUNT(*) AS n_rows
                         FROM lineitem GROUP BY 1)
              SELECT k.l_returnflag AS l_returnflag,
                     quantile_disc(k.l_extendedprice, 0.5) AS est_median,
                     MIN(n.n_rows) AS n_rows
              FROM k JOIN n ON k.l_returnflag = n.l_returnflag
              GROUP BY 1 ORDER BY 1""")),

    // TypedImperativeAggregate surface: the from-scratch HLL sketch
    // ([[HyperLogLogAgg]]) beside its exact anchor, oracled like
    // q_agg_approx_distinct — the estimate itself is algorithm-internal,
    // so the DECLARED columns are the exact count plus a within-3·rsd
    // boolean (deterministic: xxhash64 seed 42, max-merge registers).
    // NOTE the oracle's TRUE is an EMPIRICAL constant for the current
    // fixtures, not a guarantee: 3·rsd (~4.9% at p=12) is a probabilistic
    // bound, and the measured error on every fixture group is <1.5% —
    // >3x headroom. If a fixture regeneration ever flips this key red,
    // suspect the data changed, then the estimator; the deterministic
    // seed means the estimate for a GIVEN group never varies run-to-run.
    "udaf_hll" -> Q(
      (s, dir) => {
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("n_exact"),
               expr("hll_distinct(o_custkey)").as("est"))
          .select(col("o_orderpriority"), col("n_exact"),
                  (abs(col("est") - col("n_exact")).cast("double") / col("n_exact")
                     <= 3 * HyperLogLogAgg.Rsd).as("within_bound"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact,
                     TRUE AS within_bound
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Re-aggregatable sketch rollup: per-(priority, status) HLL cells
    // (hll_sketch → 4 KB binary), rolled up to priority by register-max
    // merge (hll_merge_est). The oracle pins BOTH invariants the 100 TB
    // cube story rests on: the merged estimate equals the direct
    // hll_distinct over the raw column bit-for-bit (associativity —
    // merged_eq_direct), and it lands within 3·rsd of exact. At scale
    // the cells are written once and every coarser rollup reads
    // O(cells · 4 KB), never the fact table.
    "udaf_hll_merge" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val cells = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(expr("hll_sketch(o_custkey)").as("sk"))
        val merged = cells.groupBy(col("o_orderpriority"))
          .agg(expr("hll_merge_est(sk)").as("est_merged"))
        val direct = o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("n_exact"),
               expr("hll_distinct(o_custkey)").as("est_direct"))
        merged.join(direct, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("n_exact"),
                  (col("est_merged") === col("est_direct")).as("merged_eq_direct"),
                  (abs(col("est_merged") - col("n_exact")).cast("double") / col("n_exact")
                     <= 3 * HyperLogLogAgg.Rsd).as("within_bound"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact,
                     TRUE AS merged_eq_direct, TRUE AS within_bound
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Sketch algebra over a SLIDING calendar window — trailing-7-day
    // distinct users per day off the PRE-AGGREGATED daily sketch table:
    // the production shape for "rolling uniques" dashboards at 100 TB
    // (daily 4 KB cells written once by the ingest job; every window,
    // rollup, or backfill is register-max merges over O(days) cells and
    // NEVER re-touches the fact table — the udaf_hll_merge invariant
    // made load-bearing). The merge window is a RANGE frame on the day
    // number, so calendar gaps shorten the frame instead of silently
    // widening it (a ROWS frame would span 7 PRESENT days). The oracle
    // contract is udaf_hll's: the declared columns are the exact
    // trailing count (computed by the offsets-explode expansion — one
    // linear ×7 shuffle, the exact-sliding-distinct trick) plus the
    // deterministic within-3·rsd boolean; the estimate itself stays
    // algorithm-internal.
    "q_hll_sliding" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        val daily = ev.groupBy(col("day"))
          .agg(expr("hll_sketch(user_id)").as("sk"))
          .withColumn("day_num", expr(
            "datediff(CAST(day AS DATE), DATE'1970-01-01')").cast("long"))
        val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
        val est = daily
          .withColumn("est", expr("hll_merge_est(sk)").over(w))
          .select(col("day"), col("est"))
        val exact = ev.distinct()
          .select(explode(expr("sequence(0, 6)")).as("off"),
                  col("day"), col("user_id"))
          .select(expr("timestampadd(DAY, off, day)").as("day"), col("user_id"))
          .distinct()
          .join(daily.select(col("day")), Seq("day"), "left_semi")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_exact"))
        exact.join(est, Seq("day"))
          .select(col("day"), col("n_exact"),
                  (abs(col("est") - col("n_exact")).cast("double") / col("n_exact")
                     <= 3 * HyperLogLogAgg.Rsd).as("within_bound"))
          .orderBy(col("day"))
      },
      Some("""WITH p AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id
                         FROM events),
                   days AS (SELECT DISTINCT day FROM p),
                   x AS (SELECT DISTINCT p.day + o * INTERVAL 1 DAY AS day,
                                         p.user_id
                         FROM p CROSS JOIN
                              (SELECT unnest(generate_series(0, 6)) AS o) g)
              SELECT x.day AS day, COUNT(DISTINCT x.user_id) AS n_exact,
                     TRUE AS within_bound
              FROM x SEMI JOIN days ON x.day = days.day
              GROUP BY x.day ORDER BY day""")),

    // Native-Expression surface: per-vector cosine against the vec_id=0
    // query via the codegen kernel — full-scan shape (every ANN variant's
    // inner loop), numerically bit-identical to the built-in fold.
    "expr_cosine" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos", round(expr("cosine_sim(embedding, q_emb)"), 6))
          .filter(col("cos") >= 0.1)
          .select(col("vec_id"), col("label"), col("cos"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
              SELECT vec_id, label, cos FROM (
                SELECT vec_id, label,
                       round(list_sum(list_transform(list_zip(n.embedding, q.q_emb),
                               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                             / (sqrt(list_sum(list_transform(list_zip(n.embedding, n.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                                * sqrt(list_sum(list_transform(list_zip(q.q_emb, q.q_emb),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6) AS cos
                FROM embeddings n, q WHERE vec_id <> 0)
              WHERE cos >= 0.1
              ORDER BY vec_id"""))
  )
}

/** The engine's session extensions, defined once: [[Custom.functions]],
  * the rule [[graft.plans.KernelSubstitution]] (matches only the
  * float-array dot-product fold) and the strategy
  * [[graft.plans.TopKStrategy]] (plans only the node that
  * [[graft.plans.TopK.rewrite]] puts into a frame). [[Tables.configure]]
  * installs them; `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects the same list into a cluster's sessions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
    Custom.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getCanonicalName, name), builder))
    }
  }
}

object GraftExtensions {
  val rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.KernelSubstitution)
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.TopKStrategy)

  /** Adds the list to `spark`, checking before it adds, so a second call
    * adds nothing. */
  def install(spark: SparkSession): SparkSession = {
    if (!Custom.registered(spark)) Custom.register(spark)
    val x = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val newRules = rules.filterNot(x.extraOptimizations.contains)
    if (newRules.nonEmpty) x.extraOptimizations ++= newRules
    val newStrategies = strategies.filterNot(x.extraStrategies.contains)
    if (newStrategies.nonEmpty) x.extraStrategies ++= newStrategies
    spark
  }
}
