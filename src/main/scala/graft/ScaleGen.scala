package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: replicate the driver fixture ×N with
  * perturbed keys, so the scale-exponent check (scripts/scale_check.py)
  * can measure the heaviest keys ABOVE Spark's fixed job floor — the r7
  * verdict's top item ("the r7 table is overhead-bound, proving nothing
  * about the data-proportional term").
  *
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 target/scaledata/sf1 10"
  *
  * Replication is keyed so WORK scales linearly where the operator's
  * semantics are linear, and only grows faster where the declared output
  * itself does (which the adjudication table in BASELINE.md then has to
  * call out, not hide):
  *
  *  - dims (region/nation) copy as-is — FK targets stay valid;
  *  - fact keys shift by `replica × stride`, where the stride for each
  *    KEY DOMAIN is max+1 over the table that OWNS the domain (customer
  *    drives every *custkey, part every *partkey, supplier every
  *    *suppkey, orders every *orderkey). Computing strides per-column
  *    from each table's own max would break FKs whenever a dim key is
  *    unreferenced by the fact table (standard TPC-H leaves ~1/3 of
  *    custkeys orderless, so max(o_custkey) can sit below
  *    max(c_custkey)): replica r's o_custkey would then land in replica
  *    r-1's customer range or in no range at all. With domain strides,
  *    replica r's orders reference replica r's customers and lineitem
  *    baskets/groups keep their ORIGINAL sizes — a group-quadratic plan
  *    (C(k,2) basket explode, per-group window) sees 10× more groups of
  *    the same size, never 10×-bigger groups;
  *  - `documents.text` tags every token with the replica id (`tok~r`),
  *    making replica shingle vocabularies disjoint: near-dup pairs exist
  *    only within a replica, so the true pair set grows ×N (linear),
  *    not ×N² (which identical copies would force — at which point the
  *    measurement would grade the OUTPUT's quadratic growth, not the
  *    plan's). Shingle df per replica is unchanged — posting-list
  *    group sizes hold, posting count grows ×N;
  *  - `embeddings` get a deterministic ±1e-3 sin perturbation per
  *    replica (no RNG — reruns are bit-identical) so no two replicas
  *    are exact duplicates of one vector.
  *
  * Everything is one declarative plan per table: broadcast the N-row
  * replica range, crossJoin (explicitly a broadcast nested loop over a
  * tiny side — the one legitimate crossJoin shape), project perturbed
  * columns, write. No driver-side loops over data. */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(s"${sys.props("user.dir")}/target/scaledata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local()
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Session-injected core (ScaleGenSpec drives it on the shared test
    * session; main owns session lifecycle). */
  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    Tables.configure(spark)

    val replicas = broadcast(
      spark.range(factor.toLong).select(col("id").cast("long").as("r")))

    /** Stride for a key DOMAIN: max+1 over the column of the table that
      * owns the domain (the referenced dim/parent, never the referencing
      * fact). Cast to long so int32-keyed fixtures don't CCE. */
    def domainStride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0) + 1L

    /** Replicate `df` ×factor, shifting each column per `strides`
      * (column → domain stride). */
    def replicate(df: DataFrame, strides: Map[String, Long]): DataFrame = {
      // Map-side parallelism guard (r15): the source fixture is a few MB,
      // so files.maxPartitionBytes hands it ONE input split — and the
      // broadcast crossJoin inherits that, funneling factor x the source
      // through a single task (observed at factor 1000: the lineitem map
      // task ran ~28 min on one thread while 31 cores idled). A cheap
      // pre-shuffle of the small source buys factor-independent width.
      val wide = df.repartition(32)
      // keep `r` so callers can derive replica-dependent columns; write()
      // drops it
      val rep = wide.crossJoin(replicas)
      rep.select(col("r") +: df.columns.map {
        case c if strides.contains(c) => (col(c) + col("r") * strides(c)).as(c)
        case c => col(c)
      }.toSeq: _*)
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.drop("r").repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    val t0 = System.nanoTime()
    // dims: copy as-is (FK targets of *_nationkey / *_regionkey)
    write(spark.read.parquet(s"$src/region.parquet"), "region", 1)
    write(spark.read.parquet(s"$src/nation.parquet"), "nation", 1)

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part     = spark.read.parquet(s"$src/part.parquet")
    val orders   = spark.read.parquet(s"$src/orders.parquet")
    val events   = spark.read.parquet(s"$src/events.parquet")
    // one stride per key DOMAIN, owned by the referenced table — o_custkey
    // shifts by the CUSTOMER stride, l_partkey/l_suppkey by part/supplier,
    // l_orderkey by orders, so FKs stay replica-local even when the fact
    // table references only a subset of the dim's keys
    val custStride  = domainStride(customer, "c_custkey")
    val suppStride  = domainStride(supplier, "s_suppkey")
    val partStride  = domainStride(part, "p_partkey")
    val orderStride = domainStride(orders, "o_orderkey")
    val userStride  = domainStride(events, "user_id")

    write(replicate(customer, Map("c_custkey" -> custStride)), "customer", 4)
    write(replicate(supplier, Map("s_suppkey" -> suppStride)), "supplier", 1)
    write(replicate(part, Map("p_partkey" -> partStride)), "part", 4)
    write(replicate(orders, Map("o_orderkey" -> orderStride,
                                "o_custkey" -> custStride)), "orders", 8)
    write(replicate(spark.read.parquet(s"$src/lineitem.parquet"),
                    Map("l_orderkey" -> orderStride,
                        "l_partkey" -> partStride,
                        "l_suppkey" -> suppStride)), "lineitem", 32)
    write(replicate(events, Map("event_id" -> domainStride(events, "event_id"),
                                "user_id" -> userStride)), "events", 8)

    val documents = spark.read.parquet(s"$src/documents.parquet")
    val docs = replicate(documents,
                         Map("doc_id" -> domainStride(documents, "doc_id")))
      // replica 0 keeps the original text; replicas tag every token so
      // their shingle vocabularies are disjoint from every other replica
      .withColumn("text", when(col("r") === 0, col("text")).otherwise(
        expr("concat_ws(' ', transform(split(text, ' '), " +
             "t -> concat(t, '~', CAST(r AS STRING))))")))
      .withColumn("n_chars", length(col("text")))
    write(docs, "documents", 8)

    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    val embs = replicate(embeddings,
                         Map("vec_id" -> domainStride(embeddings, "vec_id")))
      .withColumn("embedding", expr(
        // deterministic, replica-indexed jitter; r=0 stays bit-identical
        """transform(embedding, (x, j) ->
             CAST(x + CAST(r AS DOUBLE) * 1e-3 *
                  sin(CAST(vec_id AS DOUBLE) + CAST(j AS DOUBLE)) AS FLOAT))"""))
    write(embs, "embeddings", 4)

    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"scalegen":"done","src":"$src","out":"$out","factor":$factor,"sec":${math.round(sec)}}""")
  }
}
