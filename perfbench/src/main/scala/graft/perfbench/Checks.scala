package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** Output checks, all outside the timed passes.
  *
  *  - a key with a DuckDB oracle is written as parquet under `dir`, with
  *    its SQL in `oracle_sql.json`: the layout `scripts/precheck.py` reads;
  *  - every other call gets a row count and an order-insensitive digest,
  *    which must equal the one recorded for the same input under another
  *    seed;
  *  - the stream's micro-batch outputs, taken together, must equal the
  *    one-shot `llm_ingest_e2e` rows (same count and digest). */
final class Checks(dir: String) {
  private val oracle = mutable.LinkedHashMap.empty[String, String]
  private val digests = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private var union: Map[String, Any] = Map.empty

  /** Keep a call's output for checking: this is the call's consumer in
    * the warm-up pass. */
  def keep(st: Step, df: DataFrame): Unit = st.oracle match {
    case Some(sql) =>
      df.write.parquet(s"$dir/${st.name}")
      oracle(st.name) = sql
    case None => digests(st.name) = Checks.digest(df)
  }

  def stream(s: SparkSession, dataDir: String, outputs: Seq[String]): Unit = {
    require(outputs.nonEmpty, "the stream wrote no micro-batch output")
    graft.functions.Custom.register(s)
    val expected = graft.Registry.byName("llm_ingest_e2e").fn(s, dataDir)
    val streamed = s.read.parquet(outputs: _*)
      .select(expected.columns.toSeq.map(c => col(s"`$c`")): _*)
    val got = Checks.digest(streamed)
    val want = Checks.digest(expected)
    digests("ingest_funnel") = got
    union = Map("streamed" -> got, "expected" -> want, "equal" -> (got == want))
  }

  def result(): Map[String, Any] = {
    Json.write(new File(s"$dir/oracle_sql.json"), oracle)
    Map("oracle" -> oracle.keys.toSeq, "digests" -> digests, "stream_union" -> union)
  }
}

object Checks {
  /** Row count and the exact sum of per-row 64-bit hashes. Doubles are
    * hashed at 12 significant digits, so a value whose last bits depend on
    * the order rows met in a shuffle does not read as a wrong answer. */
  def digest(df: DataFrame): Map[String, Any] = {
    val canon = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.12g", c)
        case _: MapType | _: ArrayType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val h = if (canon.isEmpty) lit(0L) else xxhash64(canon: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Map("rows" -> r.getLong(0),
        "hash" -> Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
