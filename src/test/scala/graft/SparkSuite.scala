package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture: one local session per suite, installed once
  * ([[Tables.configure]]: UTC, the ns-hazard conf and the native
  * functions) the same way every real entry point installs it. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  // fixture scale tag (r14): every suite runs sf0.001; pins the suite
  // JVM's fixture tree apart from any concurrent Verify/Bench at other
  // sfs (idempotent — Fixtures.dir latches on first use)
  sys.props("graft.fixtures.sf") = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  val sf: String = "/root/testdata/sf0.001"

  /** MemoryStream and friends need the classic SQLContext. */
  implicit lazy val sqlCtx: org.apache.spark.sql.classic.SQLContext =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext

  override def afterAll(): Unit = {
    // One shared local session across suites (getOrCreate) — don't stop it.
    super.afterAll()
  }

  /** Rows as a set of plain-string tuples — order-insensitive compare for
    * stream-vs-batch equivalence (each side's own ORDER BY would be
    * meaningless across micro-batches). */
  def rowSet(df: DataFrame): Set[Seq[String]] =
    df.collect().toSet[org.apache.spark.sql.Row]
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))

  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val a = rowSet(actual); val e = rowSet(expected)
    val missing = e -- a; val extra = a -- e
    assert(missing.isEmpty && extra.isEmpty,
      s"row sets differ: ${missing.size} missing (e.g. ${missing.take(3)}), " +
        s"${extra.size} extra (e.g. ${extra.take(3)})")
  }
}
