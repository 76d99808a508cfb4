package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins KEYS.md (the generated as-built inventory) against Registry.all —
  * the r9 VERDICT drift: late keys existed only in SURVEY prose because
  * nothing failed when the hand-written tables fell behind. Now a key
  * added/removed/re-oracled without `scripts/gen_keys.py` fails here. */
class KeysSpec extends AnyFunSuite {

  private val Row =
    """^\| (\S+) \| (\S+) \| (duckdb|rows-only) \| (yes|-) \|$""".r

  private def read(path: String): String = {
    // explicit UTF-8: the test JVM's default charset is not guaranteed,
    // and KEYS.md carries em dashes
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.mkString finally src.close()
  }

  /** (key, defining file, has a DuckDB oracle) per row of the keys table. */
  private lazy val rows: Seq[(String, String, Boolean)] =
    read("KEYS.md").linesIterator.collect {
      case Row(k, file, oracle, _) => (k, file, oracle == "duckdb")
    }.toSeq

  test("KEYS.md rows match Registry.all exactly (run scripts/gen_keys.py after adding keys)") {
    val rows = this.rows.map { case (k, _, o) => k -> o }.toMap

    val reg = Registry.all.map { case (k, q) => k -> q.oracle.isDefined }.toMap
    val missing = reg.keySet -- rows.keySet
    val stale = rows.keySet -- reg.keySet
    assert(missing.isEmpty && stale.isEmpty,
      s"KEYS.md drift — missing: ${missing.toSeq.sorted.take(10)}, " +
        s"stale: ${stale.toSeq.sorted.take(10)} (regenerate: scripts/gen_keys.py)")
    val wrongOracle = reg.collect {
      case (k, o) if rows(k) != o => k }
    assert(wrongOracle.isEmpty,
      s"KEYS.md oracle flags stale for: ${wrongOracle.toSeq.sorted.take(10)}")
    assert(rows.size == reg.size)
  }

  test("each KEYS.md row names the file that defines its key") {
    val wrong = rows.groupBy(_._2).toSeq.flatMap { case (file, rs) =>
      val text = read(file)
      rs.collect { case (k, _, _) if !text.contains("\"" + k + "\" -> Q(") => s"$k @ $file" }
    }
    assert(rows.nonEmpty && wrong.isEmpty,
      s"KEYS.md defining files stale for: ${wrong.take(10)} (regenerate: scripts/gen_keys.py)")
  }
}
