package graft

import org.apache.spark.sql.functions._

/** Measured recall of the linear mutual-NN plan (llm_mutual_nn_snm,
  * multi-pass sorted-neighborhood, P = 8 projections × W = 24 window —
  * the constants live at the definition site) against the exact banded key
  * (llm_mutual_nn) — the fn_jaro_snm discipline applied to vectors:
  * the exact key is the Σ block² ground truth (adjudicated
  * exact-anchor after the r13c-sf10 e = 1.73 flag), the sibling is the
  * linear production plan, and the recall between them is MEASURED per
  * scale, never assumed. Reported at pair grain: of the exact mutual
  * pairs, how many does SNM also emit (and precision, since SNM's
  * windowed best-candidate can differ from the global best).
  *
  * Usage: runMain graft.MnnRecall <sfDir>
  * Prints one JSON line.
  */
object MnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    sys.props("graft.fixtures.sf") = dir // r14: sf-scoped fixture tree
    val spark = Session.local()

    def pairs(key: String): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = Registry.byName(key).fn(spark, dir)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val (exact, tExact) = pairs("llm_mutual_nn")
    val (snm, tSnm) = pairs("llm_mutual_nn_snm")
    val hit = (exact & snm).size
    val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
    val precision = if (snm.isEmpty) 1.0 else hit.toDouble / snm.size
    println(f"""{"metric":"mnn_recall","dir":"$dir","n_exact":${exact.size},"n_snm":${snm.size},"n_hit":$hit,"recall":$recall%.4f,"precision":$precision%.4f,"t_exact_s":$tExact%.2f,"t_snm_s":$tSnm%.2f}""")
    spark.stop()
  }
}
