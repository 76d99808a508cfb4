package graft

/** Dump `.explain("formatted")` for declared keys — the optimization
  * rounds' evidence artifact (plans/rNN/<key>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [key,key,...]
  * (no keys = every declared key). The session is Bench's
  * ([[Session.local]]), so the dumped plan is the one the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    sys.props("graft.fixtures.sf") = sfDir
    val spark = Session.local()
    val keys: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq
      else Registry.all.map(_._1)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    // stage:<name> pseudo-keys dump the un-memoized stage BUILDER's plan
    // (the memoized stage itself is just a Scan ExistingRDD) — the
    // optimization rounds' evidence for the priced stage line items.
    val stageBuilders: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "stage:near_pairs" -> (() => graft.llm.Dedup.prefixNearPairs(spark, sfDir)),
      "stage:co_supply_edges" ->
        (() => graft.operators.Analytics.coSupplyEdgesPlan(spark, sfDir)))
    def dump(k: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${k.replace(':', '_')}_$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $k")
    }
    keys.filter(_.startsWith("stage:")).foreach { k =>
      stageBuilders.get(k) match {
        case Some(b) =>
          try dump(k, b())
          catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[plandump] $k FAILED: ${e.getMessage}") }
        case None =>
          failed += 1
          System.err.println(s"[plandump] unknown stage: $k")
      }
    }
    keys.filterNot(_.startsWith("stage:")).foreach { k =>
      Registry.byName.get(k) match {
        case Some(q) =>
          try dump(k, q.fn(spark, sfDir))
          catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[plandump] $k FAILED: ${e.getMessage}")
          }
        case None =>
          failed += 1
          System.err.println(s"[plandump] unknown key: $k")
      }
    }
    spark.stop()
    // A run that silently dumped nothing must not look like success —
    // the plans/rNN evidence a round commits depends on these files.
    if (failed > 0) {
      System.err.println(s"[plandump] $failed key(s) failed")
      sys.exit(1)
    }
  }
}
