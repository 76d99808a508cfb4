package graft

/** Root directory for engine-written fixture layouts (CSV/JSON scan
  * fixtures, bucketed/z-order tables, shard sinks). Derived at runtime —
  * never a hardcoded checkout path — so any clone location writes inside
  * its own `target/`:
  *
  *   1. `-Dgraft.fixtures.dir=...` overrides explicitly (tests / CI);
  *   2. otherwise `<user.dir>/target/graft_fixtures/<sf-tag>`, where the
  *      sf tag comes from the `graft.fixtures.sf` system property every
  *      entry point sets from ITS scale dir before first use
  *      (Verify/Bench/PlanDump/SpillProbe; ScalaTest pins
  *      sf0.001 in SparkSuite).
  *
  * The SF TAG is the r14 hardening: fixture content derives from the
  * builder's sfDir, so two JVMs (or two sequential runs) at DIFFERENT
  * scale factors used to clobber each other's fixtures on the shared
  * path — observed as cross-sf contamination when a test-suite run
  * interleaved with an sf0.1 oracle sweep (src_json comparing sf0.001
  * fixture bytes against an sf0.1 dump). Scoping the root by sf makes
  * every scale's fixtures, layouts and memoized stages disjoint on disk.
  *
  * The same runtime value is interpolated into both the Spark query and
  * its DuckDB oracle SQL (the oracle strings capture it at Registry
  * init, AFTER the entry point set the tag), so the two engines always
  * read identical bytes regardless of where the checkout lives. */
object Fixtures {
  // tag = the scale dir's BASENAME (sf0.001 / sf0.1 / sf1 / sf10), not
  // the full path: plan text truncates scan Locations at ~100 chars and
  // a long tag would push the fixture names the plan audits grep for
  // past the cut. Basenames are distinct across the fixture roots used
  // here; a deployment with colliding basenames can set
  // -Dgraft.fixtures.dir explicitly.
  private def tag: String = sys.props.get("graft.fixtures.sf")
    .map(p => new java.io.File(p).getName
      .replaceAll("[^A-Za-z0-9._-]+", "_").stripPrefix("_"))
    .filter(_.nonEmpty)
    .getOrElse("default")
  val dir: String = sys.props.get("graft.fixtures.dir")
    .getOrElse(s"${sys.props("user.dir")}/target/graft_fixtures/$tag")
}
