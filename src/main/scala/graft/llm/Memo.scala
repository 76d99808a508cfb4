package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session+dataset-keyed memo for shared PIPELINE STAGES.
  *
  * Several declared queries derive from the same intermediate table (the
  * 3-shingle signature table feeds near/prefix/containment/novelty/
  * dup_degree; the component-label table feeds cluster/survivors). In a
  * real curation DAG those are materialized once and read many times —
  * a pipeline step, not part of any one query. This memo models that:
  * the first consumer in a (session, dataset) computes and pins the
  * stage, later consumers reuse the same DataFrame.
  *
  * The stage MUST be handed in as an eager `localCheckpoint` (or
  * `checkpoint` when the session has a checkpoint dir): a `.cache()`
  * here would register the subtree in CacheManager, which
  * sameResult-substitutes it into every SIBLING query's plan that
  * derives the same shingles — making plan audits order-dependent (the
  * r6-s4 bug) — and has no unpersist point inside a declared query.
  * Checkpointed stages have neither problem: the RDD is owned by the
  * returned DataFrame alone and is GC'd (ContextCleaner) when the memo
  * entry is evicted.
  *
  * Eviction: entries are keyed by (session token, dataset dir, stage
  * name, dataset mtime); computing a stage for a new mtime evicts the
  * superseded entry so a regenerated fixture can't pin stale checkpoint
  * blocks for the JVM's life. */
private[graft] object Memo {

  // Per-key latch (FutureTask installed via putIfAbsent), NOT
  // ConcurrentHashMap.computeIfAbsent and NOT a global synchronized:
  //  - computeIfAbsent throws IllegalStateException("Recursive update")
  //    when a stage's compute itself enters the memo (llm_dedup_cluster's
  //    component stage derives from the near_pairs stage) and the nested
  //    call — or the eviction removeIf — touches the bin being computed.
  //    The crash was INTERMITTENT (keys embed the per-JVM session UUID,
  //    so bin collisions vary run to run) and Bench's then-silent catch
  //    turned it into an impossibly-fast 0.004 s key (r9 finding);
  //  - the r9 fix (global synchronized, reentrant so nesting was safe)
  //    serialized ALL stage builds across concurrent sessions in one JVM.
  // putIfAbsent + run-outside-any-lock has neither problem: the winning
  // caller runs compute on its own thread holding no lock, so nested
  // stage entry for a DIFFERENT key just recurses into this method
  // lock-free (same-key reentrancy would be an infinite recursion under
  // ANY memo design and does not occur — the stage DAG is acyclic), and
  // two threads building different stages proceed concurrently; losers
  // of the putIfAbsent race block only on the one key they asked for.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.FutureTask[DataFrame]]()

  /** Unique per-session token (identityHashCode is NOT unique — a GC'd
    * session's slot can be reused): a UUID minted once and stored in the
    * session's own conf, so the cache key dies with the session. */
  private[graft] def sessionToken(s: SparkSession): String = synchronized {
    val key = "spark.graft.session.token"
    s.conf.getOption(key).getOrElse {
      val t = java.util.UUID.randomUUID().toString
      s.conf.set(key, t); t
    }
  }

  /** Max mtime across ALL of the stage's SOURCE parquets (documents for
    * the text stages; lineitem AND supplier for the graph edge stage) —
    * regenerating ANY input gives a new cache key, and the stale entry
    * (plus its pinned checkpoint blocks) is evicted. A single-table key
    * for a multi-source stage is the stale-checkpoint hazard this very
    * doc warns about: regenerate the secondary table alone and the memo
    * serves the old stage for the JVM's life (r10 ADVICE finding on
    * co_supply_edges). */
  private[graft] def dataVersion(dir: String, tables: Seq[String]): Long =
    tables.map { t =>
      val f = new java.io.File(dir, t)
      val files = if (f.isDirectory) f.listFiles() else Array(f)
      if (files == null || files.isEmpty) 0L else files.map(_.lastModified).max
    }.max

  private[graft] def dataVersion(dir: String,
                                 table: String = "documents.parquet"): Long =
    dataVersion(dir, Seq(table))

  /** Lineage cut for iterative per-round materializations: RELIABLE
    * checkpoint when the session has a checkpoint dir (the real-cluster
    * setting — blocks land on the cluster's fault-tolerant store and
    * survive executor loss), localCheckpoint otherwise (local mode /
    * tests, where executor == driver and reliability adds only a disk
    * round-trip). Unconditional localCheckpoint in a loop pins lineage
    * to EXECUTOR memory: on a real cluster one lost executor kills the
    * whole iterative job — the reason every loop goes through here. */
  private[graft] def cut(s: SparkSession)(df: DataFrame): DataFrame =
    if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The memoized stage: compute-once per (session, dataset, name,
    * data version). `compute` must return an already-materialized
    * (checkpointed) DataFrame — see the class doc. */
  def stage(s: SparkSession, dir: String, name: String,
            table: String = "documents.parquet")
           (compute: => DataFrame): DataFrame =
    stage(s, dir, name, Seq(table))(compute)

  /** Multi-source variant: the cache key carries max(mtime) over every
    * listed table, so regenerating any one input invalidates the stage. */
  def stage(s: SparkSession, dir: String, name: String,
            tables: Seq[String])
           (compute: => DataFrame): DataFrame = {
    val prefix = s"${sessionToken(s)}:$dir:$name:"
    val key = s"$prefix${dataVersion(dir, tables)}"
    val task = new java.util.concurrent.FutureTask[DataFrame](() => compute)
    val prior = cache.putIfAbsent(key, task)
    val winner = if (prior == null) {
      // This thread owns the build. Evict superseded versions of the same
      // (session, dataset, stage) first — removeIf on a CHM never blocks
      // another key's in-flight compute (nothing computes inside the map).
      cache.keySet.removeIf(k => k.startsWith(prefix) && k != key)
      task.run()
      task
    } else prior
    try winner.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      // A failed compute must not be cached as a permanently-poisoned
      // latch: drop the entry so the next caller retries, and surface
      // the real failure (not the ExecutionException wrapper) to Bench's
      // loud-failure path.
      cache.remove(key, winner)
      throw e.getCause
    }
  }

  // NOTE (r15): a diskStage variant (stage semantics in-session, rows
  // persisted cross-JVM in a materializedPath layout) was added by the
  // interrupted build round for near_pairs/pca_topdir and REMOVED here:
  // persisting a computed query intermediate keyed on the fixture mtime
  // lets a later bench/Verify invocation skip work it claims to time —
  // cross-run result caching, prohibited by the optimization round.
  // materializedPath below remains for the WRITE-ONCE FIXTURE LAYOUTS
  // that are themselves the declared operator's data structure (the
  // bucketed ANN lake, the MinHash band index, the bucketed join tables,
  // the lang-partitioned documents, the ingest features).

  /** Write-once MATERIALIZED LAYOUT (the on-disk sibling of [[stage]]):
    * returns a directory containing `write`'s output for this (dataset,
    * name, data version), producing it at most once. The r8 ADVICE race —
    * mode("overwrite") into a shared path on every invocation, so a
    * concurrent reader can observe a half-rewritten lake — is closed by
    * construction: the layout lands in a VERSION-KEYED final path that is
    * only ever created by an atomic directory rename from a private temp
    * dir, never written in place. Concurrent writers race on the rename;
    * the loser discards its temp dir and reads the winner's (the bytes
    * are deterministic from the fixture). A regenerated fixture bumps
    * dataVersion → a fresh path, no stale reads. */
  def materializedPath(s: SparkSession, dir: String, name: String,
                       tables: Seq[String] = Seq("documents.parquet"))
                      (write: String => Unit): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val out = new java.io.File(
      s"${graft.Fixtures.dir}/${name}_${tag}_v${dataVersion(dir, tables)}")
    if (!out.isDirectory) {
      val tmp = new java.io.File(
        out.getParent, s".${out.getName}.tmp-${java.util.UUID.randomUUID}")
      write(tmp.toString)
      try java.nio.file.Files.move(tmp.toPath, out.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException if out.isDirectory =>
        // another writer won the rename: keep theirs, drop ours
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp.toPath).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    out.toString
  }
}
