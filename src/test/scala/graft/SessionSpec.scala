package graft

import graft.functions.{Custom, GraftExtensions}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import scala.collection.mutable.ArrayBuffer

/** The session install: what a session needs before a key runs is
  * decided in one place ([[Tables.configure]], applied by [[Q.fn]]), and
  * the cluster packaging ([[GraftExtensions]]) installs the same thing. */
class SessionSpec extends SparkSuite {

  private def functionNames(s: SparkSession): Set[String] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .functionRegistry.listFunction().map(_.funcName).toSet

  test("GraftExtensions injects exactly the functions Custom.register installs, " +
       "plus the KernelSubstitution rule") {
    // ...and the TopKStrategy planner: the whole install list, no more
    val bare = spark.newSession()
    val builtin = functionNames(bare)
    val registered = functionNames(Custom.register(bare)) -- builtin
    val injected = ArrayBuffer.empty[String]
    val rules = ArrayBuffer.empty[Rule[LogicalPlan]]
    val strategies = ArrayBuffer.empty[SparkStrategy]
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
      override def injectOptimizerRule(b: SparkSession => Rule[LogicalPlan]): Unit = {
        rules += b(spark)
        super.injectOptimizerRule(b)
      }
      override def injectPlannerStrategy(b: SparkSession => SparkStrategy): Unit = {
        strategies += b(spark)
        super.injectPlannerStrategy(b)
      }
    }
    new GraftExtensions()(ext)
    assert(injected.distinct.size == injected.size, s"injected twice: $injected")
    assert(injected.toSet == registered,
      s"injected ${injected.size} ${injected.sorted} != registered " +
        s"${registered.size} ${registered.toSeq.sorted}")
    assert(rules.toSeq == GraftExtensions.rules)
    assert(strategies.toSeq == GraftExtensions.strategies)
  }

  test("key contract: every key builds and analyses on a bare new session " +
       "with no install by the caller") {
    val failures = ArrayBuffer.empty[(String, String)]
    Registry.all.foreach { case (key, q) =>
      val bare = spark.newSession()
      val present = Custom.functions.map(_._1).filter(bare.catalog.functionExists)
      assert(present.isEmpty, s"$key: a new session already has $present")
      try q.fn(bare, sf).queryExecution.assertAnalyzed()
      catch { case e: Throwable => failures += key -> String.valueOf(e.getMessage) }
    }
    assert(failures.isEmpty,
      s"${failures.size} key(s) need a caller install: ${failures.take(5).mkString("; ")}")
  }

  test("Tables.configure is idempotent and installs the whole function table") {
    val bare = spark.newSession()
    assert(!Custom.registered(bare))
    Tables.configure(bare)
    assert(Custom.functions.map(_._1).forall(bare.catalog.functionExists))
    assert(bare.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(bare.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(bare.conf.get("fs.AbstractFileSystem.file.impl") == classOf[graft.io.LocalFs].getName)
    assert(bare.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    // each rule and strategy of the list runs exactly once per
    // optimization and planning, however often the install ran
    val state = bare.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    def installed = (state.optimizer.defaultBatches.flatMap(_.rules)
      .filter(GraftExtensions.rules.contains),
      state.planner.strategies.filter(GraftExtensions.strategies.contains))
    assert(installed == (GraftExtensions.rules, GraftExtensions.strategies))
    val before = functionNames(bare)
    Tables.configure(bare)
    assert(functionNames(bare) == before)
    assert(installed == (GraftExtensions.rules, GraftExtensions.strategies))
  }

  test("engine sessions share one executor class loader, so a query run " +
       "in a second session compiles nothing again") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Encoders
    val sessions = Seq.fill(2)(Tables.configure(spark.newSession()))
    val loaders = sessions.map { s =>
      s.range(0, 8, 1, 4).mapPartitions(_ =>
        Iterator(System.identityHashCode(Thread.currentThread.getContextClassLoader))
      )(Encoders.scalaInt).collect().toSet
    }
    assert(loaders.forall(_.size == 1) && loaders.distinct.size == 1,
      s"task class loaders per session: $loaders")
    def run(s: SparkSession): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Bench.consume(s.range(0, 1000, 1, 4)
        .selectExpr("id % 7 AS k", "id * 3 AS v").groupBy("k").sum("v"))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run(sessions.head)
    assert(run(sessions(1)) == 0)
  }

  test("Bench.time consumes the malformed-source keys' full output with no " +
       "fallback, and a key that throws is never a time") {
    // count() pruned these scans down to _corrupt_record alone, a plan
    // Spark rejects; the full-output consume keeps the real columns
    Seq("src_csv_malformed", "src_json_malformed").foreach { k =>
      assert(Bench.time(spark, sf, k, SparkEntry.queries(k)).isDefined, k)
    }
    assert(Bench.time(spark, sf, "boom",
      (_, _) => throw new IllegalStateException("boom")).isEmpty)
    // a frame that fails only when executed is not a time either
    assert(Bench.time(spark, sf, "boom_at_run",
      (s, _) => s.range(1).selectExpr("raise_error('boom') AS x")).isEmpty)
  }
}
