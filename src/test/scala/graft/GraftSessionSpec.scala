package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's conf resolution, pinned without starting a session:
  * the CLI and Bench defaults match the sessions the benchmark harness
  * (`perfbench/harness/Harness.scala`) builds as their stand-ins, plus
  * [[GraftExtensions]], and every regime script's env yields the conf
  * Verify's own builder produced before GraftSession replaced it, plus
  * the shared keys. One case checks that a built session's optimizer
  * runs the extension's rule.
  */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSession.{BenchLayout, CliLayout, conf}

  /** graft's functions and plan rule, loaded by every session. */
  private val Extensions = Map("spark.sql.extensions" -> "graft.GraftExtensions")

  /** Keys every session carries beyond what a caller used to set. */
  private val Shared = Map(
    "spark.app.name" -> "graft-topic-analyzer",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false") ++ Extensions

  test("no env, CLI layout: Harness.cliSession's keys plus the shared ones") {
    val harnessCli = Map(
      "spark.master" -> "local[*]",
      "spark.app.name" -> "graft-topic-analyzer",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    assert(conf(CliLayout, Map.empty) == harnessCli ++ Shared)
  }

  test("no env, Bench layout: Harness.benchSession's keys and the app name") {
    val harnessBench = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false")
    assert(conf(BenchLayout, Map.empty) ==
      harnessBench + ("spark.app.name" -> "graft-topic-analyzer") ++ Extensions)
  }

  /** What Verify's builder set for every regime before this, on top of
    * which each regime adds its own keys. */
  private def verifyBase(master: String, shuffle: String,
      aqe: String): Map[String, String] = Map(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> shuffle,
    "spark.sql.adaptive.enabled" -> aqe,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  /** The keys Verify sessions gain from the shared conf. */
  private val VerifyGains = Map(
    "spark.app.name" -> "graft-topic-analyzer",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ Extensions

  private val SpillKeys = Map(
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "64,8192",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
    "spark.sql.windowExec.buffer.spill.threshold" -> "262144",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "16",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "262144",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "16",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "262144",
    "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> "16",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "262144",
    "spark.shuffle.spill.numElementsForceSpillThreshold" -> "262144",
    "spark.shuffle.spill.diskWriteBufferSize" -> "65536",
    "spark.unsafe.sorter.spill.read.ahead.enabled" -> "false")

  test("every session loads GraftExtensions: both layouts, every SPARK_GRAFT_* regime") {
    for (layout <- Seq(BenchLayout, CliLayout);
        env <- Map.empty[String, String] +: regimes.map(_._1))
      assert(conf(layout, env).get("spark.sql.extensions")
        .contains("graft.GraftExtensions"), s"$layout $env")
  }

  test("a built session's optimizer runs the window narrowing rule") {
    val spark = SparkSuite.spark
    val optimizer = spark.sessionState.optimizer
    assert(optimizer.extendedOperatorOptimizationRules
      .contains(GraftExtensions.NarrowWindowInputs))
    // the alive-key pass reads `value IS NULL` only: computed under the
    // offset window, the value bytes never reach it
    val rec = sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001")
    val analyzed = operators.AliveKeys.exactFrame(rec).queryExecution.analyzed
    val windows = optimizer.execute(analyzed).collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1)
    assert(!windows.head.child.output.exists(_.name == "value"), windows.head)
  }

  /** (env as each regime script passes it, conf Verify's builder made of it) */
  private lazy val regimes = Seq(
    // config_invariance.sh
    Map("SPARK_GRAFT_CPUS" -> "7", "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "13",
      "SPARK_GRAFT_AQE" -> "false") -> verifyBase("local[7]", "13", "false"),
    Map("SPARK_GRAFT_CPUS" -> "5", "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "1",
      "SPARK_GRAFT_AQE" -> "false") -> verifyBase("local[5]", "1", "false"),
    // spill_sweep.sh (the JVM variables are build.sbt's, not the session's)
    Map("SPARK_GRAFT_SPILL" -> "1", "SPARK_DRIVER_MEM" -> "32g",
      "SPARK_GRAFT_EXTRA_JVM_OPTS" -> "-XX:MaxDirectMemorySize=24g") ->
      (verifyBase("local[4]", "4", "true") ++ SpillKeys),
    // spill_layout_sweep.sh
    Map("SPARK_GRAFT_SPILL" -> "1", "SPARK_GRAFT_CPUS" -> "5",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "1", "SPARK_GRAFT_AQE" -> "false") ->
      (verifyBase("local[5]", "1", "false") ++ SpillKeys),
    // fetch_chaos_sweep.sh
    Map("SPARK_GRAFT_FETCH_CHAOS" -> "1") ->
      (verifyBase("local[4]", "4", "true") +
        ("spark.task.maxDirectResultSize" -> "100m")),
    // multijvm_sweep.sh; the executor classpath and --add-opens come
    // from the running JVM and are added at build time, not resolved
    Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,2,4096]",
      "SPARK_HOME" -> "/tmp/graft-sparkhome", "SPARK_SCALA_VERSION" -> "2.13",
      "SPARK_DRIVER_MEM" -> "8g") ->
      (verifyBase("local-cluster[2,2,4096]", "4", "true") ++ Map(
        "spark.executor.memory" -> "4096m",
        "spark.scheduler.minRegisteredResourcesRatio" -> "1.0",
        "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "120s")))

  test("regime scripts' env sets give Verify's former conf") {
    regimes.foreach { case (env, before) =>
      assert(conf(BenchLayout, env) == before ++ VerifyGains, s"env $env")
    }
  }

  test("SPARK_GRAFT_CPUS sets both the local master and the partitions") {
    val c = conf(CliLayout, Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(c("spark.master") == "local[8]")
    assert(c("spark.sql.shuffle.partitions") == "8")
  }
}
