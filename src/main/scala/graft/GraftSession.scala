package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. The CLI, Bench, Verify, the
  * tools and the test suite all come through here, so a plan dump, a
  * bench timing and an oracle-checked result are taken under the same
  * conf and differ only in where they run ([[Layout]]).
  *
  * Six env knobs, all over the caller's layout:
  *   - SPARK_GRAFT_CPUS: `local[n]` and n shuffle partitions;
  *   - SPARK_GRAFT_MASTER: any master, e.g. `local-cluster[n,cores,memMB]`
  *     for the multi-JVM sweep (`scripts/multijvm_sweep.sh`);
  *   - SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_AQE: the hostile
  *     layouts of `scripts/config_invariance.sh`;
  *   - SPARK_GRAFT_SPILL=1: every spill path forced
  *     (`scripts/spill_sweep.sh`, see [[SpillConf]]);
  *   - SPARK_GRAFT_FETCH_CHAOS=1: results kept direct under the
  *     registry-wide fetch-failure injection (`scripts/fetch_chaos_sweep.sh`).
  */
object GraftSession {

  /** Where a session runs when no SPARK_GRAFT_* variable says otherwise. */
  final case class Layout(master: String, shufflePartitions: String)

  /** Bench's layout, and every main's but the CLI's. */
  val BenchLayout = Layout("local[4]", "4")

  /** The CLI's: every core, 32 shuffle partitions. */
  val CliLayout = Layout("local[*]", "32")

  /** Lets a TIMESTAMP(NANOS) events fixture read at all, as a raw long
    * that `EventsAsRecords.normalizeTs` turns into a timestamp. Set here
    * for every session and by no reader. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The conf every session carries. The generated-class cache is sized
    * to the registry (Bench r21): ~143 plans compile far more classes
    * than the default 100 entries hold, so with the default every warm
    * query paid Janino + C2 again for classes already compiled once. */
  private val SharedConf = Map(
    "spark.app.name" -> "graft-topic-analyzer",
    "spark.sql.session.timeZone" -> "UTC",
    NanosAsLong -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  /** SPARK_GRAFT_SPILL=1: at sf≤0.1 hash-aggregate sort-fallback,
    * external-sort merge and shuffle spill never run, yet at scale
    * spilling is steady-state and spill/merge paths are the classic home
    * of order- and precision-dependent bugs. These public confs force
    * every such path:
    *   - `TungstenAggregate.testFallbackStartsAt=64,8192`: every hash
    *     aggregate with >8192 input rows per task finishes sort-based.
    *     The second number is the per-refill row budget; a tiny value
    *     ("2,5") chained ~500k sorters at sf0.1 and exhausted the fd
    *     limit at the final merge;
    *   - `objectHashAggregate.sortBased.fallbackThreshold=2`: the
    *     TypedImperativeAggregate sketches fall back to sort-based merge;
    *   - window / sort-merge-join / session-window / cartesian buffers go
    *     external at 16 rows but file-spill at 256k elements: file spills
    *     at 16 rows churned 1 MiB direct buffers past a 16 GiB budget;
    *   - `shuffle.spill.numElementsForceSpillThreshold=262144`: every
    *     UnsafeExternalSorter force-spills each 256k elements. The bound
    *     is load-bearing: a merge opens a reader per spill file at once,
    *     each holding ≥1 MiB, and thresholds of 2000/16384 OOM'd the JVM
    *     on q_dup_ngrams. Read-ahead off and 64k write buffers halve the
    *     per-file buffering.
    */
  private val SpillConf = Map(
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

  /** The session conf resolved from `env` over `layout` — a pure
    * function of its arguments, so GraftSessionSpec pins every regime
    * script's conf without starting a session. The two executor keys a
    * local-cluster master also needs come from this JVM, not the env,
    * and are added by [[build]]. */
  def conf(layout: Layout, env: Map[String, String]): Map[String, String] = {
    val cpus = env.get("SPARK_GRAFT_CPUS")
    val master = env.get("SPARK_GRAFT_MASTER")
      .orElse(cpus.map(c => s"local[$c]")).getOrElse(layout.master)
    val spill = if (env.get("SPARK_GRAFT_SPILL").contains("1")) SpillConf
      else Map.empty[String, String]
    // indirect task results ride the block manager, and the injected
    // FetchFailed names the local master's only executor (the driver's
    // own BM), so the scheduler purges in-flight result blocks: at
    // sf0.1 broadcast builds and final collects over the 1 MiB
    // direct-result default died as TaskResultLost. A real cluster
    // loses a remote executor's BM, never the driver's result path, so
    // results stay direct (< spark.rpc.message.maxSize, 128 MiB)
    val fetchChaos =
      if (env.get("SPARK_GRAFT_FETCH_CHAOS").contains("1"))
        Map("spark.task.maxDirectResultSize" -> "100m")
      else Map.empty[String, String]
    val cluster =
      if (!master.startsWith("local-cluster")) Map.empty[String, String]
      else Map(
        // the worker offers exactly memMB; executor memory must fit it
        // or standalone scheduling grants zero executors (hang)
        "spark.executor.memory" -> (master.stripPrefix("local-cluster[")
          .stripSuffix("]").split(",")(2).trim + "m"),
        // block the first job until EVERY worker's executor is up, so
        // Verify's ≥2-distinct-PIDs probe cannot race a slow worker
        "spark.scheduler.minRegisteredResourcesRatio" -> "1.0",
        "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "120s")
    SharedConf ++ Map(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        .orElse(cpus).getOrElse(layout.shufflePartitions),
      "spark.sql.adaptive.enabled" -> env.getOrElse("SPARK_GRAFT_AQE", "true")
    ) ++ spill ++ fetchChaos ++ cluster
  }

  /** Executors of a local-cluster master are forked JVMs: they get this
    * JVM's classpath (sbt classes + Spark jars, so executor codegen can
    * resolve graft's Expression classes) and its JDK 17 --add-opens,
    * each in the single-token form so it rides one javaOpt. */
  private def executorJvmConf(master: String): Map[String, String] =
    if (!master.startsWith("local-cluster")) Map.empty
    else {
      val args = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val opens = (0 until args.size - 1).collect {
        case i if args.get(i) == "--add-opens" =>
          s"--add-opens=${args.get(i + 1)}"
      }.mkString(" ")
      Map("spark.executor.extraClassPath" -> sys.props("java.class.path"),
        "spark.executor.extraJavaOptions" -> opens)
    }

  /** The session for `layout` under this process's env. */
  def apply(layout: Layout): SparkSession = build(layout, sys.env)

  /** The session for `layout` under `env`; idempotent, like
    * `getOrCreate` and the liveness-bridge install it wraps. */
  def build(layout: Layout, env: Map[String, String]): SparkSession = {
    val c = conf(layout, env)
    val spark = SparkSession.builder()
      .config(c ++ executorJvmConf(c("spark.master"))).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // local-mode liveness stub: one injected fetch failure (the
    // fetch-chaos sweep, StageResubmissionSpec) unregisters the only
    // block manager, which can never re-register in local mode, and
    // the executor exits 56 ten minutes later. With the stub it heals
    // on the next heartbeat (see LocalLivenessBridge)
    org.apache.spark.graftbridge.LocalLivenessBridge.install(spark.sparkContext)
    spark
  }
}
