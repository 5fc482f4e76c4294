package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump loop
  * and escaper are shared with [[graft.tools.VerifyOne]] (the single-query
  * iteration tool) so the two surfaces cannot drift. */
object Verify {

  /** The session every verify surface uses: [[GraftSession]] at Bench's
    * layout, so results are comparable to the oracle gate's. Its env
    * knobs exist for the standing sweeps: a hostile partition count and
    * AQE off (`scripts/config_invariance.sh`) — on a real cluster the
    * physical partitioning never matches local[32], so a float fold
    * whose value depends on partition order, or a limit riding an
    * unpinned sort, would pass the canonical config forever and differ
    * on the thousand-executor layout; forced spill
    * (`scripts/spill_sweep.sh`); a local-cluster master
    * (`scripts/multijvm_sweep.sh`); fetch chaos
    * (`scripts/fetch_chaos_sweep.sh`).
    *
    * SPARK_GRAFT_TASK_CHAOS=<n> (default off) arms the chaos listener:
    * every n-th FIRST-attempt task is killed via
    * `SparkContext.killTaskAttempt` and rescheduled (TaskKilled does
    * not count toward spark.task.maxFailures, so the default local
    * master suffices), which extends the execution-history axis from
    * RetryDeterminismSpec's curated operators to the WHOLE registry:
    * the oracle compare must stay 141/141 hash-exact while tasks are
    * being killed and re-run throughout the dump
    * (`scripts/retry_chaos_sweep.sh`). Retried attempts are never
    * killed, so every stage terminates.
    *
    * The spill fired-guard is metric-based: the session counts
    * memory/diskBytesSpilled across all tasks and main() prints
    * `VERIFY_SPILL mem=<B> disk=<B>`; the sweep FAILS on zero (a
    * sweep that never spilled is a plain re-dump).
    *
    * Under a local-cluster master Spark's standalone-in-miniature
    * spawns REAL executor JVMs with network shuffle and serialized task
    * dispatch. Every other axis runs driver and executors in ONE JVM,
    * which structurally cannot catch the canonical cluster-only bug
    * class: task code observing driver-JVM state through statics,
    * companion objects, or broadcast object identity (an accidental
    * analog of [[Verify.spilledMem]] read inside a task passes every
    * single-JVM gate and lies on a real cluster). The fired-guard is a
    * probe job collecting (executorId, pid) per task:
    * `VERIFY_EXECUTORS ok=true n=<k>` requires ≥2 distinct executor
    * PIDs, none equal to the driver's — proving results came from
    * separate JVMs, not a silently-degraded local run. */
  def session(): SparkSession = {
    val spark = GraftSession(GraftSession.BenchLayout)
    val chaosN = sys.env.get("SPARK_GRAFT_TASK_CHAOS").map(_.toInt)
      .filter(_ > 0)
    val fetchChaos = sys.env.get("SPARK_GRAFT_FETCH_CHAOS").contains("1")
    // listeners register ONCE per JVM: getOrCreate() can hand back an
    // already-live session, and a second registration would stack
    // listeners — double-counting spilledMem/Disk into the
    // VERIFY_SPILL fired-guard totals and double-killing under chaos.
    // (Each main calls session() once per forked JVM today; the guard
    // keeps the idiom correct, not just currently-unhit.)
    if (listenersArmed.compareAndSet(false, true)) {
      // spill accounting rides on EVERY session (cheap): the spill
      // sweep's fired-guard reads the totals, and a canonical run
      // printing mem=0 disk=0 documents that the default regime really
      // never spills — the gap the sweep exists to close
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              spilledMem.addAndGet(m.memoryBytesSpilled)
              spilledDisk.addAndGet(m.diskBytesSpilled)
            }
          }
        })
      chaosN.foreach { n =>
        val seen = new java.util.concurrent.atomic.AtomicLong
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskStart(
                t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
              // first attempts only — a retried attempt is never killed,
              // so every stage terminates; the kill races task completion
              // harmlessly (a finished task's kill no-ops or throws)
              if (t.taskInfo.attemptNumber == 0 &&
                  seen.incrementAndGet() % n == 0) {
                try {
                  // count only kills the scheduler ACCEPTED (returns
                  // true): the listener bus is async, so this frequently
                  // races tasks that already finished — a no-op kill
                  // (false) incrementing the counter could satisfy the
                  // sweep's killed>=1 fired-guard with zero tasks
                  // actually rescheduled, a vacuous chaos pass
                  if (spark.sparkContext.killTaskAttempt(t.taskInfo.taskId,
                      interruptThread = false,
                      reason = "graft chaos sweep: forced reschedule"))
                    chaosKilled.incrementAndGet()
                } catch { case _: Throwable => () }
              }
          })
      }
      if (fetchChaos)
        // fired-guard evidence for the fetch-chaos sweep — see the
        // counters' scaladoc for why these are listener-side
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (t.reason.isInstanceOf[org.apache.spark.FetchFailed])
                fetchFailed.incrementAndGet()
            override def onStageSubmitted(
                e: org.apache.spark.scheduler
                  .SparkListenerStageSubmitted): Unit =
              if (e.stageInfo.attemptNumber() > 0)
                fetchResubmitted.incrementAndGet()
          })
    }
    // the EFFECTIVE config, read back from the live session — the
    // config-invariance sweep asserts this line echoes its requested
    // knobs, so a renamed/typo'd env var degrades to a loud gate
    // failure instead of a silent canonical-config re-run that
    // "passes" forever
    println(s"VERIFY_CONF master=${spark.sparkContext.master}" +
      s" shuffle=${spark.conf.get("spark.sql.shuffle.partitions")}" +
      s" aqe=${spark.conf.get("spark.sql.adaptive.enabled")}" +
      s" chaos=${chaosN.map(_.toString).getOrElse("off")}" +
      s" fetch_chaos=${if (fetchChaos) "on" else "off"}" +
      // read BACK from the live conf, not the env var: the spill
      // sweep's knob-took-effect check keys on this token, so a
      // builder refactor dropping the configs degrades loudly
      s" spill=${if (spark.conf.getOption(
          "spark.sql.TungstenAggregate.testFallbackStartsAt").isDefined)
        "forced" else "off"}")
    if (spark.sparkContext.master.startsWith("local-cluster")) {
      // multi-JVM fired-guard: a probe job collects (executorId, pid,
      // canary) from inside tasks. ok requires ≥2 DISTINCT executor
      // PIDs, none the driver's — the sweep greps this line, so a
      // local-cluster that silently degraded to in-process execution
      // (or granted one executor) fails loudly instead of re-running
      // axis one. The canary is the POSITIVE CONTROL for the bug
      // class this axis exists to catch: a companion-object field set
      // on the driver AFTER class load (here, to 42) is visible to
      // tasks under any local[N] master but must read as the fresh
      // executor JVM's initial 0 here — if tasks ever see 42, the
      // "cluster" shares the driver's statics and the axis is
      // structurally blind to driver-state leaks
      jvmCanary = 42
      val probe = spark.sparkContext.parallelize(1 to 256, 64)
        .map { _ =>
          (org.apache.spark.SparkEnv.get.executorId,
            ProcessHandle.current().pid(), jvmCanary)
        }.distinct().collect().sortBy(_._1)
      val driverPid = ProcessHandle.current().pid()
      val pids = probe.map(_._2).distinct
      val isolated = probe.forall(_._3 == 0)
      val ok = pids.length >= 2 && !pids.contains(driverPid) && isolated
      println(s"VERIFY_EXECUTORS ok=$ok n=${pids.length}" +
        s" static_isolated=$isolated driver_pid=$driverPid " +
        probe.map { case (id, p, _) => s"$id:$p" }.mkString("pids=", ",", ""))
    }
    spark
  }

  /** One-shot latch for the session listeners (spill accounting,
    * chaos) — see the registration comment in [[session]]. */
  private val listenersArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Multi-JVM positive-control canary: initially 0, set to 42 on the
    * DRIVER before the executor probe. A task reading this field
    * compiles to a static module access — nothing is captured in the
    * closure — so under local-cluster a fresh executor JVM must see 0
    * while any shared-JVM master would see the driver's 42. This is
    * the exact mechanism by which a driver-state-dependent operator
    * would pass every single-JVM gate and lie on a real cluster. */
  @volatile private[graft] var jvmCanary: Int = 0

  /** Bytes spilled across all tasks of the session — the spill
    * sweep's fired-guard (`VERIFY_SPILL mem=<B> disk=<B>`, printed
    * after `spark.stop()` so the async listener bus has drained). */
  private[graft] val spilledMem = new java.util.concurrent.atomic.AtomicLong
  private[graft] val spilledDisk = new java.util.concurrent.atomic.AtomicLong

  /** Kill count of the chaos listener — printed at the end of a dump
    * (`VERIFY_CHAOS killed=<n>`) so the chaos sweep can assert the
    * injection actually FIRED rather than silently running a plain
    * re-dump (the same vacuousness guard as RetryDeterminismSpec's
    * fired counter and the sweeps' knob-took-effect check). */
  private[graft] val chaosKilled = new java.util.concurrent.atomic.AtomicLong

  /** Fetch-chaos fired-guards, counted LISTENER-side (driver) so they
    * hold under any master — an in-task static would undercount on a
    * multi-JVM cluster (the exact blindness the canary demonstrates),
    * and a Spark accumulator would DROP the update because the
    * injected task fails by design (failed-task accumulator updates
    * are discarded). fetchFailed counts TaskEnd reasons of type
    * FetchFailed (the injection reached the scheduler as a fetch
    * failure); fetchResubmitted counts stage attempts > 0 (the
    * scheduler really regenerated upstream output); fetchNoShuffle
    * counts queries whose plan has no upstream shuffle to fail
    * (written un-injected — nothing to resubmit). */
  private[graft] val fetchFailed = new java.util.concurrent.atomic.AtomicLong
  private[graft] val fetchResubmitted =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val fetchNoShuffle =
    new java.util.concurrent.atomic.AtomicLong

  /** Nearest upstream shuffle id in the RDD lineage (the shuffle the
    * injected FetchFailedException names). Shared shape with
    * StageResubmissionSpec's curated checks. */
  private[graft] def upstreamShuffleId(
      r: org.apache.spark.rdd.RDD[_]): Option[Int] =
    r.dependencies.collectFirst {
      case s: org.apache.spark.ShuffleDependency[_, _, _] => s.shuffleId
    }.orElse(r.dependencies.view
      .flatMap(d => upstreamShuffleId(d.rdd)).headOption)

  /** Per-query spill deltas (memBytes, diskBytes), recorded by
    * [[dumpQueries]] with a listener-bus drain between queries so a
    * query's tail task metrics cannot land on its successor's delta.
    * Session-wide `VERIFY_SPILL` alone can keep a sweep green on OTHER
    * queries' bytes after a plan change routes one operator around its
    * fallback — the per-query map makes spill COVERAGE visible. */
  private[graft] val perQuerySpill =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Run the named queries (all when `names` is empty), dump each to
    * `outDir/<name>` parquet, release per-query storage. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String] = Nil): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => names.contains(kv._1))
    // drain once so pre-dump jobs (the multi-JVM probe) close their
    // metrics before the first query's spill window opens
    org.apache.spark.graftbridge.ListenerBusBridge
      .waitUntilEmpty(spark.sparkContext)
    var prevMem = spilledMem.get
    var prevDisk = spilledDisk.get
    selected.foreach { case (name, fn) =>
      // hold the frame so its embedded checkpoint storage (near-dup
      // label family) can be released after the write — the execution
      // boundary is the ONE place a lazily-consumed result's
      // checkpoints can be freed (see Dedup.nearDupLabels' contract);
      // without this the suite accumulates one persisted frame per
      // label-consuming query for the session lifetime
      var df: Option[org.apache.spark.sql.DataFrame] = None
      val ok =
        try {
          val d = fn(spark, sfDir); df = Some(d)
          // SPARK_GRAFT_FETCH_CHAOS=1: the registry-wide
          // stage-resubmission axis. The written frame is routed
          // through the plan's RDD with a wrapper that throws a REAL
          // FetchFailedException (naming the nearest upstream shuffle)
          // from partition 0's first attempt of the first stage
          // attempt — the scheduler unregisters that map output,
          // RESUBMITS the upstream stage, and re-runs only the failed
          // partition against regenerated output while sibling
          // partitions keep the original. The parquet the oracle
          // compares is therefore the MIXED-PROVENANCE result, for
          // every shuffle-bearing query in the registry (no-shuffle
          // plans have no lineage to regenerate — written plain,
          // counted in the noshuffle guard). createDataFrame over the
          // wrapped RDD with the original schema preserves columns
          // and nullability, so the compare contract is unchanged.
          val toWrite =
            if (!sys.env.get("SPARK_GRAFT_FETCH_CHAOS").contains("1"))
              d.coalesce(1)
            else {
              val rows = d.rdd
              upstreamShuffleId(rows) match {
                case None =>
                  fetchNoShuffle.incrementAndGet(); d.coalesce(1)
                case Some(sid) =>
                  val injected = rows.mapPartitionsWithIndex { (i, it) =>
                    val tc = org.apache.spark.TaskContext.get()
                    if (i == 0 && tc != null &&
                        tc.stageAttemptNumber() == 0 &&
                        tc.attemptNumber() == 0)
                      org.apache.spark.graftbridge.FetchFailureBridge
                        .inject(sid, s"fetch chaos sweep: $name")
                    it
                  }
                  spark.createDataFrame(injected, d.schema).coalesce(1)
              }
            }
          toWrite.write.mode("overwrite").parquet(s"$outDir/$name"); true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      StorageHygiene.releaseAndSweep(spark, "verify", name, df, ok)
      // attribution read: drain the async bus so THIS query's task
      // metrics are all in the totals before the delta is cut. A
      // wedged bus propagates the TimeoutException — loud, never a
      // silently-misattributed map
      org.apache.spark.graftbridge.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext)
      val (m, d) = (spilledMem.get, spilledDisk.get)
      perQuerySpill(name) = (m - prevMem, d - prevDisk)
      prevMem = m
      prevDisk = d
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump the oracle map (all entries, or only `names`) as the
    * oracle_sql.json the comparing harness consumes. */
  def dumpOracleSql(outDir: String, names: Seq[String] = Nil): Unit = {
    val selected =
      if (names.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    val json = selected
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    dumpQueries(spark, sfDir, outDir)
    dumpOracleSql(outDir)
    if (sys.env.contains("SPARK_GRAFT_TASK_CHAOS"))
      println(s"VERIFY_CHAOS killed=${chaosKilled.get()}")
    if (sys.env.get("SPARK_GRAFT_FETCH_CHAOS").contains("1")) {
      // expected = shuffle-bearing queries; each fires exactly once
      // (the wrapper guards on stage attempt 0 / task attempt 0).
      // The sweep asserts fetch_failed == expected and resubmitted >= 1
      val expected = SparkEntry.queries.size - fetchNoShuffle.get()
      println(s"VERIFY_FETCH_CHAOS fetch_failed=${fetchFailed.get()}" +
        s" resubmitted=${fetchResubmitted.get()}" +
        s" noshuffle=${fetchNoShuffle.get()} expected=$expected")
    }
    // per-query attribution: the top spillers plus the coverage split
    // (spilled vs zero-spill query counts). On the canonical config
    // "spilled=0 zero=141" documents that the default regime really
    // never spills; under SPARK_GRAFT_SPILL=1 a query that STOPPED
    // spilling after a plan change is at least visible in the zero
    // count instead of hiding behind the session-wide total
    val spillers = perQuerySpill.toSeq
      .filter { case (_, (m, d)) => m + d > 0 }
      .sortBy { case (_, (m, d)) => -(m + d) }
    spillers.take(10).foreach { case (n, (m, d)) =>
      println(s"VERIFY_SPILL_QUERY $n mem=$m disk=$d")
    }
    println(s"VERIFY_SPILL_COVERAGE spilled=${spillers.size}" +
      s" zero=${perQuerySpill.size - spillers.size}")
    // stop() drains the listener bus, so the totals are complete here
    spark.stop()
    println(s"VERIFY_SPILL mem=${spilledMem.get()} disk=${spilledDisk.get()}")
  }
}
