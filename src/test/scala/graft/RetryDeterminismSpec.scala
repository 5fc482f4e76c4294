package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}

import graft.operators.{CorpusOps, Dedup, EventAnalytics, Similarity, TopicMetrics}

object RetryDeterminismSpec {
  /** Count of fired injections — proves each check actually exercised
    * the retry path instead of silently testing nothing. */
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Task-retry determinism: on a real cluster tasks are re-executed
  * routinely (spark.task.maxFailures defaults to 4; preemption, OOM
  * kills and fetch failures make retries a steady-state event at 1000
  * executors), yet local[N]'s no-retry default means nothing in a
  * local test ever runs the recovery path. This spec injects a
  * first-attempt task failure (the suite session's master carries
  * maxFailures=2 precisely for this) upstream of one operator from
  * each retry-sensitivity class and asserts the full result is
  * BYTE-IDENTICAL to the clean run:
  *
  *   - iterative label propagation with embedded eager
  *     localCheckpoints (a retry during checkpoint materialization
  *     must not seat a partial iteration) — `nearDupLabels`;
  *   - banded self-join over a reused exchange — `minhashPairs`;
  *   - order-sensitive-looking packing (row_number over hashed
  *     streams) — `batchPadding`;
  *   - float scoring + top-k with tie-broken ranks — `knnBruteForce`;
  *   - window-rank order statistics — `valuePercentiles`;
  *   - the fused record-log aggregate — `partitionStats`.
  *
  * The config-invariance sweep (scripts/config_invariance.sh) proves
  * results are independent of the LAYOUT; this proves they are
  * independent of the EXECUTION HISTORY — no operator output depends
  * on side effects or per-attempt nondeterminism (rand,
  * monotonically_increasing_id, accumulator reads) that a re-executed
  * task would expose. Each check asserts the injection actually FIRED,
  * so a future plan change that skips the injected stage breaks the
  * spec loudly instead of leaving it vacuous.
  */
class RetryDeterminismSpec extends SparkSuite {
  import RetryDeterminismSpec.injected

  // this suite EXISTS to fire task retries — declare the window so the
  // shared session's unexpected-retry guard (SparkSuite) ignores them
  // here while still arresting silent retries in every other suite
  override protected def taskRetriesExpected: Boolean = true

  private val sfDir = "/root/testdata/sf0.001"

  /** Pass-through stage whose partition-0 task throws on its first
    * attempt and succeeds on the retry. Lives in test code only —
    * main-source discipline (SourceDisciplineSpec) is untouched. */
  private def failOnce(df: DataFrame): DataFrame =
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        injected.incrementAndGet()
        throw new RuntimeException(
          "injected first-attempt task failure (RetryDeterminismSpec)")
      }
      it
    }(Encoders.row(df.schema))

  private def canon(df: => DataFrame): Seq[String] =
    StorageHygiene.run(spark, "retry-spec", "canon")(df)(
      _.collect().map(_.toString).sorted.toSeq).release().get

  private def check(name: String, input: DataFrame)(
      f: DataFrame => DataFrame): Unit = {
    val clean = canon(f(input))
    assert(clean.nonEmpty, s"$name: empty clean result — fixture broke")
    val before = injected.get()
    val retried = canon(f(failOnce(input)))
    assert(injected.get() > before,
      s"$name: injection never fired — the check is vacuous")
    assert(retried == clean,
      s"$name: result changed under a retried task — " +
        s"first diff: ${retried.zipAll(clean, "<missing>", "<missing>")
          .find(p => p._1 != p._2)}")
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("minhashPairs is retry-deterministic") {
    check("minhashPairs", docs)(Dedup.minhashPairs(_))
  }

  test("nearDupLabels (iterative CC over eager checkpoints) is retry-deterministic") {
    check("nearDupLabels", docs)(Dedup.nearDupLabels(_))
  }

  test("batchPadding is retry-deterministic") {
    check("batchPadding", docs)(CorpusOps.batchPadding(_))
  }

  test("knnBruteForce is retry-deterministic") {
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 16)
    check("knnBruteForce", emb)(Similarity.knnBruteForce(_, queries, 5))
  }

  test("valuePercentiles is retry-deterministic") {
    val events = graft.sources.EventsAsRecords.readEvents(spark, sfDir)
    check("valuePercentiles", events)(EventAnalytics.valuePercentiles(_))
  }

  test("partitionStats is retry-deterministic") {
    val records = graft.sources.EventsAsRecords.records(spark, sfDir)
    check("partitionStats", records)(TopicMetrics.partitionStats(_))
  }

  test("streaming dedup keeps exactly-once semantics under a retried micro-batch task") {
    // streaming shape: a task failure INSIDE a micro-batch is retried
    // by the same maxFailures machinery, and the state-store commit
    // protocol must make the retry invisible — no double-seated
    // fingerprint (which would suppress a later novel doc) and no
    // lost one (which would pass a later duplicate)
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.lang.Long]())
    val before = injected.get()
    val q = graft.streaming.StreamingDedup
      .deduped(failOnce(mem.toDF().toDF("doc_id", "text")))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => got.add(r.getAs[Long]("doc_id")))
      }
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha text"), (2L, "beta text"))
      q.processAllAvailable()
      // doc 3 duplicates doc 1's fingerprint (case/whitespace
      // variants normalize together); doc 4 is novel
      mem.addData((3L, "ALPHA   text"), (4L, "gamma text"))
      q.processAllAvailable()
    } finally q.stop()
    assert(injected.get() > before,
      "streaming injection never fired — the check is vacuous")
    // sorted MULTISET, not a Set: an at-least-once re-emission of an
    // already-emitted row (the exact exactly-once violation under
    // test) would survive a Set collapse unseen
    val out = scala.jdk.CollectionConverters.ListHasAsScala(got)
      .asScala.map(_.longValue).toSeq.sorted
    assert(out == Seq(1L, 2L, 4L),
      s"retried micro-batch task changed dedup output: $out")
  }

  test("epoched-store writes commit exactly their rows under a retried task") {
    // the write path: a retried task during replaceWith/appendBatch
    // must leave the committed generation byte-equal to its input —
    // no duplicated rows from the failed attempt's files (Spark's
    // commit protocol discards them) and no missing ones. The crash
    // matrix covers DRIVER crash points; this is the task-level
    // failure mode a 1000-executor cluster hits routinely.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-retry-ep").toString
    try {
      val t = graft.sources.EpochedTable(root, "t", Seq("id", "v"))
      // per-call fired guards: one aggregate delta could not tell
      // whether BOTH write paths exercised a retry — a future
      // driver-side fast path on either call would silently drop its
      // coverage while the other call's injection kept the assert green
      val before = injected.get()
      t.replaceWith(failOnce(Seq(1L -> 10L, 2L -> 20L).toDF("id", "v")))
      val afterReplace = injected.get()
      assert(afterReplace > before,
        "replaceWith injection never fired — the check is vacuous")
      t.appendBatch(failOnce(Seq(3L -> 30L).toDF("id", "v")), batchId = 0L)
      assert(injected.get() > afterReplace,
        "appendBatch injection never fired — the check is vacuous")
      def rows() = rowsOf(t.read(spark)
          .orderBy(org.apache.spark.sql.functions.col("id")))
        .map(r => (r("id").asInstanceOf[Long], r("v").asInstanceOf[Long]))
      val expect = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)
      assert(rows() == expect,
        s"retried write task corrupted the committed store: ${rows()}")
      // the COMPACTION rewrite is the third at-rest mutation (the
      // registry-level chaos sweep covers it statistically; this pins
      // it with the same injected-retry assertion as the other two):
      // a retried task inside the generation fold must commit exactly
      // the folded rows — no duplicates from the failed attempt's
      // files, no losses
      val afterAppend = injected.get()
      t.compact(spark, reshape = failOnce)
      assert(injected.get() > afterAppend,
        "compact injection never fired — the check is vacuous")
      assert(rows() == expect,
        s"post-compaction rows diverged under a retried task: ${rows()}")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }
}
