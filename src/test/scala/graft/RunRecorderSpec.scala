package graft

import java.util.concurrent.CyclicBarrier

import org.apache.spark.TaskContext

/** The RunRecorder window contract every reader of run facts relies on:
  * a window counts the jobs its own thread started and nothing else,
  * sees the spill and resubmissions those jobs caused, and closes (its
  * thread's property restored) however its body ends.
  */
class RunRecorderSpec extends SparkSuite {

  private def recorder = RunRecorder(spark)

  private val dir = java.nio.file.Files.createTempDirectory("run-recorder")

  override protected def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    finally super.afterAll()

  /** A 1,000-row parquet table of its own (4 event types), so the
    * input-record counts below are exact. */
  private lazy val events = {
    spark.range(1000)
      .selectExpr("id AS event_id", "concat('t', id % 4) AS event_type")
      .repartition(4).write.parquet(s"$dir/events")
    spark.read.parquet(s"$dir/events")
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  test("two windows on two threads each see only their own scan") {
    assert(recorder eq RunRecorder(spark), "a second attach stacked a recorder")
    val ev = events
    val (_, alone) = recorder.window(noop(ev))
    assert(alone.inputRecords == 1000L && alone.jobs >= 1, s"$alone")
    val before = recorder.totals().inputRecords
    val barrier = new CyclicBarrier(2)
    val got = new Array[Either[Throwable, RunRecorder.Record]](2)
    val threads = (0 until 2).map { i =>
      new Thread(() => got(i) =
        try Right(recorder.window { barrier.await(); noop(ev) }._2)
        catch { case e: Throwable => Left(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    got.foreach {
      case Right(r) =>
        assert(r.inputRecords == 1000L, s"window saw another thread's scan: $r")
        assert(r.jobs == alone.jobs, s"window job count $r vs alone $alone")
      case other => fail(s"window thread failed: $other")
    }
    assert(recorder.totals().inputRecords - before >= 2000L)
  }

  test("a window under forced aggregate fallback records spill") {
    val key = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1,2")
    try {
      // every 2 rows per task go to a new spill file, all merged at
      // once: a few rows spill without a large merge
      val (_, r) = recorder.window(
        noop(spark.range(16).selectExpr("id % 4 AS k").groupBy("k").count()))
      assert(r.memSpilled + r.diskSpilled > 0, s"no spill recorded: $r")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a window with an injected fetch failure records the resubmission") {
    val rows = events.groupBy("event_type").count().rdd
    val sid = Verify.upstreamShuffleId(rows)
      .getOrElse(fail("no upstream shuffle in the plan"))
    val (n, r) = recorder.window {
      rows.mapPartitionsWithIndex { (i, it) =>
        val tc = TaskContext.get()
        if (i == 0 && tc != null && tc.stageAttemptNumber() == 0 &&
            tc.attemptNumber() == 0)
          org.apache.spark.graftbridge.FetchFailureBridge
            .inject(sid, "injected fetch failure (RunRecorderSpec)")
        it
      }.count()
    }
    assert(n > 0)
    assert(r.fetchFailed >= 1, s"fetch failure not recorded: $r")
    assert(r.resubmitted >= 1, s"resubmission not recorded: $r")
  }

  test("a nested or failed body still closes its window") {
    val sc = spark.sparkContext
    val (inner, outer) = recorder.window {
      oneJob()
      recorder.window(oneJob())._2
    }
    assert(inner.jobs == 1 && outer.jobs == 2, s"inner $inner, outer $outer")
    intercept[IllegalStateException] {
      recorder.window { oneJob(); throw new IllegalStateException("body") }
    }
    assert(sc.getLocalProperty(RunRecorder.WindowProp) == null,
      "a failed body left its window open on the thread")
    assert(recorder.window(oneJob())._2.jobs == 1)
    // a failed inner window hands the thread back to its outer window
    val (_, afterInner) = recorder.window {
      intercept[IllegalStateException] {
        recorder.window[Unit](throw new IllegalStateException("inner"))
      }
      oneJob()
    }
    assert(afterInner.jobs == 1, s"outer lost its job: $afterInner")
  }
}
