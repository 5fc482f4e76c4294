package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{CorpusOps, Dedup, EventAnalytics, Similarity, TopicMetrics}

object StageResubmissionSpec {
  /** Count of fired injections — proves each check exercised the
    * fetch-failure path instead of silently testing nothing. */
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Stage-RESUBMISSION determinism — the sixth execution axis. The
  * retry axis (RetryDeterminismSpec, chaos sweep) re-executes a task
  * against the SAME upstream data; this spec exercises the other
  * recovery path a 1000-executor cluster runs routinely: an executor
  * is lost, a reduce task's shuffle fetch fails, and the DAGScheduler
  * unregisters the lost map output and RESUBMITS the upstream stage —
  * so the re-run reduce partition consumes REGENERATED map output
  * while its sibling partitions already consumed the original. If a
  * map stage is nondeterministic (unstable sort feeding a limit,
  * rand-dependent bucketing, iteration-order-dependent floats), the
  * mixed-provenance result silently diverges — the exact failure
  * class behind Spark's own indeterminate-stage protections
  * (SPARK-23207). Operators must make that impossible by being
  * deterministic functions of their input data.
  *
  * Mechanics: `df.rdd` builds its OWN QueryExecution
  * (`rddQueryExecution`), so the injected job plans fresh
  * ShuffleExchangeExecs with new shuffle ids and first computes its
  * own map stages; partition 0's result task then throws a real
  * [[org.apache.spark.shuffle.FetchFailedException]] naming the
  * nearest upstream shuffle (constructing one inside a task marks the
  * task fetch-failed via TaskContext — the supported injection point,
  * used by Spark's own scheduler tests). The scheduler unregisters
  * map output 0, RESUBMITS the map stage (regenerating that output),
  * and re-runs only the failed partition against the fresh output —
  * while the sibling partitions' results came from the original map
  * attempt. The assertion: that mixed-provenance result is
  * byte-identical to the clean one. Two vacuousness guards: the
  * injection counter must move, and a listener must observe a stage
  * attempt > 0 (a real resubmission reached the scheduler).
  *
  * One operator per DISTINCT shuffle lineage — the mixed-provenance
  * hazard is plan-shape-specific, so each shape earns its own check:
  * the fused record-log aggregate, the banded LSH self-join over a
  * reused exchange, window-rank order statistics, grouping-sets
  * expansion (rollup AND cube — the Expand node multiplies rows
  * BEFORE the shuffle, so regenerated map output re-expands),
  * session-window assignment (batch sessionize: sort-within-group +
  * gap walk), the IVF probe join (broadcast probe onto a shuffled
  * window rank), histogram percentiles (two-level bin aggregate +
  * prefix walk), and the incremental-dedup band join (batch bands
  * joined against corpus bands, greedy first-wins verdicts).
  * (Operators embedding eager localCheckpoints are exercised by the
  * retry axis instead — a checkpoint deliberately truncates lineage,
  * so upstream regeneration is not a path they can take.)
  */
class StageResubmissionSpec extends SparkSuite {
  import StageResubmissionSpec.injected

  private val sfDir = "/root/testdata/sf0.001"

  private def check(name: String, df: DataFrame): Unit = {
    val clean = df.collect().map(_.toString).sorted.toSeq
    assert(clean.nonEmpty, s"$name: empty clean result — fixture broke")
    // df.rdd builds a SEPARATE QueryExecution (rddQueryExecution), so
    // the injected job plans fresh shuffles and computes its own map
    // stages; the injected fetch failure then forces their regeneration
    val rows = df.rdd
    val sid = Verify.upstreamShuffleId(rows)
      .getOrElse(fail(s"$name: no upstream shuffle in the plan"))
    val before = injected.get()
    val (got, run) = RunRecorder(spark).window {
      rows.mapPartitionsWithIndex { (i, it) =>
        val tc = TaskContext.get()
        // first attempt of the first stage attempt only — the re-run
        // (stageAttemptNumber > 0) must consume the regenerated
        // shuffle output instead of failing forever
        if (i == 0 && tc != null && tc.stageAttemptNumber() == 0 &&
            tc.attemptNumber() == 0) {
          injected.incrementAndGet()
          // FetchFailedException is private[spark] in Scala — the
          // construction lives in the test-only bridge package
          org.apache.spark.graftbridge.FetchFailureBridge.inject(sid,
            s"injected fetch failure ($name, StageResubmissionSpec)")
        }
        it
      }.collect().map(_.toString).sorted.toSeq
    }
    assert(injected.get() > before,
      s"$name: injection never fired — the check is vacuous")
    // the window drains the listener bus before it closes, so the
    // resubmission evidence is complete here
    assert(run.resubmitted > 0,
      s"$name: no stage attempt > 0 observed — the fetch failure " +
        "never reached the scheduler as a resubmission")
    assert(got == clean,
      s"$name: result changed when a partition was recomputed " +
        s"against regenerated shuffle output — first diff: " +
        s"${got.zipAll(clean, "<missing>", "<missing>")
          .find(p => p._1 != p._2)}")
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("partitionStats survives upstream-stage regeneration") {
    check("partitionStats",
      TopicMetrics.partitionStats(
        graft.sources.EventsAsRecords.records(spark, sfDir)))
  }

  test("minhashPairs (banded self-join) survives upstream-stage regeneration") {
    check("minhashPairs", Dedup.minhashPairs(docs))
  }

  test("valuePercentiles (window rank) survives upstream-stage regeneration") {
    check("valuePercentiles",
      EventAnalytics.valuePercentiles(
        graft.sources.EventsAsRecords.readEvents(spark, sfDir)))
  }

  test("rollupStats (grouping sets) survives upstream-stage regeneration") {
    check("rollupStats",
      TopicMetrics.rollupStats(
        graft.sources.EventsAsRecords.records(spark, sfDir)))
  }

  test("sourceCube (CUBE margins) survives upstream-stage regeneration") {
    check("sourceCube", CorpusOps.sourceCube(docs))
  }

  test("sessionize (session windows, batch) survives upstream-stage regeneration") {
    check("sessionize",
      EventAnalytics.sessionize(
        graft.sources.EventsAsRecords.readEvents(spark, sfDir)))
  }

  test("knnIvf (IVF probe join) survives upstream-stage regeneration") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    check("knnIvf", Similarity.knnIvf(e, e.filter(col("vec_id") < 16), 5))
  }

  test("valuePercentilesHistogram (bin aggregate + prefix walk) survives upstream-stage regeneration") {
    check("valuePercentilesHistogram",
      EventAnalytics.valuePercentilesHistogram(
        graft.sources.EventsAsRecords.readEvents(spark, sfDir),
        domain = Some((0.0, 1024.0))))
  }

  test("dedupIncremental (band join, greedy verdicts) survives upstream-stage regeneration") {
    val d = docs
    check("dedupIncremental",
      Dedup.dedupIncremental(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0)))
  }
}
