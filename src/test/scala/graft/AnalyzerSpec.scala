package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions.{col, udaf}

import graft.model.{KafkaRecord, TopicSummary}
import graft.operators.TopicMetrics
import graft.operators.TopicMetrics.{Summary, SummaryBuf}

/** End-to-end facade, and the topic summary's two call paths: the
  * CLI's driver-side fold ([[TopicAnalyzer.analyze]]) and the
  * `q_topic_summary` aggregator the oracle checks. */
class AnalyzerSpec extends SparkSuite {

  test("TopicAnalyzer end-to-end over fixture mapping, with report") {
    val rec = sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001")
    val result = TopicAnalyzer.analyze(rec, countAliveKeys = true)
    assert(result.partitionStats.size == 8)
    assert(result.summary.overall_count == 1000L)
    assert(result.aliveKeys.exists(_ > 0))
    val report = TopicAnalyzer.report(result, "events-sf0.001", 1L)
    assert(report.contains("| P ") && report.contains("Alive keys:"))
    assert(result.partitionStats.map(_.total).sum == result.summary.overall_count)
  }

  test("analyze with -c equals the stats fold and AliveKeys.exact run one after the other") {
    val topics = Seq(
      "sf0.001" -> sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001"),
      "sf0.01" -> sources.EventsAsRecords.records(spark, "/root/testdata/sf0.01"),
      "empty" -> records(),
      "all-tombstone" -> records((0, 0L, 1000L, "k", null), (1, 0L, 2000L, "kk", null)))
    topics.foreach { case (name, rec) =>
      val sequential = TopicAnalyzer.analyze(rec)
        .copy(aliveKeys = Some(operators.AliveKeys.exact(rec)))
      assert(TopicAnalyzer.analyze(rec, countAliveKeys = true) == sequential, name)
    }
    val empty = TopicAnalyzer.analyze(records(), countAliveKeys = true)
    assert(empty.partitionStats.isEmpty && empty.aliveKeys.contains(0L))
  }

  test("analyze with -c: a failing pass propagates, and no job outlives the call") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val rec = sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001")
    // the key fails both passes; the timestamp only the stats pass, so
    // the alive-key job runs on after the failure
    Seq("key" -> "boom-key", "timestamp" -> "boom-ts").foreach { case (c, msg) =>
      val bad = rec.withColumn(c,
        when(col("offset") === 7L, raise_error(lit(msg))).otherwise(col(c)))
      val e = intercept[Exception](TopicAnalyzer.analyze(bad, countAliveKeys = true))
      assert(e.getMessage.contains(msg), e)
      org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val active = spark.sparkContext.statusTracker.getActiveJobIds
      assert(active.isEmpty, s"$c: jobs ${active.mkString(",")} outlived analyze")
    }
  }

  /** The single row of a `q_topic_summary`-shaped frame. */
  private def row(frame: DataFrame): TopicSummary = {
    val s = spark
    import s.implicits._
    val Array(r) = frame.as[TopicSummary].collect()
    r
  }

  /** Both call paths over `records`; fails unless they agree. */
  private def agreed(records: DataFrame): TopicSummary = {
    val viaCli = TopicAnalyzer.analyze(records).summary
    val viaRegistry = row(TopicMetrics.summaryFrame(
      TopicMetrics.partitionStats(records)))
    assert(viaCli == viaRegistry)
    viaCli
  }

  test("both summary call paths agree (CLI fold, q_topic_summary aggregator)") {
    val s = spark
    import s.implicits._
    val data = Seq(
      KafkaRecord(0, 0L, ts(5000), b("k"), b("vvvv")),
      KafkaRecord(0, 1L, ts(1000), b("kk"), b("v")),
      KafkaRecord(1, 0L, ts(9000), b("huge-key"), null))
    assert(agreed(data.toDS().toDF()) ==
      TopicSummary(3L, 5L + 3L + 8L, 3L, 5L, 1000000L, 9000000L))
  }

  test("CLI summary equals the q_topic_summary row: fixtures, empty, tombstones, null timestamps") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val viaCli = TopicAnalyzer.analyze(
        sources.EventsAsRecords.records(spark, dir)).summary
      assert(viaCli.overall_count > 0L, sf)
      assert(viaCli == row(SparkEntry.queries("q_topic_summary")(spark, dir)), sf)
    }
    // empty topic: every metric reads 0
    assert(agreed(records()) == TopicSummary(0L, 0L, 0L, 0L, 0L, 0L))
    // all-tombstone topic: the size sentinels read out as 0
    assert(agreed(records((0, 0L, 1000L, "k", null), (1, 0L, 2000L, "kk", null))) ==
      TopicSummary(2L, 3L, 0L, 0L, 1000000L, 2000000L))
    // a tombstone-only partition next to an alive one: min/max size
    // come from the alive one alone
    assert(agreed(records(
      (0, 0L, 1000L, "k", null),
      (1, 0L, 5000L, "a", "vvv"),
      (1, 1L, 3000L, "bb", "v"))) ==
      TopicSummary(3L, 1L + 4L + 3L, 3L, 4L, 1000000L, 5000000L))
    // all-null timestamps: earliest/latest read 0
    val s = spark
    import s.implicits._
    assert(agreed(Seq(
      KafkaRecord(0, 0L, null, b("k"), b("v")),
      KafkaRecord(1, 0L, null, b("kk"), b("vv"))).toDS().toDF()) ==
      TopicSummary(2L, 6L, 2L, 4L, 0L, 0L))
  }

  test("Summary's sort-based fallback merge equals the driver-side fold, per group") {
    // q_topic_summary has no grouping key, so its ObjectHashAggregate
    // holds one buffer and never falls back. Grouped, with SpillConf's
    // threshold of 2 keys, every task holding 3+ groups sorts its
    // partial buffers and merges them with Summary.merge instead.
    val fb = spark.newSession()
    fb.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    import fb.implicits._
    val (noMin, noMax) = (Long.MaxValue, Long.MinValue)
    // 4 groups round the 48 rows, so each of the local scan's
    // contiguous slices holds all 4; every 5th buffer is a
    // tombstone-only partition's, and group 3 has no timestamp at all
    val bufs = (0 until 48).map { i =>
      val g = i % 4
      val dead = i % 5 == 0
      g -> SummaryBuf(i + 1L, 3L * i,
        if (dead) noMin else 10L + i % 7, if (dead) noMax else 20L + i,
        if (g == 3) noMin else 1000L * i, if (g == 3) noMax else 1000L * i + 5)
    }
    val out = bufs.toDF("g", "b")
      .groupBy(col("g"))
      .agg(udaf(Summary, Encoders.product[SummaryBuf])(
        col("b.total"), col("b.p_bytes"), col("b.min_alive_msg"),
        col("b.max_alive_msg"), col("b.min_ts"), col("b.max_ts")).as("s"))
      .select(col("g").as("_1"), col("s").as("_2"))
      .as[(Int, TopicSummary)]
    val got = out.collect().toMap
    // the fallback fired: ObjectHashAggregateExec counts the tasks
    // that switched to sort-based aggregation
    val fellBack = new AdaptiveSparkPlanHelper {}
      .collect(out.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }.sum
    assert(fellBack > 0, "no task fell back to sort-based aggregation")
    // the expected fold is written out field by field, independent of
    // Summary.merge, so a wrong merge cannot agree with itself
    val want = bufs.groupBy(_._1).map { case (g, xs) =>
      val bs = xs.map(_._2)
      g -> Summary.finish(SummaryBuf(bs.map(_.total).sum, bs.map(_.p_bytes).sum,
        bs.map(_.min_alive_msg).min, bs.map(_.max_alive_msg).max,
        bs.map(_.min_ts).min, bs.map(_.max_ts).max))
    }
    assert(got == want)
    assert(want(3).earliest_us == 0L && want(3).latest_us == 0L)
  }
}
