package graft

import org.apache.spark.sql.DataFrame

import graft.model.{KafkaRecord, TopicSummary}
import graft.operators.TopicMetrics

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
}
