package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.model.{PartitionStats, TopicSummary}
import graft.operators.{AliveKeys, TopicMetrics}
import graft.operators.TopicMetrics.{Summary, SummaryBuf}
import graft.report.Report

/** The engine's user-facing facade: the reference's whole program
  * (`src/main.rs:29-180`) as a three-call API — scan a record log,
  * aggregate per-partition + global stats in one pass, optionally count
  * alive keys, render the report.
  */
object TopicAnalyzer {

  final case class Result(
      partitionStats: Seq[PartitionStats],
      summary: TopicSummary,
      aliveKeys: Option[Long])

  /** Analyze a record-log frame ([[graft.model.RecordSchema]] shape).
    * One scan for all C/D/E metrics; a second, key-partitioned hash
    * aggregation ([[AliveKeys.exact]]) only when `countAliveKeys`
    * (mirroring the reference's optional `-c` handler registration,
    * `src/main.rs:77-80`) and the stats found at least one record. Zero
    * stats rows is how callers detect an empty topic — no separate
    * probe job — and an empty topic has 0 alive keys without a scan.
    */
  def analyze(records: DataFrame, countAliveKeys: Boolean = false): Result = {
    // ONE collect of the per-partition frame; each row decodes once into
    // its report row and its D1-D6 buffer, and the buffers fold with the
    // merge q_topic_summary runs — the data is scanned exactly once, as
    // the design doc promises. A second, key-partitioned aggregation
    // runs only for -c alive keys.
    val (stats, bufs) = TopicMetrics.withDerived(
      TopicMetrics.partitionStats(records)).collect().toSeq.map(decode).unzip
    val alive =
      if (!countAliveKeys) None
      else if (stats.isEmpty) Some(0L)
      else Some(AliveKeys.exact(records))
    Result(stats.sortBy(_.partition),
      Summary.finish(bufs.foldLeft(Summary.zero)(Summary.merge)), alive)
  }

  private def decode(r: Row): (PartitionStats, SummaryBuf) = {
    def l(c: String): Long = r.getAs[Long](c)
    (PartitionStats(r.getAs[Int]("partition"), l("start_offset"),
        l("end_offset"), l("total"), l("alive"), l("tombstones"),
        r.getAs[Double]("dirty_ratio"), l("key_null"), l("key_non_null"),
        l("p_bytes"), l("key_bytes"), l("value_bytes"),
        l("avg_key_size"), l("avg_value_size"), l("avg_msg_size")),
      SummaryBuf(l("total"), l("p_bytes"), l("min_alive_msg"),
        l("max_alive_msg"), l("min_ts"), l("max_ts")))
  }

  def report(result: Result, topic: String, elapsedSecs: Long,
      compat: Boolean = false): String = {
    val render = if (compat) Report.renderCompat _ else Report.render _
    render(result.partitionStats, result.summary, topic,
      elapsedSecs, result.aliveKeys)
  }
}
