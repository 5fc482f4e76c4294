package graft

import org.apache.spark.sql.DataFrame

import graft.model.{PartitionStats, TopicSummary}
import graft.operators.{AliveKeys, TopicMetrics}
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
    // ONE collect of the per-partition frame (stats + the min/max
    // partials); both the report rows and the global summary derive
    // from it driver-side — the data is scanned exactly once, as the
    // design doc promises. A second, key-partitioned aggregation runs
    // only for -c alive keys.
    val derived = TopicMetrics.withDerived(
      TopicMetrics.partitionStats(records))
    val rows = derived.collect()
    val idx = derived.columns.zipWithIndex.toMap
    def l(r: org.apache.spark.sql.Row, c: String): Long =
      r.getLong(idx(c))
    val stats = rows.toSeq.map { r =>
      PartitionStats(r.getInt(idx("partition")), l(r, "start_offset"),
        l(r, "end_offset"), l(r, "total"), l(r, "alive"), l(r, "tombstones"),
        r.getDouble(idx("dirty_ratio")), l(r, "key_null"), l(r, "key_non_null"),
        l(r, "p_bytes"), l(r, "key_bytes"), l(r, "value_bytes"),
        l(r, "avg_key_size"), l(r, "avg_value_size"), l(r, "avg_msg_size"))
    }.sortBy(_.partition)
    val summary = TopicMetrics.summaryFromPartials(rows.toSeq, idx)
    val alive =
      if (!countAliveKeys) None
      else if (rows.isEmpty) Some(0L)
      else Some(AliveKeys.exact(records))
    Result(stats, summary, alive)
  }

  def report(result: Result, topic: String, elapsedSecs: Long,
      compat: Boolean = false): String = {
    val render = if (compat) Report.renderCompat _ else Report.render _
    render(result.partitionStats, result.summary, topic,
      elapsedSecs, result.aliveKeys)
  }
}
