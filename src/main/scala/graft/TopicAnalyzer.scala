package graft

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution

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
    * One scan for all C/D/E metrics; with `countAliveKeys` (the
    * reference's optional `-c` handler registration,
    * `src/main.rs:77-80`) a second, key-partitioned hash aggregation
    * ([[AliveKeys.exact]]) runs beside it, on its own thread, and the
    * call returns once both jobs have ended. If either fails, its
    * failure is rethrown after the other has ended, so no job outlives
    * the call. Zero stats rows is how callers detect an empty topic —
    * no separate probe job — and an empty topic's alive count is the
    * alive job's 0.
    */
  def analyze(records: DataFrame, countAliveKeys: Boolean = false): Result = {
    // ONE collect of the per-partition frame; each row decodes once into
    // its report row and its D1-D6 buffer, and the buffers fold with the
    // merge q_topic_summary runs
    def statsPass() = TopicMetrics.withDerived(
      TopicMetrics.partitionStats(records)).collect().toSeq.map(decode).unzip
    val ((stats, bufs), alive) =
      if (!countAliveKeys) (statsPass(), None)
      else {
        val (s, a) = alongside(records.sparkSession)(
          statsPass(), AliveKeys.exact(records))
        (s, Some(a))
      }
    Result(stats.sortBy(_.partition),
      Summary.finish(bufs.foldLeft(Summary.zero)(Summary.merge)), alive)
  }

  /** Runs `side` on a thread of its own while `main` runs on the
    * caller's, and returns both results once both have ended. The side
    * thread carries the caller's local properties, so its jobs fall in
    * the caller's job group and `RunRecorder` window. A failure of
    * either is rethrown only after the other has ended. */
  private def alongside[A, B](spark: SparkSession)(main: => A, side: => B): (A, B) = {
    val pool = Executors.newSingleThreadExecutor()
    try {
      val pending = SQLExecution.withThreadLocalCaptured(
        ClassicConversions.castToImpl(spark), pool)(side)
      def sideResult(): B =
        try pending.get() catch { case e: ExecutionException => throw e.getCause }
      val a = try main catch {
        case e: Throwable =>
          Try(sideResult()).failed.foreach(e.addSuppressed)
          throw e
      }
      (a, sideResult())
    } finally pool.shutdown()
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
