package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{FetchFailed, SparkContext}
import org.apache.spark.graftbridge.{CleanerBridge, ListenerBusBridge}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one recorder of run facts, read by Bench, Verify and the specs.
  * `RunRecorder(spark)` attaches it once per SparkContext, so listeners
  * never stack. `window { body }` returns the body's value and one
  * [[RunRecorder.Record]]: the window's id rides on the calling thread
  * as a local property, so the jobs the body starts (their stages,
  * tasks and SQL executions) are credited to it, not to a concurrent
  * window on another thread. Nested windows also credit their
  * enclosing ones; every event lands in the session [[totals]]. The
  * bus is drained only after the end time and JVM meters are taken,
  * so the timed span is the body alone.
  */
final class RunRecorder private (private val sc: SparkContext)
    extends SparkListener {
  import RunRecorder.{Record, WindowProp}

  private final class Window(parent: Window) {
    val jobs, resubmitted, input, memSpill, diskSpill, fetchFailed,
      planMs = new AtomicLong
    private val jvm0 = jvmMeters()
    private val t0 = System.nanoTime()
    @volatile private var end: (Long, (Long, Long, Long), Long) = _

    def add(counter: Window => AtomicLong, n: Long): Unit = {
      counter(this).addAndGet(n)
      if (parent != null) parent.add(counter, n)
    }

    /** Takes the end time first, then the JVM meters. */
    def close(): Unit = {
      val t1 = System.nanoTime()
      end = (t1, jvmMeters(), CleanerBridge.pendingDepth(sc))
    }

    /** Time and JVM deltas as of `close`; counts as of now. */
    def record(): Record = {
      val (t1, (gc1, jit1, cl1), pending) = end
      val (gc0, jit0, cl0) = jvm0
      def delta(a: Long, b: Long) = if (a < 0 || b < 0) -1L else b - a
      def secs(ms: Long) = if (ms < 0) -1.0 else ms / 1e3
      Record((t1 - t0) / 1e9, jobs.get, resubmitted.get, input.get,
        memSpill.get, diskSpill.get, fetchFailed.get, planMs.get / 1e3,
        secs(delta(gc0, gc1)), secs(delta(jit0, jit1)), delta(cl0, cl1),
        pending)
    }
  }

  private val cleaned = CleanerBridge.attachCounter(sc)
  private val session = new Window(null)
  private val nextId = new AtomicLong
  private val open = new ConcurrentHashMap[String, Window]()
  private val stageOwner = new ConcurrentHashMap[Int, Window]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val executionOwner = new ConcurrentHashMap[String, Window]()

  /** (GC ms, JIT ms, cleaner events processed); -1 where unmeasurable. */
  private def jvmMeters(): (Long, Long, Long) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(-1L)(_.getTotalCompilationTime),
    cleaned.fold(-1L)(_.get))

  /** Runs `body` in a window, which closes (restoring the thread's
    * enclosing window) whether the body returns or throws. */
  def window[T](body: => T): (T, Record) = {
    val outer = sc.getLocalProperty(WindowProp)
    val parent = Option(outer).flatMap(o => Option(open.get(o)))
      .getOrElse(session)
    val id = nextId.incrementAndGet().toString
    sc.setLocalProperty(WindowProp, id)
    val w = new Window(parent)
    open.put(id, w)
    val out =
      try body
      finally {
        w.close()
        sc.setLocalProperty(WindowProp, outer)
        if (!sc.isStopped) ListenerBusBridge.waitUntilEmpty(sc)
        open.remove(id)
      }
    (out, w.record())
  }

  /** Session-wide totals since attach; still readable after
    * `spark.stop()`, which drains the bus itself. */
  def totals(): Record = {
    if (!sc.isStopped) ListenerBusBridge.waitUntilEmpty(sc)
    session.close()
    session.record()
  }

  private def stageWindow(stageId: Int): Window =
    Option(stageOwner.get(stageId)).getOrElse(session)
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val w = props.flatMap(p => Option(p.getProperty(WindowProp)))
      .flatMap(id => Option(open.get(id))).getOrElse(session)
    w.add(_.jobs, 1)
    e.stageIds.foreach(stageOwner.put(_, w))
    jobStages.put(e.jobId, e.stageIds)
    props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .foreach(executionOwner.put(_, w))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(e.jobId)).foreach(_.foreach(stageOwner.remove))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0)
      stageWindow(e.stageInfo.stageId).add(_.resubmitted, 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = stageWindow(e.stageId)
    if (e.reason.isInstanceOf[FetchFailed]) w.add(_.fetchFailed, 1)
    Option(e.taskMetrics).foreach { m =>
      w.add(_.input, m.inputMetrics.recordsRead)
      w.add(_.memSpill, m.memoryBytesSpilled)
      w.add(_.diskSpill, m.diskBytesSpilled)
    }
  }

  /** Planning time from the finished execution's own tracker, credited
    * to the window whose jobs ran it. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val w = Option(executionOwner.remove(end.executionId.toString))
        .getOrElse(session)
      Option(ColumnBridge.queryExecution(end)).foreach { qe =>
        w.add(_.planMs, qe.tracker.phases.values.map(_.durationMs).sum)
      }
    case _ => ()
  }
}

object RunRecorder {

  /** One window's facts: the body's wall clock, the counts of the jobs
    * it started, plan seconds from their executions' trackers, and the
    * JVM-global GC/JIT/cleaner deltas, where a heavy neighbour's
    * backlog surfaces; -1 = unmeasurable, never 0. `cleanerPending` is
    * the cleaner's registered set at close, a bound on its backlog. */
  final case class Record(seconds: Double, jobs: Long, resubmitted: Long,
      inputRecords: Long, memSpilled: Long, diskSpilled: Long,
      fetchFailed: Long, planSeconds: Double, gcSeconds: Double,
      jitSeconds: Double, cleaned: Long, cleanerPending: Long)

  /** Every field -1: a window that never ran clean. */
  val Unmeasured = Record(-1.0, -1L, -1L, -1L, -1L, -1L, -1L, -1.0, -1.0,
    -1.0, -1L, -1L)

  /** The local property carrying the innermost open window's id. */
  val WindowProp = "graft.run.window"

  private var attached: RunRecorder = _

  /** The recorder of `spark`'s SparkContext, attached on first use. */
  def apply(spark: SparkSession): RunRecorder = synchronized {
    val sc = spark.sparkContext
    if (!isAttached(sc)) {
      attached = new RunRecorder(sc)
      sc.addSparkListener(attached)
    }
    attached
  }

  def isAttached(sc: SparkContext): Boolean = synchronized {
    attached != null && (attached.sc eq sc)
  }
}
