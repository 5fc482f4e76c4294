package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, TopicAnalyzer}
import graft.operators.{AliveKeys, TopicMetrics}
import graft.sources.EventsAsRecords

/** In-process side of the benchmark. It drives the engine only through
  * its public functions and writes one JSON file that `run.py` reads.
  *
  *   topic    <records.parquet> <seconds> <trace 0|1> <out.json>
  *   registry <events dir> <q1,q2,...> <seed> <seconds> <trace 0|1> <results dir> <out.json>
  *   clitrace <events dir> <launch epoch ns> <out.json>
  *
  * `topic` and `registry` are warm: set-up (session, inputs, two or
  * three untimed rounds of every operation) ends before the timed closed loop.
  * `clitrace` replays the steps of `graft.cli.Main --parquet <dir> -c`
  * from public calls, one span per step, then repeats the Spark steps
  * warm, untraced and traced in turn, for the tracing overhead.
  */
object Harness {

  private val HeapPeak = "jvm.heap_peak_mb"

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = args(0) match {
      case "topic" => topic(args(1), args(2).toDouble, args(3) == "1", jvmStart)
      case "registry" => registry(args(1), args(2).split(',').toSeq,
        args(3).toLong, args(4).toDouble, args(5) == "1", args(6), jvmStart)
      case "clitrace" => cliTrace(args(1), args(2).toLong)
      case m => sys.error(s"unknown mode $m")
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(args.last), out)
  }

  private def secs(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e9

  /** CPU time of the whole process (task, driver, GC and JIT threads). */
  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def setupSecs(jvmStartMillis: Long): Double =
    (System.currentTimeMillis() - jvmStartMillis) / 1e3

  /** The session `graft.cli.Main` builds when no SPARK_* variable is set. */
  def cliSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[*]")
      .appName("graft-topic-analyzer")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session `graft.Bench` builds with its defaults. */
  def benchSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def resultJson(r: TopicAnalyzer.Result): Map[String, Any] = Map(
    "partitions" -> r.partitionStats.map(p => Map(
      "partition" -> p.partition, "start_offset" -> p.start_offset,
      "end_offset" -> p.end_offset, "total" -> p.total, "alive" -> p.alive,
      "tombstones" -> p.tombstones,
      "dirty_ratio" -> String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(p.dirty_ratio)),
      "key_null" -> p.key_null, "key_non_null" -> p.key_non_null,
      "p_bytes" -> p.p_bytes, "key_bytes" -> p.key_bytes,
      "value_bytes" -> p.value_bytes, "avg_key_size" -> p.avg_key_size,
      "avg_value_size" -> p.avg_value_size, "avg_msg_size" -> p.avg_msg_size)),
    "summary" -> Map(
      "overall_count" -> r.summary.overall_count,
      "overall_bytes" -> r.summary.overall_bytes,
      "smallest_msg" -> r.summary.smallest_msg,
      "largest_msg" -> r.summary.largest_msg,
      "earliest_us" -> r.summary.earliest_us,
      "latest_us" -> r.summary.latest_us),
    "alive_keys" -> r.aliveKeys.orNull)

  /** One report as `graft.cli.Main` computes it, split at the layer
    * boundaries: the stats pass, then (optionally) the alive-key pass,
    * then rendering. Untraced, the spans cost nothing. */
  private def topicOp(tr: Tracer, records: DataFrame, alive: Boolean)
      : TopicAnalyzer.Result = {
    val stats = tr.span("topic_metrics")(TopicAnalyzer.analyze(records))
    val result = if (!alive) stats else stats.copy(aliveKeys =
      Some(tr.span("alive_keys")(AliveKeys.exact(records))))
    tr.span("report.render")(TopicAnalyzer.report(result, "bench", 1L))
    result
  }

  /** Untraced and traced rounds in turn, so JIT warming over the run
    * does not read as tracing cost. JVM counters cover the traced rounds. */
  private def interleaved[T](rounds: Int)(round: Boolean => Seq[T])
      : (Seq[T], Seq[T], Map[String, Double]) = {
    val plain, traced = mutable.ArrayBuffer[T]()
    val jvm = mutable.Map[String, Double]().withDefaultValue(0.0)
    (1 to rounds).foreach { _ =>
      plain ++= round(false)
      val j0 = JvmCounters()
      JvmCounters.resetHeapPeak()
      traced ++= round(true)
      JvmCounters.delta(j0).foreach { case (k, v) => jvm(k) += v }
      jvm(HeapPeak) = jvm(HeapPeak).max(JvmCounters.heapPeakMb())
    }
    (plain.toSeq, traced.toSeq, jvm.toMap)
  }

  private def topic(path: String, seconds: Double, trace: Boolean,
      jvmStart: Long): Map[String, Any] = {
    val spark = cliSession()
    val tr = new Tracer(spark)
    val records = spark.read.parquet(path)
    val kinds = Seq("report" -> false, "report_alive" -> true)
    // untimed rounds: the first pays codegen, the second most of the JIT
    val warm = (1 to 2).flatMap(_ =>
      kinds.map { case (kind, alive) => kind -> resultJson(topicOp(tr, records, alive)) })
    val setup = setupSecs(jvmStart)
    // closed loop over pairs of operations: a report, then one with
    // alive keys
    def loop(traced: Boolean, minPairs: Int, budget: Double) = {
      tr.enabled = traced
      val ops = mutable.ArrayBuffer[Map[String, Any]]()
      val t0 = System.nanoTime()
      while (ops.size < 2 * minPairs || secs(t0) < budget)
        kinds.foreach { case (kind, alive) =>
          val (t, c) = (System.nanoTime(), cpuNanos())
          val r = tr.span("op")(topicOp(tr, records, alive))
          ops += Map("kind" -> kind, "s" -> secs(t), "cpu_s" -> (cpuNanos() - c) / 1e9,
            "result" -> resultJson(r))
        }
      ops.toSeq
    }
    val base = Map("setup_s" -> setup,
      "warmup" -> warm.map { case (k, r) => Map("kind" -> k, "result" -> r) })
    // at least four pairs: JIT still trims the first timed pairs, so a
    // run that fits fewer would read slower for that alone
    val res = if (!trace) base + ("ops" -> loop(traced = false, 4, seconds))
    else {
      val (untraced, traced, jvm) = interleaved(2)(t => loop(t, 1, 0))
      base ++ Map("untraced_ops" -> untraced, "ops" -> traced,
        "jvm" -> jvm, "spans" -> tr.spansJson)
    }
    spark.stop()
    res
  }

  private def registry(dir: String, names: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, resultsDir: String,
      jvmStart: Long): Map[String, Any] = {
    val spark = benchSession()
    val tr = new Tracer(spark)
    val queries = names.map(n => n -> SparkEntry.queries(n))
    val rnd = new scala.util.Random(seed)
    def pass(traced: Boolean): Seq[Map[String, Any]] = {
      tr.enabled = traced
      rnd.shuffle(queries).map { case (name, q) =>
        val (t, c) = (System.nanoTime(), cpuNanos())
        tr.span(s"registry.$name") {
          val df = tr.span("registry.construct")(q(spark, dir))
          tr.span("registry.write")(
            df.write.format("noop").mode("overwrite").save())
        }
        Map("kind" -> name, "s" -> secs(t), "cpu_s" -> (cpuNanos() - c) / 1e9)
      }
    }
    // untimed passes: the first pays codegen, the next two most of the
    // JIT; with two, the timed passes still sped up by a fifth
    (1 to 3).foreach(_ => pass(traced = false))
    val setup = setupSecs(jvmStart)
    def loop(minPasses: Int, budget: Double) = {
      val passes = mutable.ArrayBuffer[Seq[Map[String, Any]]]()
      val t0 = System.nanoTime()
      while (passes.size < minPasses || secs(t0) < budget) passes += pass(traced = false)
      passes.toSeq
    }
    val base = Map[String, Any]("setup_s" -> setup)
    // at least four passes, for the same reason as `topic`'s four pairs
    val res = if (!trace) base + ("passes" -> loop(4, seconds))
    else {
      val (untraced, traced, jvm) = interleaved(2)(t => Seq(pass(t)))
      base ++ Map("untraced_passes" -> untraced, "passes" -> traced,
        "jvm" -> jvm, "spans" -> tr.spansJson)
    }
    // outputs for the oracle check, outside every timed window
    tr.enabled = false
    queries.foreach { case (name, q) =>
      q(spark, dir).write.mode("overwrite").parquet(s"$resultsDir/$name")
    }
    val oracle = SparkEntry.oracleSql
    spark.stop()
    res + ("oracle_sql" -> names.map(n => n -> oracle(n)).toMap)
  }

  private def cliTrace(dir: String, launchEpochNanos: Long): Map[String, Any] = {
    val jvmStartS = (System.currentTimeMillis() * 1000000L - launchEpochNanos) / 1e9
    val jvm0 = JvmCounters()
    JvmCounters.resetHeapPeak()
    val tr = new Tracer(null)
    tr.enabled = true
    val (spark, records, result) = tr.span("cli") {
      val spark = tr.span("cli.session_build") {
        val s = cliSession(); tr.attach(s); s
      }
      val records = tr.span("sources.construct")(EventsAsRecords.records(spark, dir))
      require(!tr.span("cli.guard")(TopicMetrics.isEmpty(records)), "empty input")
      (spark, records, topicOp(tr, records, alive = true))
    }
    // the source on its own, through the noop sink: not a step of the CLI
    tr.span("sources.scan")(records.write.format("noop").mode("overwrite").save())
    val jvm = JvmCounters.delta(jvm0) + (HeapPeak -> JvmCounters.heapPeakMb())
    val spans = tr.spansJson
    // tracing cost: the CLI's Spark steps again, now warm, with the
    // Tracer disabled and enabled in turn; these spans are not reported
    val (plain, traced, _) = interleaved(2) { t =>
      tr.enabled = t
      val t0 = System.nanoTime()
      tr.span("cli") {
        val r = tr.span("sources.construct")(EventsAsRecords.records(spark, dir))
        tr.span("cli.guard")(TopicMetrics.isEmpty(r))
        topicOp(tr, r, alive = true)
      }
      Seq(secs(t0))
    }
    tr.enabled = true
    tr.span("cli.stop")(spark.stop())
    val stop = tr.spansJson.last
    Map("jvm_start_s" -> jvmStartS, "jvm" -> jvm, "spans" -> (spans :+ stop),
      "overhead_s" -> (median(traced) - median(plain)),
      "result" -> resultJson(result))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

/** JVM-wide counters read around a traced window. */
object JvmCounters {
  def apply(): Map[String, Double] = Map(
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)

  def delta(from: Map[String, Double]): Map[String, Double] =
    apply().map { case (k, v) => k -> (v - from(k)) }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Starts the window `heapPeakMb` reads. */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** The heap pools' peak use since `resetHeapPeak`, summed, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Spans around calls into the engine, with the Spark work done inside
  * each one. A span's id rides on the driver thread as a local property,
  * so every job, stage and task is attributed to the span that started
  * it. Query executions arrive on the listener bus; the bus is drained
  * when a span closes (after its end time is taken), and the executions
  * finished since are credited to that span. Spans stay in memory until
  * `spansJson`. */
final class Tracer(initial: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Long) {
    @volatile var end = 0L
    val counters = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)
  }

  @volatile var enabled = false
  private var spark: SparkSession = _
  private val spans = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val finished = new ConcurrentLinkedQueue[QueryExecution]()
  if (initial != null) attach(initial)

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.nanoTime())
      spans.put(s.id, s)
      stack = s :: stack
      setProp(s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        if (spark != null && !spark.sparkContext.isStopped) {
          ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
          Iterator.continually(finished.poll()).takeWhile(_ != null)
            .foreach(credit(s, _))
        }
        stack = stack.tail
        setProp(stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def setProp(v: String): Unit =
    if (spark != null && !spark.sparkContext.isStopped)
      spark.sparkContext.setLocalProperty(SpanProp, v)

  /** Planning time from the execution's own tracker, and the row counts
    * into and out of every partial grouped aggregate it ran. */
  private def credit(s: Span, qe: QueryExecution): Unit = {
    s.add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    collect(qe.executedPlan) {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty &&
          a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) => a
    }.foreach { a =>
      a.metrics.get("numOutputRows").foreach(m => s.add("partial_agg_out", m.value))
      rowsInto(a).foreach(n => s.add("partial_agg_in", n))
    }
  }

  private def rowsInto(p: SparkPlan): Option[Long] =
    p.children.headOption.flatMap(c =>
      c.metrics.get("numOutputRows").map(_.value).orElse(rowsInto(c)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .flatMap(id => Option(spans.get(id.toInt))).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
      case (s, m) =>
        s.add("busy_s", m.executorRunTime / 1e3)
        s.add("input_records", m.inputMetrics.recordsRead)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) finished.add(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def spansJson: Seq[Map[String, Any]] =
    spans.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start / 1e9, "end" -> s.end / 1e9,
      "counters" -> s.counters.asScala.toMap))
}

object Tracer {
  val SpanProp = "perfbench.span"
}
