package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.KafkaRecord

/** One shared local session for all suites (sbt forks one test JVM).
  * Master carries maxFailures=2 (the `local[N, F]` form) so a task
  * failure is retried once — the cluster default is 4, and local[N]'s
  * no-retry default is the one configuration NO real deployment runs.
  * This is load-bearing for RetryDeterminismSpec (which injects a
  * first-attempt task failure and asserts results are unchanged).
  *
  * The silent-retry hazard that tradeoff opens — a FLAKY (nondeterministic)
  * bug in any other spec passing on attempt 2 and being masked — is
  * closed by the unexpected-retry listener below: every task that
  * SUCCEEDS on attemptNumber > 0 outside a declared retry window
  * counts as unexpected, and each suite's afterAll asserts its window
  * added none. Masked flakiness surfaces loudly instead of vanishing
  * into the scheduler's second attempt. Only SUCCESSFUL retries
  * count: specs that deliberately run failing jobs (intercept-style
  * rejection tests, e.g. HllSketchSpec's mismatched-register union)
  * make the scheduler retry a task that fails BOTH attempts — that
  * retry masks nothing, the job still fails as asserted.
  */
object SparkSuite {
  /** Retried task starts observed OUTSIDE a declared retry window —
    * suite afterAll hooks assert this never moves on their watch. */
  val unexpectedRetries = new java.util.concurrent.atomic.AtomicLong
  /** Last offender, for the failure message. */
  @volatile var lastUnexpectedRetry: String = ""
  /** >0 ⇒ retries are expected (RetryDeterminismSpec's injections).
    * A depth, not a flag, so nested/overlapping windows compose. */
  val expectedRetryDepth = new java.util.concurrent.atomic.AtomicInteger

  lazy val spark: SparkSession = {
    // a fixed layout, whatever SPARK_GRAFT_* the test run exports: the
    // retry master above is load-bearing, and spill/chaos knobs would
    // turn the suite into a different regime
    val s = GraftSession.build(
      GraftSession.Layout("local[4, 2]", "4"), Map.empty)
    s.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo.attemptNumber > 0 &&
              t.reason == org.apache.spark.Success &&
              expectedRetryDepth.get == 0) {
            lastUnexpectedRetry = s"stage ${t.stageId} task " +
              s"${t.taskInfo.taskId} attempt ${t.taskInfo.attemptNumber}"
            unexpectedRetries.incrementAndGet()
            System.err.println(
              s"[SparkSuite] UNEXPECTED successful task retry: " +
                lastUnexpectedRetry)
          }
      })
    s
  }
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.spark

  /** Override to true in a suite that INTENTIONALLY fails tasks
    * (RetryDeterminismSpec); it must also hold a retry window open
    * via [[SparkSuite.expectedRetryDepth]] for its duration. */
  protected def taskRetriesExpected: Boolean = false

  private var retriesAtStart = 0L

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    if (taskRetriesExpected) SparkSuite.expectedRetryDepth.incrementAndGet()
    retriesAtStart = SparkSuite.unexpectedRetries.get
  }

  override protected def afterAll(): Unit = {
    try {
      // drain the async listener bus DETERMINISTICALLY before touching
      // the retry accounting: with a time-based sleep a late-delivered
      // event either leaks past a closing retry window into the next
      // suite's watch (false positive) or — in the guarded branch — is
      // silently absorbed into the next suite's beforeAll baseline
      // (missed). waitUntilEmpty makes every event of THIS suite's jobs
      // attributable to this suite's window before it is read/closed.
      org.apache.spark.graftbridge.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext)
      if (taskRetriesExpected)
        SparkSuite.expectedRetryDepth.decrementAndGet()
      else
        assert(SparkSuite.unexpectedRetries.get == retriesAtStart,
          s"a task was silently RETRIED during this suite (last: " +
            s"${SparkSuite.lastUnexpectedRetry}) — the shared session's " +
            "maxFailures=2 master may be masking a flaky task-level bug; " +
            "find the nondeterminism or declare taskRetriesExpected")
    } finally super.afterAll()
  }

  def ts(ms: Long): java.sql.Timestamp = new java.sql.Timestamp(ms)

  def b(s: String): Array[Byte] =
    if (s == null) null else s.getBytes("UTF-8")

  /** Record-log frame from (partition, offset, tsMillis, key, value). */
  def records(rows: (Int, Long, Long, String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (p, o, t, k, v) => KafkaRecord(p, o, ts(t), b(k), b(v)) }
      .toDS().toDF()
  }

  def rowsOf(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** Shared rank-error bracket contract for the approx-percentile
    * family (batch sketch AND its streaming twin): each pNN in `got`
    * must lie within the EXACT [p−2%, p+2%] order-statistic bracket
    * for its event type, and every type must be present. One
    * definition so the two specs cannot drift apart.
    */
  def assertPercentileBracket(ev: DataFrame,
      got: Seq[org.apache.spark.sql.Row], ps: Seq[Double]): Unit = {
    val lo = graft.operators.EventAnalytics.valuePercentiles(
        ev, ps.map(p => (p - 0.02).max(0.01)))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val hi = graft.operators.EventAnalytics.valuePercentiles(
        ev, ps.map(p => (p + 0.02).min(1.0)))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got.nonEmpty && got.length == lo.size)
    got.foreach { r =>
      val t = r.getString(0)
      ps.indices.foreach { i =>
        val a = r.getDouble(i + 1)
        val l = lo(t)(i).asInstanceOf[Double]
        val h = hi(t)(i).asInstanceOf[Double]
        assert(a >= l && a <= h,
          s"$t p${(ps(i) * 100).toInt}: $a outside exact bracket [$l, $h]")
      }
    }
  }
}
