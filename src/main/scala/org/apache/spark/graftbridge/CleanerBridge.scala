package org.apache.spark.graftbridge

import org.apache.spark.{CleanerListener, SparkContext}

/** Bridge into the `private[spark]` ContextCleaner so
  * [[graft.RunRecorder]] can MEASURE the async cleanup backlog a window
  * inherits. Lives under `org.apache.spark` purely for access; no Spark
  * internals are modified — one listener attached, one private field
  * read reflectively.
  */
object CleanerBridge {

  /** Monotone counter of cleanup events the ContextCleaner has
    * PROCESSED (RDDs, shuffles, broadcasts, accumulators,
    * checkpoints). A large per-window delta means the cleaner was
    * draining a backlog inside that window — work a heavy neighbor
    * enqueued but never paid for in its own timing. */
  final class CleanedCounter extends CleanerListener {
    private val n = new java.util.concurrent.atomic.AtomicLong
    def get: Long = n.get
    override def rddCleaned(rddId: Int): Unit = n.incrementAndGet()
    override def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet()
    override def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet()
    override def accumCleaned(accId: Long): Unit = n.incrementAndGet()
    override def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet()
  }

  /** Attach a processed-events counter; None when the cleaner is
    * disabled (spark.cleaner.referenceTracking=false). */
  def attachCounter(sc: SparkContext): Option[CleanedCounter] =
    sc.cleaner.map { c => val l = new CleanedCounter; c.attachListener(l); l }

  /** Size of the cleaner's reference buffer — every REGISTERED and
    * not-yet-cleaned object. This is an UPPER BOUND on backlog, not a
    * queue depth: the set also holds live, strongly-reachable objects
    * (cached RDDs, live broadcasts), which leave it only after they
    * are GC'd AND the cleaner processes them. Read it as a bound and
    * watch deltas — the true owed-work signal is [[CleanedCounter]]'s
    * per-window drain. Read reflectively (the field is private with
    * no accessor); −1 when the field shape changes across Spark
    * versions or the cleaner is off, so a diagnostic can never crash
    * a bench run. */
  def pendingDepth(sc: SparkContext): Long =
    sc.cleaner.map { c =>
      try {
        val f = c.getClass.getDeclaredFields
          .find(_.getName.endsWith("referenceBuffer"))
          .getOrElse(throw new NoSuchFieldException("referenceBuffer"))
        f.setAccessible(true)
        f.get(c).asInstanceOf[java.util.Set[_]].size.toLong
      } catch { case _: Throwable => -1L }
    }.getOrElse(-1L)
}
