package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Execution-boundary storage hygiene for every registry walker
  * (Bench, Verify, ExplainDump, GoldenStoreGen, the registry-wide
  * specs): [[run]] builds a query's frame and runs the caller's action;
  * its [[Run.release]] step frees the checkpoints the plan embeds (the
  * near-dup label family's storage contract — see
  * `Dedup.nearDupLabels`) and asserts the session is back at its
  * persistent-RDD fixed point, sweeping loudly if not. One definition,
  * so failure reporting and leak accounting cannot drift apart.
  */
object StorageHygiene {

  /** Make a checkpoint-embedding frame's storage contract STRUCTURAL:
    * run `f` over `df`, then release `df`'s embedded checkpoints in
    * `finally` (blocking). The scoped form of the scaladoc plea on
    * `Dedup.nearDupLabels` / `Similarity.semanticKeep` — a forgetful
    * caller in a long-lived session otherwise accumulates one
    * persisted frame per invocation in the block manager.
    *
    * CONTRACT: every action over `df` (or any frame derived from it)
    * must happen INSIDE `f`. The checkpoint truncated the frame's
    * lineage, so after release its blocks cannot be recomputed — a
    * lazy frame smuggled out of `f` and executed later fails with
    * missing blocks (loudly, not wrongly). Return materialized
    * results (collected rows, counts, a frame written to storage).
    */
  def scoped[D <: Dataset[_], A](df: D)(f: D => A): A = {
    var primary: Throwable = null
    try f(df)
    catch { case t: Throwable => primary = t; throw t }
    finally {
      // the release must not MASK the body's failure: a blocking
      // unpersist can itself throw when the body's error was an
      // executor/session death, and a finally that throws replaces
      // the root cause — suppress the release failure onto it instead
      try ColumnBridge.unpersistCheckpoint(df, blocking = true)
      catch {
        case t: Throwable =>
          if (primary ne null) primary.addSuppressed(t) else throw t
      }
    }
  }

  /** One query run by [[run]]: the action's value or its failure, and
    * the build's seconds (-1 when the build failed). [[release]] is
    * every caller's next step — Bench's outside its timed window. */
  final class Run[A] private[StorageHygiene] (spark: SparkSession,
      tag: String, name: String, frame: Option[DataFrame],
      outcome: Either[Throwable, A], val constructSeconds: Double) {
    def ok: Boolean = outcome.isRight
    /** The first message line, or the class name when it is null. */
    def failure: Option[String] = outcome.left.toOption.map(describe)
    /** The action's value; rethrows the failure. */
    def get: A = outcome match { case Right(a) => a; case Left(t) => throw t }
    private var released = false
    private var swept = 0
    /** Persistent RDDs the release swept after a CLEAN run — operator
      * storage-contract violations. Debris behind a failed run is
      * swept but not counted. Spark keeps `getPersistentRDDs` by weak
      * reference, so a persisted RDD that nothing references any more
      * can drop out of it before the release: the ContextCleaner frees
      * that one, and it is never swept here nor counted. */
    def leaked: Int = swept
    /** Release the frame's embedded checkpoints — BLOCKING, so the next
      * measurement starts from a clean block manager instead of racing
      * asynchronous removal — then sweep and count stragglers. */
    def release(): Run[A] = {
      if (!released) {
        released = true
        val left = releaseAndSweep()
        if (ok) swept = left
      }
      this
    }

    private def releaseAndSweep(): Int = {
      frame.foreach(ColumnBridge.unpersistCheckpoint(_, blocking = true))
      val left = spark.sparkContext.getPersistentRDDs
      if (left.nonEmpty) {
        val blame =
          if (ok) "after checkpoint release — sweeping (fix the operator!)"
          else "behind a failed run — sweeping (crash debris, not an operator bug)"
        System.err.println(s"[$tag] $name left ${left.size} persistent RDD(s) $blame")
        left.values.foreach(_.unpersist(blocking = true))
      }
      left.size
    }
  }

  /** Run one registry query: time `build` (the registry function), bind
    * its frame BEFORE `action` so a failed action still gets a targeted
    * release, and catch any failure, reported as `[tag] name FAILED:
    * <first line>` on stderr. Every action over the frame must happen
    * inside `action` (see [[scoped]]'s contract). */
  def run[A](spark: SparkSession, tag: String, name: String)(
      build: => DataFrame)(action: DataFrame => A): Run[A] = {
    var frame: Option[DataFrame] = None
    var construct = -1.0
    val outcome =
      try {
        val c0 = System.nanoTime()
        val df = build
        construct = (System.nanoTime() - c0) / 1e9
        frame = Some(df)
        Right(action(df))
      } catch {
        case t: Throwable =>
          System.err.println(s"[$tag] $name FAILED: ${describe(t)}")
          Left(t)
      }
    new Run(spark, tag, name, frame, outcome, construct)
  }

  private def describe(t: Throwable): String =
    Option(t.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(t.getClass.getName)
}
