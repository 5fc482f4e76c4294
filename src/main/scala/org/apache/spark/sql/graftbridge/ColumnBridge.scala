package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters so
  * graft's custom Catalyst expressions can surface as user-facing
  * `Column`s. Lives under `org.apache.spark.sql` purely for access; no
  * Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Catalyst conversion. [[expression]] wraps the
    * column node lazily (`ColumnNodeExpression`, an `Unevaluable`
    * marker the plan-level resolution normally replaces) — fine as a
    * plan input, but a tree RETURNED FROM a SQL function builder skips
    * that replacement and the wrapper survives into codegen, where it
    * throws. This converts the node tree to real Catalyst expressions
    * up front; embedded `UnresolvedFunction`s still resolve in the
    * analyzer's remaining iterations.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The standard wrong-number-of-arguments AnalysisException Spark's
    * own function builders throw — `QueryCompilationErrors` is
    * `private[sql]`, hence bridged here. */
  def wrongNumArgsError(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.wrongNumArgsError(
      name, scala.collection.immutable.Seq(expected), actual)

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * frame (or any frame derived from one). `Dataset.unpersist` only
    * clears CacheManager entries — a local checkpoint is an RDD-level
    * persist the CacheManager never sees — so iterative operators that
    * checkpoint per round would otherwise leak blocks for the session
    * lifetime. Only call on frames that are never executed again: the
    * checkpoint truncated their lineage, so dropped blocks cannot be
    * recomputed. `blocking = true` waits for the blocks to actually be
    * freed — measurement boundaries (Bench/Verify) want that; inside
    * iterative loops the async default avoids stalling the next round.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.Dataset[_],
      blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking)
      case _ => ()
    }

  /** The QueryExecution an execution-end event carries (null when none
    * is attached), with its execution id: what lets [[graft.RunRecorder]]
    * credit planning time to the window whose jobs ran it. */
  def queryExecution(e: org.apache.spark.sql.execution.ui
      .SparkListenerSQLExecutionEnd): org.apache.spark.sql.execution
      .QueryExecution = e.qe
}

/** Bridge for `ImplicitCastInputTypes`: its `inputTypes` signature
  * names the `private[sql]` `AbstractDataType`, so expressions outside
  * this namespace implement `graftInputTypes` with public `DataType`s
  * instead.
  */
trait GraftInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  def graftInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    graftInputTypes
}
