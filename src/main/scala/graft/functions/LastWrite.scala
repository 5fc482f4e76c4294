package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** The engine's one arg-max aggregate: the `payload` of the row whose
  * `order` tuple is largest — over a record log, the last write by
  * (partition, offset). The tuple compares the way Spark compares a
  * struct: field by field, nulls lowest, NaN highest, -0.0 = 0.0, so
  * `LastWrite(Seq(a, b), x)` picks the row Spark's `max_by` picks for
  * `x` ordered by `struct(a, b)`. Every input is fixed-width and the
  * buffer is one slot per input, so the buffer is a mutable UnsafeRow
  * and the planner picks a code-generated `HashAggregate` with map-side
  * partials. (`max_by` or `max` over a struct cannot keep its buffer in
  * a hash map and plans a sort-based aggregate that sorts every input
  * row.)
  *
  * "No row yet" is a null in a slot whose input is never null, so an
  * empty buffer is never mistaken for a null order field; when every
  * input is nullable, a BOOLEAN `seen` slot is appended to carry it.
  * A row replaces the buffer only when its tuple is strictly larger.
  * Update and merge are that one comparison, so the result does not
  * depend on input or merge order unless two rows tie on the whole
  * tuple: callers make the tuple unique per group (a log's (partition,
  * offset); a score followed by the negated id).
  */
case class LastWrite(order: Seq[Expression], payload: Expression)
    extends DeclarativeAggregate {
  override def children: Seq[Expression] = order :+ payload
  override def nullable: Boolean = true
  override def dataType: DataType = payload.dataType
  override def prettyName: String = "graft_last_write"

  /** Every fixed-width type is also orderable. */
  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => !UnsafeRow.isMutable(c.dataType)).fold[TypeCheckResult](
      TypeCheckResult.TypeCheckSuccess)(c => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs fixed-width inputs; ${c.sql} is ${c.dataType.catalogString}"))

  /** One slot per input, named after it where it has a name. */
  private lazy val slots: Seq[AttributeReference] = children.zipWithIndex.map {
    case (n: NamedExpression, _) => AttributeReference(n.name, n.dataType)()
    case (c, i) => AttributeReference(s"slot_$i", c.dataType)()
  }
  private lazy val seen: Seq[AttributeReference] =
    if (children.exists(!_.nullable)) Nil
    else Seq(AttributeReference("seen", BooleanType)())
  /** The slot whose null means "no row yet". */
  private lazy val marker: Int =
    if (seen.nonEmpty) slots.size else children.indexWhere(!_.nullable)

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots ++ seen
  override lazy val initialValues: Seq[Expression] =
    aggBufferAttributes.map(a => Literal(null, a.dataType))

  /** Whether tuple `a` sorts after tuple `b`. */
  private def greater(a: Seq[Expression], b: Seq[Expression]): Expression = {
    val fields = a.zip(b).map { case (x, y) =>
      (And(IsNotNull(x), Or(IsNull(y), GreaterThan(x, y))), EqualNullSafe(x, y))
    }
    fields.init.foldRight(fields.last._1: Expression) { case ((gt, eq), rest) =>
      Or(gt, And(eq, rest))
    }
  }

  /** The buffer `buf` after offering it `row` (both full slot lists). */
  private def offer(buf: Seq[Expression], row: Seq[Expression]): Seq[Expression] = {
    val take = And(IsNotNull(row(marker)), Or(IsNull(buf(marker)),
      greater(row.take(order.size), buf.take(order.size))))
    buf.zip(row).map { case (b, r) => If(take, r, b) }
  }
  override lazy val updateExpressions: Seq[Expression] =
    offer(aggBufferAttributes, children ++ seen.map(_ => Literal(true)))
  override lazy val mergeExpressions: Seq[Expression] =
    offer(aggBufferAttributes.map(_.left), aggBufferAttributes.map(_.right))
  override lazy val evaluateExpression: Expression = slots.last

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): LastWrite = copy(c.init, c.last)
}

object LastWrite {

  /** `payload` of each group's row with the largest `order` tuple, as an
    * aggregate `Column`. Project anything wider (a value's bytes) down
    * to the fixed-width fact the caller needs before it reaches here. */
  def argMax(payload: Column, order: Column*): Column =
    ColumnBridge.column(LastWrite(order.map(ColumnBridge.catalystExpression),
      ColumnBridge.catalystExpression(payload)).toAggregateExpression())

  /** Each group's `id` with the highest `score` (a null score lowest,
    * NaN highest), ties toward the smaller id. */
  def bestId(id: Column, score: Column): Column = argMax(id, score, -id)
}
