package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graftbridge.{ColumnBridge, GraftInputTypes}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}

/** Last-write-wins over a record log: the `dead` flag of the record with
  * the largest (partition, offset). The buffer is the fixed-width triple
  * (partition INT, offset LONG, dead BOOLEAN) — the same state as the
  * streaming twin's `KeyState` — and every slot is a mutable UnsafeRow
  * type, so the planner picks a code-generated `HashAggregate` with
  * map-side partials. (`max_by` over a `struct(partition, offset)`
  * ordering cannot keep its buffer in a hash map and plans a
  * sort-based aggregate that sorts every input row.) A null buffer
  * partition means "no write yet". Update and merge are one max, so the
  * result is independent of input and merge order; ties on (partition,
  * offset) do not arise in a log, where each record has its own.
  */
case class LastWrite(partition: Expression, offset: Expression,
    dead: Expression) extends DeclarativeAggregate with GraftInputTypes {
  override def children: Seq[Expression] = Seq(partition, offset, dead)
  override def graftInputTypes: Seq[DataType] =
    Seq(IntegerType, LongType, BooleanType)
  override def nullable: Boolean = true
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_last_write"

  private lazy val p = AttributeReference("partition", IntegerType)()
  private lazy val o = AttributeReference("offset", LongType)()
  private lazy val d = AttributeReference("dead", BooleanType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(p, o, d)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(null,
    IntegerType), Literal(null, LongType), Literal(null, BooleanType))

  /** The buffer (p1, o1, d1) after offering it (p2, o2, d2). */
  private def later(p1: Expression, o1: Expression, d1: Expression,
      p2: Expression, o2: Expression, d2: Expression): Seq[Expression] = {
    val take = Or(IsNull(p1), And(IsNotNull(p2), Or(GreaterThan(p2, p1),
      And(EqualTo(p2, p1), GreaterThan(o2, o1)))))
    Seq(If(take, p2, p1), If(take, o2, o1), If(take, d2, d1))
  }
  override lazy val updateExpressions: Seq[Expression] =
    later(p, o, d, partition, offset, dead)
  override lazy val mergeExpressions: Seq[Expression] =
    later(p.left, o.left, d.left, p.right, o.right, d.right)
  override lazy val evaluateExpression: Expression = d

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): LastWrite = copy(c(0), c(1), c(2))
}

object LastWrite {

  /** Whether the last write by (partition, offset) is a tombstone, as an
    * aggregate `Column`: `dead` should be a projected `value IS NULL`,
    * so nothing but that boolean reaches the aggregate. */
  def dead(partition: Column, offset: Column, dead: Column): Column =
    ColumnBridge.column(LastWrite(ColumnBridge.catalystExpression(partition),
      ColumnBridge.catalystExpression(offset),
      ColumnBridge.catalystExpression(dead)).toAggregateExpression())
}
