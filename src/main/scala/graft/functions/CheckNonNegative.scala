package graft.functions

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** An operator's input check: the value as a long, or an
  * IllegalArgumentException naming the operator, the quantity and the
  * row's stratum (if given) for a negative value, or a null one when
  * `nullFails`. The caller gets the failed job's SparkException with
  * that cause, the contract of every operator input check (a
  * `raise_error` would surface unwrapped as a SparkRuntimeException). */
object CheckNonNegative {

  def apply(value: Column, op: String, name: String,
      stratum: Option[Column] = None, nullFails: Boolean = false): Column =
    ColumnBridge.column(NonNegativeCheck(
      ColumnBridge.expression(value.cast("long")),
      stratum.map(ColumnBridge.expression), op, name, nullFails))
}

/** See [[CheckNonNegative]]. */
case class NonNegativeCheck(value: Expression, stratum: Option[Expression],
    op: String, name: String, nullFails: Boolean)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = value +: stratum.toSeq
  override def dataType: DataType = LongType
  override def nullable: Boolean = value.nullable && !nullFails
  override def prettyName: String = "check_non_negative"

  override def eval(input: InternalRow): Any = value.eval(input) match {
    case null if nullFails => fail(s"null $name", input)
    case v: Long if v < 0L => fail(s"negative $name=$v", input)
    case v => v
  }

  private def fail(what: String, input: InternalRow): Nothing = {
    val e = new IllegalArgumentException(s"$op: $what" +
      stratum.fold("")(s => s" in stratum '${s.eval(input)}'"))
    // outside a task the optimizer is folding a local relation on the
    // driver: wrap it as the failed job would
    if (TaskContext.get() == null) throw new SparkException(e.getMessage, e)
    throw e
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NonNegativeCheck =
    copy(value = newChildren.head, stratum = stratum.map(_ => newChildren(1)))
}
