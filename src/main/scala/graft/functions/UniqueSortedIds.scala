package graft.functions

import graft.index.IndexBuilder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** Native Catalyst expression: passes an id column through and fails the
  * task when an id repeats. Its input must be sorted by the id within each
  * partition (the docs write's `sortWithinPartitions("docId")`), so a
  * repeat is always the previous row's id and the check costs one compare
  * per row, with no state beyond that id.
  *
  * Nondeterministic (per-partition state) so that Catalyst keeps it above
  * that sort: a projection of deterministic columns would let the
  * optimizer drop the sort under the write's own partition-column sort. */
case class UniqueSortedIds(child: Expression) extends UnaryExpression
    with Nondeterministic with CodegenFallback {

  @transient private[this] var prev: Any = _

  override def prettyName: String = "unique_sorted_ids"
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override protected def initializeInternal(partitionIndex: Int): Unit = prev = null

  override protected def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null && v == prev)
      throw IndexBuilder.docIdCollision(s"docId $v appears twice in this batch")
    prev = v
    v
  }

  override protected def withNewChildInternal(newChild: Expression): UniqueSortedIds =
    copy(child = newChild)
}
