package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Emit `n` copies of the input row WITHOUT materializing an n-element
  * collection. The `explode(sequence(1L, n))` spelling allocates the
  * whole sequence array inside one task before generating — a row whose
  * multiplicity is in the millions (duplicates are legal: plain INSERT
  * enforces nothing) allocates a multi-megabyte array per row and can
  * OOM where a streaming generator cannot. This generator yields one
  * tiny row at a time. Catalyst's own ReplicateRows (the generator
  * `exceptAll` lowers to) is no substitute: its `eval` returns
  * `Range.Long(0, n, 1).map(...)`, a strict map that builds all `n`
  * output rows before the first is emitted, so swapping to it would
  * bring back exactly the per-row allocation this generator removes.
  * `n <= 0` (or NULL) emits nothing. */
case class ReplicateN(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {
  override def elementSchema: StructType =
    StructType(Seq(StructField("_graft_i", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val n = v.asInstanceOf[Long]
      new Iterator[InternalRow] {
        private[this] var i = 0L
        override def hasNext: Boolean = i < n
        override def next(): InternalRow = { i += 1; InternalRow(i) }
      }
    }
  }
  override protected def withNewChildInternal(
      newChild: Expression): ReplicateN = copy(child = newChild)
}

object Replicate {
  /** Column API: emits the enclosing row n times (generator — use in a
    * select alongside the columns to keep). */
  def replicateN(n: Column): Column =
    ColumnBridge.column(ReplicateN(
      ColumnBridge.expression(n.cast(LongType))))
}
