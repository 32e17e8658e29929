package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType}

/** One typed-imperative aggregate (a Bloom, HLL or KLL sketch) kept
  * PER GROUP inside a single aggregate: `group` is a bigint group id
  * and the result is `map<bigint, fn's result>` with one entry per
  * group that had a row. The buffer is a map of `fn` buffers created
  * on a group's first row, so a task holding a few groups allocates,
  * updates and ships only those, and the merge combines buffers of
  * the same group. This is how a write pass observes one sketch per
  * bucket dir without a GROUP BY — an observation cannot group — and
  * without a buffer per (task, bucket) pair for buckets the task never
  * saw.
  *
  * `fn`'s children are this expression's children after `group`, so
  * analysis and reference binding reach them; `fn` is rebuilt from
  * them on every rewrite. */
case class PerGroupAgg(
    group: Expression,
    fn: TypedImperativeAggregate[AnyRef],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[mutable.LongMap[AnyRef]] {

  override def children: Seq[Expression] = group +: fn.children

  override def nullable: Boolean = false

  override def dataType: DataType = MapType(LongType, fn.dataType, valueContainsNull = true)

  override def prettyName: String = s"graft_per_group_${fn.prettyName}"

  override def checkInputDataTypes(): TypeCheckResult =
    if (group.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"group id must be bigint, got ${group.dataType}")
    else fn.checkInputDataTypes()

  override def createAggregationBuffer(): mutable.LongMap[AnyRef] = mutable.LongMap.empty

  override def update(buf: mutable.LongMap[AnyRef], input: InternalRow): mutable.LongMap[AnyRef] = {
    val g = group.eval(input)
    if (g != null) {
      val k = g.asInstanceOf[Long]
      buf.update(k, fn.update(buf.getOrElseUpdate(k, fn.createAggregationBuffer()), input))
    }
    buf
  }

  override def merge(buf: mutable.LongMap[AnyRef],
      other: mutable.LongMap[AnyRef]): mutable.LongMap[AnyRef] = {
    other.foreachEntry { (k, b) =>
      buf.update(k, buf.get(k).fold(b)(fn.merge(_, b)))
    }
    buf
  }

  override def eval(buf: mutable.LongMap[AnyRef]): Any = {
    val ks = buf.keys.toArray
    new ArrayBasedMapData(new GenericArrayData(ks.map(k => k: Any)),
      new GenericArrayData(ks.map(k => fn.eval(buf(k)))))
  }

  override def serialize(buf: mutable.LongMap[AnyRef]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreachEntry { (k, b) =>
      val bytes = fn.serialize(b)
      out.writeLong(k)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[AnyRef] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = mutable.LongMap.empty[AnyRef]
    (0 until in.readInt()).foreach { _ =>
      val k = in.readLong()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.update(k, fn.deserialize(b))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PerGroupAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): PerGroupAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PerGroupAgg =
    copy(group = newChildren.head,
      fn = fn.withNewChildren(newChildren.tail).asInstanceOf[TypedImperativeAggregate[AnyRef]])
}

object PerGroupAgg {

  /** Column form: the typed-imperative aggregate `fn` (a Bloom, HLL
    * or [[KllSketchAgg]] over its input columns) computed per value of
    * the bigint column `group`. */
  def perGroup(group: org.apache.spark.sql.Column,
      fn: TypedImperativeAggregate[_]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge.{toColumn, toExpr}
    toColumn(PerGroupAgg(toExpr(group), fn.asInstanceOf[TypedImperativeAggregate[AnyRef]])
      .toAggregateExpression())
  }
}
