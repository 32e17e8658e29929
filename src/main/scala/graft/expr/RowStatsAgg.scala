package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, Literal,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus min/max of each numeric child in ONE typed aggregate:
  * `struct<rows: bigint, min: array<string>, max: array<string>>`,
  * the i-th min/max being child i's extreme in Spark's own ordering
  * (NaN largest, as `min`/`max` order it) cast to string exactly as
  * `min(c).cast("string")` would, or null when the child had no
  * non-null value. It is what `count(*)` plus a `min` and `max` per
  * column compute, with one buffer instead of 1 + 2n, so
  * [[PerGroupAgg]] can keep it per group: per-bucket metadata on a
  * write pass then costs one map lookup per row, not one masked
  * `count`/`min`/`max` per (bucket, column).
  *
  * Buffer: `[rows, min_0, max_0, min_1, max_1, ...]` in Catalyst's
  * internal values; serialized as one UnsafeRow. */
case class RowStatsAgg(
    children: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Any]] {

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("rows", LongType, nullable = false),
    StructField("min", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("max", ArrayType(StringType, containsNull = true), nullable = false)))

  override def prettyName: String = "graft_row_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => !c.dataType.isInstanceOf[NumericType]) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"min/max stats need a numeric type, got ${c.dataType}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  // numeric values (boxed primitives, Decimal) are immutable once
  // evaluated, so the buffer may hold them without copying
  @transient private lazy val kids = children.toArray
  @transient private lazy val orderings = kids.map(c => PhysicalDataType.ordering(c.dataType))

  @transient private lazy val bufferTypes: Array[DataType] =
    (LongType +: children.flatMap(c => Seq(c.dataType, c.dataType))).toArray

  override def createAggregationBuffer(): Array[Any] = {
    val buf = new Array[Any](1 + 2 * children.size)
    buf(0) = 0L
    buf
  }

  override def update(buf: Array[Any], input: InternalRow): Array[Any] = {
    buf(0) = buf(0).asInstanceOf[Long] + 1L
    var i = 0
    while (i < kids.length) {
      val v = kids(i).eval(input)
      if (v != null) fold(buf, i, v, v)
      i += 1
    }
    buf
  }

  /** Widen child `i`'s [min, max] in `buf` by [lo, hi]. */
  private def fold(buf: Array[Any], i: Int, lo: Any, hi: Any): Unit = {
    val ord = orderings(i)
    val mn = buf(1 + 2 * i)
    if (mn == null || ord.lt(lo, mn)) buf(1 + 2 * i) = lo
    val mx = buf(2 + 2 * i)
    if (mx == null || ord.gt(hi, mx)) buf(2 + 2 * i) = hi
  }

  override def merge(buf: Array[Any], other: Array[Any]): Array[Any] = {
    buf(0) = buf(0).asInstanceOf[Long] + other(0).asInstanceOf[Long]
    children.indices.foreach { i =>
      if (other(1 + 2 * i) != null) fold(buf, i, other(1 + 2 * i), other(2 + 2 * i))
    }
    buf
  }

  override def eval(buf: Array[Any]): Any = {
    def str(v: Any, dt: DataType): UTF8String =
      if (v == null) null
      else Cast(Literal(v, dt), StringType).eval().asInstanceOf[UTF8String]
    val dts = children.map(_.dataType)
    new GenericInternalRow(Array[Any](buf(0),
      new GenericArrayData(dts.indices.map(i => str(buf(1 + 2 * i), dts(i))).toArray[Any]),
      new GenericArrayData(dts.indices.map(i => str(buf(2 + 2 * i), dts(i))).toArray[Any])))
  }

  @transient private lazy val toUnsafe = UnsafeProjection.create(bufferTypes)

  // the projection reuses its output row: copy before taking bytes
  override def serialize(buf: Array[Any]): Array[Byte] =
    toUnsafe(new GenericInternalRow(buf)).copy().getBytes

  override def deserialize(bytes: Array[Byte]): Array[Any] = {
    val row = new UnsafeRow(bufferTypes.length)
    row.pointTo(bytes, bytes.length)
    bufferTypes.indices.map(i => if (row.isNullAt(i)) null else row.get(i, bufferTypes(i))).toArray
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RowStatsAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): RowStatsAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RowStatsAgg =
    copy(children = newChildren)
}
