package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 backs `Column` by ColumnNode and scopes the converters
  * `private[sql]`, so the one-line adapters live in this package —
  * the standard extension-library technique (no Spark internals are
  * modified, only accessed). */
object GraftBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** DataFrame over an RDD of INTERNAL rows — what
    * `createDataFrame(RDD[Row], schema)` is, minus the interpreted
    * external→Catalyst converter it threads through every row. Used
    * by the per-partition operators ([[graft.ops.Rank.globalRank]])
    * whose map work is already in InternalRow terms, so their output
    * feeds downstream whole-stage codegen without a decode/encode
    * round-trip. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** STREAMING-flagged variant: what a V1 streaming `Source.getBatch`
    * must return (MicroBatchExecution rejects non-streaming frames). */
  def internalCreateStreamingDataFrame(
      spark: SparkSession,
      rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = true)

  /** The session's Hadoop configuration boxed for task serialization —
    * `SerializableConfiguration` is Spark's own answer to Configuration
    * not being Serializable, scoped `private[spark]`; the pair of
    * adapters keeps the private type out of graft signatures. Used by
    * the delta writers ([[graft.io.GraftDeltaWrite]]), which persist
    * changed-row runs from executors onto the store's filesystem. */
  def confBox(spark: SparkSession): AnyRef with java.io.Serializable =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

  def confOf(box: AnyRef): org.apache.hadoop.conf.Configuration =
    box.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value

  /** `s` with every field, element and value nullable — the schema a
    * file-source read reports (`asNullable` is `private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Block until every listener event posted so far has been
    * delivered (the bus is `private[spark]`), so a listener's counts
    * are complete before it is removed. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Public face of Spark's `private[sql]` marker that lets a streaming
  * sink accept UPDATE output mode as per-epoch appends. Mixed into
  * [[graft.io.GraftWriteBuilder]] ONLY for keyed `insert`=`upsert`
  * tables, where "append the changed keys" IS the exact semantics
  * (each epoch keyed-upserts the update-mode delta); plain tables
  * keep Spark's own update-mode refusal — update-as-append would
  * silently duplicate rows there. */
trait GraftUpdateAsAppend
  extends internal.connector.SupportsStreamingUpdateAsAppend
