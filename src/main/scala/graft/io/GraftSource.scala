package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.sources.{PrunedScan => _, _}
import org.apache.spark.sql.types.StructType

/** The `graft` DataSource (X224): the snapshot store surfaced through
  * Spark's standard source seams, so a user reaches it the way they
  * reach parquet or JDBC —
  *
  *   spark.read.format("graft")
  *     .option("root", "/lake").option("table", "corpus").load()
  *
  *   df.write.format("graft").option("root", "/lake")
  *     .option("table", "corpus").option("key", "doc_id")
  *     .mode("append").save()
  *
  *   CREATE TEMPORARY VIEW corpus USING graft
  *     OPTIONS (root '/lake', "table" 'corpus')        -- then plain SQL
  *
  * Reads push MANIFEST-LEVEL pruning through the V1
  * [[PrunedFilteredScan]] seam: equality filters probe the recorded
  * key Blooms ([[Prune.Eq]]) and two-sided range filters the min/max
  * stats (conjunctive, [[Prune.Ranges]]), through one
  * [[SnapshotBucketedStore.pruned]] scan — a selective SQL WHERE
  * over a 100 TB graft table opens the dirs that might match, not
  * the table. Every filter is reported UNHANDLED (`unhandledFilters`
  * returns all): pruning only ever EXCLUDES provably-disjoint dirs,
  * Spark re-applies the exact predicate on survivors, and the
  * residual ALSO reaches the underlying parquet scan (the store
  * applies it inside the pruned read), so correctness never rests on
  * the skip logic. Column pruning flows through `requiredColumns`.
  *
  * Writes map SaveMode onto the store's commit families:
  * `overwrite` → atomic [[TableStore.replace]]; `append` with a
  * `key` option → bucketed exactly-keyed [[TableStore.upsert]]
  * (SCD-1 keep-last); `append` without → log append;
  * `errorifexists`/`ignore` honor their contracts against table
  * existence. Store-shape options (`buckets`, `format`, stats/key/
  * ndv/quantile columns) parameterize the
  * [[SnapshotBucketedStore]] underneath — read-side they are
  * irrelevant (the manifest is self-describing).
  */
class GraftSource
    extends RelationProvider
    with CreatableRelationProvider
    with StreamSinkProvider
    with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (store, table) = storeOf(sqlContext, parameters)
    val base = schema.getOrElse(
      store.schema(table).getOrElse(
        throw new java.util.NoSuchElementException(
          s"graft table '$table' does not exist (streaming source needs " +
            "an existing table or an explicit schema)")))
    (shortName(), parameters.get("key") match {
      case Some(k) => GraftKeyedStreamSource.cdcSchema(base, k)
      case None => base
    })
  }

  /** `spark.readStream.format("graft")` — the store's CHANGE FEED as
    * a streaming source: OFFSETS ARE MANIFEST VERSIONS, so a batch is
    * `appendsSince(startVersion, endVersion)` — the X203 dir-level
    * capture, which reads only the log generations committed in the
    * window (never a rescan) and refuses loudly across compaction
    * (dir-level capture is only sound on compaction-free ranges —
    * pause compaction on tables being tailed, the documented
    * contract). The FIRST batch reads the whole table at the
    * then-latest version (initial load), after which each trigger
    * ships exactly the new appends. Append-log tables only — the
    * grain where "new rows" is well-defined without keys; keyed
    * tables want [[SnapshotBucketedStore.diffVersions]] semantics a
    * CDC consumer should drive explicitly. Offsets serialize as the
    * plain version number, so checkpoints survive restarts. */
  override def createSource(sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (store, table) = storeOf(sqlContext, parameters)
    val sch = sourceSchema(sqlContext, schema, providerName, parameters)._2
    parameters.get("key") match {
      // `key` option → the KEYED CDC stream (X241): offsets are still
      // manifest versions, but a batch is the keyed CHANGE SET
      // between them (changesSince) — added/changed/removed rows with
      // the new-side payload, the feed a downstream index/view
      // maintainer applies incrementally
      case Some(k) => new GraftKeyedStreamSource(sqlContext, store, table, k, sch)
      case None => new GraftStreamSource(sqlContext, store, table, sch)
    }
  }

  /** `df.writeStream.format("graft")` — the store as a STREAMING
    * sink with the exactly-once discipline built in: each epoch's
    * batchId rides the store's atomic batch mark
    * ([[TableStore.appendIfNew]] / keyed
    * [[SnapshotBucketedStore.upsertWithBatch]] with a `key` option),
    * so a crash between the store commit and the streaming
    * checkpoint commit replays the epoch and the store recognizes
    * and skips it — the [[graft.streaming.CorpusIntake]] foreachBatch
    * discipline, reachable through the standard API with zero user
    * code. Complete mode maps to atomic [[TableStore.replace]]
    * (replaying a replace of the same complete result is idempotent
    * by value). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val (store, table) = storeOf(sqlContext, parameters)
    val key = parameters.get("key")
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long,
          data: DataFrame): Unit = {
        val spark = sqlContext.sparkSession
        // detach from the epoch's IncrementalExecution: copy the
        // internal rows into a fresh batch frame the store can plan
        // actions over (the ForeachBatchSink technique)
        val rows = data.queryExecution.toRdd.mapPartitions(_.map(_.copy()))
        val fresh = org.apache.spark.sql.GraftBridge
          .internalCreateDataFrame(spark, rows, data.schema)
        implicit val s = spark
        if (outputMode == org.apache.spark.sql.streaming.OutputMode.Complete())
          store.replace(table, fresh)
        else key match {
          case Some(k) => store.upsertWithBatch(table, fresh, k, batchId): Unit
          case None => store.appendIfNew(table, fresh, batchId): Unit
        }
      }
      override def toString: String = s"GraftSink(table=$table)"
    }
  }

  private def storeOf(sqlContext: SQLContext,
      parameters: Map[String, String]): (SnapshotBucketedStore, String) = {
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException("graft source requires option 'root'"))
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException("graft source requires option 'table'"))
    def cols(k: String): Seq[String] =
      parameters.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val store = new SnapshotBucketedStore(
      root,
      numBuckets = parameters.get("buckets").map(_.toInt).getOrElse(64),
      fmt = parameters.getOrElse("format", "parquet"),
      statsColumns = cols("statscolumns"),
      keyColumns = cols("keycolumns"),
      clusterColumn = parameters.get("clustercolumn"),
      ndvColumns = cols("ndvcolumns"),
      quantileColumns = cols("quantilecolumns"),
    )(sqlContext.sparkSession)
    (store, table)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val (store, table) = storeOf(sqlContext, parameters)
    new GraftRelation(sqlContext, store, table)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val (store, table) = storeOf(sqlContext, parameters)
    implicit val spark = sqlContext.sparkSession
    val exists = store.read(table).isDefined
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"graft table '$table' already exists (mode errorifexists)")
      case SaveMode.Ignore if exists => () // contract: leave untouched
      case SaveMode.Overwrite => store.replace(table, data)
      case _ => // Append, or first write in any non-refusing mode
        parameters.get("key") match {
          case Some(k) => store.upsert(table, data, k)
          case None => store.append(table, data)
        }
    }
    new GraftRelation(sqlContext, store, table)
  }
}

/** V1 streaming source over one append-log store table (see
  * [[GraftSource.createSource]] for the contract). */
class GraftStreamSource(
    sqlContext: SQLContext,
    store: SnapshotBucketedStore,
    table: String,
    override val schema: StructType,
) extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private def versionOf(o: V1Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case other => other.json.trim.toInt // SerializedOffset after restart
  }

  /** AvailableNow fencepost: the version captured when the trigger
    * started — commits racing the drain wait for the next run. */
  @volatile private var fence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fence = store.snapshots(table).lastOption.map(_.toLong)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[V1Offset] = {
    val latest = store.snapshots(table).lastOption.map(_.toLong)
    fence match {
      case Some(f) => latest.map(v => LongOffset(math.min(v, f)))
      case None => latest.map(LongOffset(_))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): org.apache.spark.sql.DataFrame = {
    val endV = versionOf(end)
    val spark = sqlContext.sparkSession
    val batch = start match {
      // first batch: the whole table as of the end version
      case None => store.readAt(table, endV)
      // subsequent: exactly the log dirs committed in (start, end]
      case Some(s) => store.appendsSince(table, versionOf(s), Some(endV))
    }
    val df = batch.getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$table' lost versions needed by the stream " +
          s"(vacuum retention must cover the trigger interval)"))
    org.apache.spark.sql.GraftBridge.internalCreateStreamingDataFrame(
      spark,
      df.queryExecution.toRdd.mapPartitions(_.map(_.copy())),
      df.schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource(table=$table)"
}

object GraftKeyedStreamSource {
  /** CDC row shape: key, change ∈ added|changed|removed, then the
    * NEW-side payload columns (null for removed keys). */
  def cdcSchema(base: StructType, key: String): StructType = {
    val kf = base.fields.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(
        s"key column '$key' not in the table schema ${base.simpleString}"))
    StructType(kf +:
      org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      base.fields.filterNot(_.name == key).toSeq)
  }
}

/** V1 streaming source over one KEYED (bucketed-upsert) store table
  * (X241 — the CDC twin of [[GraftStreamSource]]): offsets are
  * manifest versions; the FIRST batch is the whole table at the
  * then-latest version labeled `added` (initial load), after which
  * each trigger ships [[SnapshotBucketedStore.changesSince]] between
  * the checkpointed and current versions — added/changed/removed per
  * key with the new-side payload (null payload for removed), pruned
  * to the buckets whose dir refs (or tombstones) actually differ, so
  * tailing a 100 TB table costs the touched fraction per trigger,
  * never a rescan. Vacuum retention must cover the trigger interval
  * (the checkpointed version's manifest must still resolve) — the
  * same horizon contract as the log source, refused loudly. */
class GraftKeyedStreamSource(
    sqlContext: SQLContext,
    store: SnapshotBucketedStore,
    table: String,
    key: String,
    override val schema: StructType,
) extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private def versionOf(o: V1Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case other => other.json.trim.toInt
  }

  @volatile private var fence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fence = store.snapshots(table).lastOption.map(_.toLong)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[V1Offset] = {
    val latest = store.snapshots(table).lastOption.map(_.toLong)
    fence match {
      case Some(f) => latest.map(v => LongOffset(math.min(v, f)))
      case None => latest.map(LongOffset(_))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val endV = versionOf(end)
    val spark = sqlContext.sparkSession
    val batch = start match {
      // initial load: the whole table as of end, every key `added`
      case None => store.readAt(table, endV)
        .map(_.withColumn("change", lit("added")))
      // incremental: the keyed change set in (start, end]
      case Some(s) => store.changesSince(table, versionOf(s), key, Some(endV))
    }
    val df = batch.getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$table' lost versions needed by the CDC stream " +
          s"(vacuum retention must cover the trigger interval)"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.GraftBridge.internalCreateStreamingDataFrame(
      spark,
      df.queryExecution.toRdd.mapPartitions(_.map(_.copy())),
      df.schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftKeyedStreamSource(table=$table, key=$key)"
}

object GraftSource {
  /** Test/metrics seam: (dirs scanned, total dirs) of the most recent
    * pruned [[GraftRelation.buildScan]] (or V2 [[GraftCatalog]] scan)
    * on this JVM. Observability only — never consulted by the scan
    * itself. */
  @volatile var lastPrune: Option[(Int, Int)] = None
}

/** The filter→manifest-pruning translation shared by the V1 relation
  * ([[GraftRelation]]) and the V2 catalog scan
  * ([[GraftCatalog]]/[[GraftScan]]): one place decides which
  * [[Prune]] a pushed filter set maps onto, so both SQL surfaces
  * prune identically. Pruning only ever EXCLUDES provably-disjoint
  * dirs — every caller re-applies the exact predicate on survivors. */
private[io] object GraftPruning {

  /** The predicate a pushed filter set prunes by, in precedence
    * order: the first equality filter probes the key Blooms
    * ([[Prune.Eq]]), else the first IN list ([[Prune.EqAny]] — a
    * superset, Spark re-filters), else every two-sided range
    * ([[Prune.Ranges]], conjunctive min/max), else [[Prune.All]]. */
  def predicateOf(filters: Array[Filter]): Prune =
    filters.collectFirst { case EqualTo(c, v) => Prune.Eq(c, v) }
      .orElse(filters.collectFirst { case In(c, vs) => Prune.EqAny(c, vs.toSeq) })
      .getOrElse(rangesOf(filters) match {
        case Seq() => Prune.All
        case ranges => Prune.Ranges(ranges)
      })

  /** The rows of `table`'s pruned `scan` under `p`; its skip metric
    * lands in [[GraftSource.lastPrune]] (None for an unpruned read). */
  def rowsOf(scan: Option[PrunedScan], p: Prune, table: String)
      : org.apache.spark.sql.DataFrame = {
    GraftSource.lastPrune = if (p == Prune.All) None else scan.map(_.counts)
    scan.flatMap(_.read).getOrElse(throw new java.util.NoSuchElementException(
      s"graft table '$table' does not exist"))
  }

  /** The subset of `filters` the pruning paths above can act on —
    * what a V2 scan REPORTS as pushed (its `PushedFilters` line in
    * explain). Reporting is conservative-exact: only filters that
    * actually reach a Bloom or stats probe are claimed. */
  def prunableSubset(filters: Array[Filter]): Array[Filter] = {
    val rangeCols = rangesOf(filters).map(_._1).toSet
    filters.filter {
      case EqualTo(_, _) | In(_, _) => true
      case GreaterThan(c, _) => rangeCols(c)
      case GreaterThanOrEqual(c, _) => rangeCols(c)
      case LessThan(c, _) => rangeCols(c)
      case LessThanOrEqual(c, _) => rangeCols(c)
      case _ => false
    }
  }

  /** Columns with BOTH a lower and an upper bound among the pushed
    * filters (min/max pruning needs a closed interval; one-sided
    * bounds fall back to the full read, still correct). Equality
    * doubles as the degenerate [v, v] interval. */
  def rangesOf(filters: Array[Filter]): Seq[(String, Any, Any)] = {
    val lowers = scala.collection.mutable.Map[String, Any]()
    val uppers = scala.collection.mutable.Map[String, Any]()
    filters.foreach {
      case GreaterThan(c, v) => lowers(c) = v
      case GreaterThanOrEqual(c, v) => lowers(c) = v
      case LessThan(c, v) => uppers(c) = v
      case LessThanOrEqual(c, v) => uppers(c) = v
      case EqualTo(c, v) => lowers(c) = v; uppers(c) = v
      case _ => ()
    }
    (lowers.keySet intersect uppers.keySet).toSeq.sorted
      .map(c => (c, lowers(c), uppers(c)))
  }
}

/** V1 relation over one snapshot-store table. Filters prune dirs (see
  * [[GraftSource]]); all filters are re-applied by Spark above the
  * scan, so the translation here can stay conservative. */
class GraftRelation(
    val sqlContext: SQLContext,
    store: SnapshotBucketedStore,
    table: String,
) extends BaseRelation with PrunedFilteredScan {

  override def schema: StructType =
    store.schema(table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$table' does not exist"))

  /** Manifest-served table bytes (X250) so the V1 surface gets the
    * same auto-broadcast planning as the catalog scan; unknown →
    * Spark's default (huge — the safe direction). Unfiltered: V1
    * relations size before filter pushdown. */
  override def sizeInBytes: Long =
    store.pruned(table, Prune.All).flatMap(_.estimate._2).getOrElse(super.sizeInBytes)

  // pruning only excludes provably-disjoint dirs — Spark must still
  // evaluate every predicate on the surviving rows
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val p = GraftPruning.predicateOf(filters)
    val df = GraftPruning.rowsOf(store.pruned(table, p), p, table)
    // an empty projection (COUNT(*) shape) still needs row multiplicity
    val projected =
      if (requiredColumns.isEmpty) df
      else df.select(requiredColumns.map(org.apache.spark.sql.functions.col): _*)
    projected.rdd
  }
}
