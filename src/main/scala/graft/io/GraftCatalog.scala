package graft.io

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThanOrEqual, In, InsertableRelation, LessThanOrEqual, TableScan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 `TableCatalog` over a [[SnapshotBucketedStore]] root
  * (X233): tables become SQL-ADDRESSABLE BY NAME — register once,
  *
  *   spark.conf.set("spark.sql.catalog.lake", "graft.io.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.lake.root", "/data/lake")
  *
  * then `SELECT * FROM lake.corpus WHERE doc_id = 7`,
  * `INSERT INTO lake.events ...`, `SHOW TABLES IN lake`,
  * `DROP TABLE lake.tmp` all resolve through the store — no
  * `store.read(...)` plumbing, no per-view OPTIONS clause (the V1
  * `spark.read.format("graft")` path, [[GraftSource]], stays for
  * option-driven access; both surfaces share [[GraftPruning]], so
  * they prune identically).
  *
  * READ pushdown, the part that matters at 100 TB: the scan builder
  * receives Spark's pushed filters and required columns; equality
  * filters probe the manifest key Blooms, closed ranges the min/max
  * stats ([[GraftPruning.predicateOf]] → [[SnapshotBucketedStore.pruned]])
  * — a selective WHERE opens the generation dirs that might match,
  * not the table. Reported
  * `pushedFilters` are exactly the subset the pruning paths act on
  * (visible in `explain` as the scan's `PushedFilters`), and EVERY
  * filter is also returned as residual: pruning only EXCLUDES
  * provably-disjoint dirs, Spark re-evaluates the exact predicate on
  * survivors, and the residual also reaches the underlying parquet
  * scan inside the store's pruned read. Column pruning flows through
  * `pruneColumns` into the projection under the V1 scan.
  *
  * The scan itself is a [[V1Scan]] — the engine's own DSv2→V1
  * bridge (the path Spark's JDBC catalog ships on): the store
  * already produces pruned DataFrames whose parquet scans carry
  * pushdown and columnar batches; re-implementing PartitionReaders
  * underneath would re-derive that machinery for zero plan
  * improvement.
  *
  * WRITES map onto the store's commit families through the V1 write
  * bridge: `INSERT INTO` → atomic log [[TableStore.append]];
  * `INSERT OVERWRITE` / truncate → atomic [[TableStore.replace]].
  * Keyed upsert/MERGE is deliberately NOT spelled INSERT — it stays
  * on the explicit API ([[SnapshotBucketedStore.upsert]],
  * [[graft.ops.MergeInto]]) where the key contract is visible.
  * `CREATE TABLE` commits an empty log generation carrying the
  * declared schema (catalog-created tables are append-log tables;
  * partition transforms are refused loudly — the store's bucketing
  * is an upsert-key property, not a DDL one). DROP and RENAME
  * delegate to the store's lifecycle ops, which refuse while
  * zero-copy clones still borrow the table's dirs.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var rootPath: String = _
  private var opts: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootPath = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' requires option 'root' " +
          s"(spark.sql.catalog.$name.root=<store root>)"))
    import scala.jdk.CollectionConverters._
    opts = options.asCaseSensitiveMap().asScala.toMap
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    // X250: the stats-forwarding rewrite must run AFTER Spark's scan
    // pushdown; "User Provided Optimizers" (experimental
    // .extraOptimizations) is the one post-pushdown seam — registered
    // here (first use of the catalog in a session), idempotently
    val exp = SparkSession.active.experimental
    if (!exp.extraOptimizations.contains(GraftStatsRule))
      exp.extraOptimizations = exp.extraOptimizations :+ GraftStatsRule
  }

  override def name(): String = catalogName

  /** The catalog-default store, bound to the ACTIVE session at call
    * time (a catalog instance is per-session in practice, but the
    * contract keeps it stateless): same shape options as
    * [[GraftSource]]. Shape-independent metadata ops (SHOW/EXISTS/
    * DROP/RENAME/props) run here; data paths run on [[storeFor]],
    * which overlays the table's OWN recorded properties — one catalog
    * serves differently-shaped tables (X243). */
  private def store: SnapshotBucketedStore = storeWith(Map.empty)

  /** The store shaped for ONE table: catalog options overlaid with the
    * table's `props.txt` sidecar (table wins; `key` is sugar for a
    * one-column `keycolumns`). */
  private def storeFor(table: String): SnapshotBucketedStore =
    storeWith(store.tableProps(table))

  private def storeWith(tableProps: Map[String, String]): SnapshotBucketedStore = {
    implicit val spark: SparkSession = SparkSession.active
    val merged = opts ++
      tableProps.get("key").map(k => "keycolumns" -> k).toMap ++
      (tableProps - "key" - "insert")
    def cols(k: String): Seq[String] =
      merged.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    new SnapshotBucketedStore(
      rootPath,
      numBuckets = merged.get("buckets").map(_.toInt).getOrElse(64),
      fmt = merged.getOrElse("format", "parquet"),
      statsColumns = cols("statscolumns"),
      keyColumns = cols("keycolumns"),
      clusterColumn = merged.get("clustercolumn"),
      ndvColumns = cols("ndvcolumns"),
      quantileColumns = cols("quantilecolumns"),
      sortColumns = cols("sortcolumns"))
  }

  /** The SQL write contract of a table: (upsert key if the table was
    * created with one, INSERT INTO maps to keyed upsert?). */
  private def sqlWriteShape(table: String): (Option[String], Boolean) = {
    val tp = store.tableProps(table)
    (tp.get("key"), tp.get("insert").contains("upsert"))
  }

  /** Flat namespace: the store root holds tables directly. */
  private def requireFlat(namespace: Array[String]): Unit =
    if (namespace.nonEmpty)
      throw new NoSuchNamespaceException(Array(catalogName) ++ namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireFlat(namespace)
    store.tableNames.map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && store.snapshots(ident.name).nonEmpty

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLES (X249): `SELECT * FROM
    // cat.`t$history`` / `t$files` serve the commit log and the live
    // manifest entries as frames — the 100 TB audit surface, costing
    // only manifest reads. Read-only by construction.
    ident.name.split("\\$", 2) match {
      case Array(base, meta) if meta.nonEmpty && ident.namespace.isEmpty &&
          store.snapshots(base).nonEmpty =>
        val st = storeFor(base)
        val frame = meta match {
          case "history" => st.history(base)
          case "files" => st.manifestEntries(base)
          case other => throw new IllegalArgumentException(
            // not NoSuchTableException: the analyzer would swallow the
            // message — name the known set loudly
            s"unknown graft metadata table '$base$$$other' — known: " +
              s"$base$$history, $base$$files")
        }
        return new GraftMetaTable(ident.name,
          frame.getOrElse(throw new NoSuchTableException(ident)))
      case _ => ()
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (key, insertUpsert) = sqlWriteShape(ident.name)
    new GraftV2Table(storeFor(ident.name), ident.name, None, key, insertUpsert)
  }

  /** TIME TRAVEL by snapshot version — `SELECT ... FROM cat.t VERSION
    * AS OF 3`: the pinned table serves [[SnapshotBucketedStore
    * .readAt]] exactly (read-only; writes and manifest pruning are
    * latest-snapshot concepts, so the pinned scan reads the full
    * version and leaves filtering to Spark). The vacuum retention
    * window is the travel horizon, as everywhere else. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new NoSuchTableException(
        Seq(ident.name, s"@v$version (versions are integers)"))
    }
    if (ident.namespace.nonEmpty || store.snapshots(ident.name).isEmpty)
      throw new NoSuchTableException(ident)
    if (!store.snapshots(ident.name).contains(v))
      throw new NoSuchTableException(
        Seq(ident.name, s"@v$v (vacuumed, or never committed)"))
    new GraftV2Table(storeFor(ident.name), ident.name, Some(v))
  }

  /** TIME TRAVEL by wall clock — `SELECT ... FROM cat.t TIMESTAMP AS
    * OF '...'` (X242): Spark hands the instant in MICROseconds since
    * epoch; it resolves to the newest snapshot whose commit stamp
    * ([[SnapshotBucketedStore.versionAt]], a manifest `ts:` line that
    * rides the same atomic rename as everything else) is at or before
    * it — so travel-by-timestamp ≡ travel-by-version for the resolved
    * version. A timestamp before the first retained commit (or past
    * the vacuum horizon — retention IS the travel horizon) refuses
    * loudly naming the instant, never a silent fallback. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (ident.namespace.nonEmpty || store.snapshots(ident.name).isEmpty)
      throw new NoSuchTableException(ident)
    val millis = Math.floorDiv(timestamp, 1000L)
    // not NoSuchTableException: the analyzer would swallow the message
    // into a generic not-found — this refusal must NAME the instant
    val v = store.versionAt(ident.name, millis).getOrElse(
      throw new IllegalArgumentException(
        s"graft table '${ident.name}' has no snapshot at or before " +
          s"${java.time.Instant.ofEpochMilli(millis)} — the instant predates " +
          "the first retained commit (vacuum retention is the time-travel " +
          "horizon)"))
    new GraftV2Table(storeFor(ident.name), ident.name, Some(v))
  }

  /** Graft-meaningful TBLPROPERTIES — each maps onto a store-shape
    * option, so DDL is self-contained: `key` (single upsert-key
    * column — the table becomes a bucketed keyed table speaking
    * MERGE/UPDATE/keyed DELETE), `buckets`, `format`, the stats
    * families, `clustercolumn`, `sortcolumns`, and `insert`
    * (`append` default | `upsert`: INSERT INTO means keyed upsert). */
  private val KnownProps = Set("key", "keycolumns", "buckets", "format",
    "statscolumns", "ndvcolumns", "quantilecolumns", "sortcolumns",
    "clustercolumn", "insert")

  /** Properties Spark itself attaches to DDL (owner etc.) — not user
    * shape intent, passed over rather than refused. */
  private val ReservedProps = Set(TableCatalog.PROP_OWNER,
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, "transient_lastDdlTime")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireFlat(ident.namespace)
    require(partitions.isEmpty,
      "graft tables take no partition transforms: bucketing is an " +
        "upsert-key property of the store (the `key`/`clustercolumn` " +
        "table properties or catalog options), not a partition clause")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    import scala.jdk.CollectionConverters._
    val user = properties.asScala.toMap
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v } --
      ReservedProps.map(_.toLowerCase(java.util.Locale.ROOT))
    val unknown = user.keySet -- KnownProps
    require(unknown.isEmpty,
      s"unknown graft table properties: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"— known: ${KnownProps.toSeq.sorted.mkString(", ")}")
    user.get("buckets").foreach(b => require(b.matches("[0-9]+") && b.toInt > 0,
      s"buckets must be a positive integer: $b"))
    user.get("insert").foreach { m =>
      require(m == "append" || m == "upsert",
        s"insert property must be 'append' or 'upsert': $m")
      require(m != "upsert" || user.contains("key"),
        "insert='upsert' needs a 'key' table property")
    }
    require(!(user.contains("key") && user.contains("keycolumns")),
      "give either 'key' (single upsert key) or 'keycolumns', not both")
    user.get("key").foreach(k => require(!k.contains(","),
      s"'key' names ONE upsert-key column (got '$k') — membership-only " +
        "Bloom columns go in 'keycolumns'"))
    val st = storeWith(user)
    // sidecar BEFORE the first commit: a reader can never observe a
    // committed table without its shape (crash between leaves an
    // orphan sidecar under a table that does not exist yet)
    if (user.nonEmpty) store.writeTableProps(ident.name, user)
    st.createTable(ident.name, schema, user.get("key"))
    new GraftV2Table(st, ident.name, None, user.get("key"),
      user.get("insert").contains("upsert"))
  }

  /** `ALTER TABLE ... ADD COLUMNS (...)` / `DROP COLUMN` — both
    * metadata-only, one manifest commit of the new schema and no dir
    * written: ADD appends the columns (X247,
    * [[SnapshotBucketedStore.addColumns]]) so existing rows read
    * null there; DROP also records a name-retirement marker (X259,
    * [[SnapshotBucketedStore.dropColumns]]) so every generation
    * serves without the column and rewrites shed it physically.
    * RENAME refuses with guidance: without column ids a rename is
    * drop+add of the same bytes, and the retirement rule exists
    * precisely because hidden old values must not resurface under a
    * re-declared name — rebuild() under the new schema instead.
    * Types still evolve through numeric type-widening upserts. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    require(changes.forall {
      case _: TableChange.RenameColumn => false
      case _ => true
    }, "graft ALTER TABLE cannot RENAME COLUMN: name-keyed lineage has no " +
      "column ids, so a rename is drop+add of the same bytes and hidden " +
      "old values could resurface under the re-declared name — rebuild() " +
      "the table under the new schema instead")
    require(adds.length + drops.length == changes.length,
      "graft ALTER TABLE serves ADD COLUMNS and DROP COLUMN — types " +
        "evolve through numeric type-widening upserts")
    require(adds.isEmpty || drops.isEmpty,
      "mixing ADD and DROP in one ALTER is not served — issue them as " +
        "separate statements (each is one atomic manifest commit)")
    val st = storeFor(ident.name)
    if (drops.nonEmpty) {
      val names = drops.map { d =>
        require(d.fieldNames.length == 1,
          s"DROP COLUMN drops top-level columns, got nested ${d.fieldNames.mkString(".")}")
        d.fieldNames.head
      }
      val (key, _) = sqlWriteShape(ident.name)
      key.filter(names.contains).foreach(k => throw new IllegalArgumentException(
        s"'$k' is the upsert key of '${ident.name}' — row identity hangs " +
          "off it; rebuild() the table under a new key instead"))
      st.dropColumns(ident.name, names)
    } else {
      val fields = adds.map { a =>
        require(a.fieldNames.length == 1,
          s"ADD COLUMNS adds top-level columns, got nested ${a.fieldNames.mkString(".")}")
        require(a.position() == null,
          "graft appends added columns after the recorded ones — positions are not served")
        require(a.isNullable,
          s"added column '${a.fieldNames.head}' must be nullable: existing " +
            "rows have no value for it")
        StructField(a.fieldNames.head, a.dataType, nullable = true)
      }
      st.addColumns(ident.name, fields)
    }
    val (key, insertUpsert) = sqlWriteShape(ident.name)
    new GraftV2Table(st, ident.name, None, key, insertUpsert)
  }

  /** MAINTENANCE SQL (X251): `CALL <cat>.system.<proc>(...)` — the
    * store's lifecycle ops (apply_deletes / vacuum / compact_logs /
    * restore / rebuild / clone_table) as stored procedures, each
    * delegating to the store method that owns the semantics and
    * running against the TABLE'S OWN shape ([[storeFor]] — a keyed
    * table's rebuild adopts its recorded properties). Unknown names
    * refuse loudly naming the known set. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace sameElements Array(GraftProcedures.Namespace)))
      throw new IllegalArgumentException(
        s"graft procedures live under the '${GraftProcedures.Namespace}' " +
          s"namespace: CALL $catalogName.${GraftProcedures.Namespace}" +
          s".${ident.name}(...)")
    GraftProcedures.load(ident.name, storeFor)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty &&
        !(namespace sameElements Array(GraftProcedures.Namespace)))
      throw new NoSuchNamespaceException(Array(catalogName) ++ namespace)
    GraftProcedures.names
      .map(Identifier.of(Array(GraftProcedures.Namespace), _)).toArray
  }

  override def dropTable(ident: Identifier): Boolean =
    ident.namespace.isEmpty && store.dropTable(ident.name)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireFlat(oldIdent.namespace); requireFlat(newIdent.namespace)
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    store.renameTable(oldIdent.name, newIdent.name)
  }
}

/** One snapshot-store table behind the V2 [[Table]] seam —
  * optionally PINNED to a snapshot version (time travel, read-only).
  * Unpinned tables also speak SQL DELETE ([[SupportsDelete]]):
  *
  *   - `WHERE col = v` / `WHERE col IN (...)` on a keyed table →
  *     MERGE-ON-READ tombstones ([[SnapshotBucketedStore
  *     .deleteLazy]]) with conservative all-bucket targeting (the
  *     predicate column need not be the upsert key — Blooms narrow
  *     when it has them), so a SQL DELETE costs O(keys + manifest),
  *     never a table rewrite;
  *   - `WHERE col >= lo AND col <= hi` (one closed range) →
  *     [[SnapshotBucketedStore.deleteRange]] — the TTL sweep, with
  *     metadata-only whole-generation drops where stats allow.
  *
  * Anything else answers `canDeleteWhere = false`, so Spark refuses
  * loudly instead of this catalog guessing at row-level semantics it
  * can't serve. */
private[io] class GraftV2Table(store: SnapshotBucketedStore, table: String,
    version: Option[Int] = None,
    sqlKey: Option[String] = None,
    insertUpsert: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  override def name(): String =
    version.map(v => s"$table@v$v").getOrElse(table)

  /** `SHOW TBLPROPERTIES cat.t` / DESCRIBE EXTENDED: the table's own
    * recorded shape sidecar (X243) — what a user declared at CREATE
    * is what they read back. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    store.tableProps(table).foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The row-level upsert key this table's SQL writes merge on: its
    * own `key` property, else the single catalog-level Bloom column
    * (the pre-DDL keyed-catalog convention). */
  private def effectiveKey: Option[String] = sqlKey.orElse(store.keyColumns match {
    case Seq(one) => Some(one)
    case _ => None
  })

  /** (bucket-dir count, log-dir count) of the current snapshot,
    * resolved once per loaded table. */
  private lazy val kind: (Int, Int) = store.tableKind(table).getOrElse((0, 0))

  private def keyedBucketed: Boolean = kind._2 == 0 && kind._1 > 0

  /** Resolved once per loaded table, from the manifest's recorded
    * schema: no data dir is listed and no footer read. */
  private lazy val resolvedSchema: StructType = {
    val raw = store.schema(table, version).getOrElse(throw new NoSuchTableException(Seq(name())))
    // a bucketed keyed table's upsert key is non-null by the store's
    // own contract (rows bucket by xxhash64(key)) — declared, because
    // the row-level rewrite refuses nullable row ids
    effectiveKey match {
      case Some(k) if keyedBucketed && raw.fieldNames.contains(k) =>
        StructType(raw.fields.map(f =>
          if (f.name == k) f.copy(nullable = false) else f))
      case _ => raw
    }
  }

  override def schema(): StructType = resolvedSchema

  override def capabilities(): util.Set[TableCapability] =
    if (version.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, table, schema(), version,
      Option(options.get("maxversionspertrigger")).map { v =>
        require(v.matches("[0-9]+") && v.toInt >= 1,
          s"maxVersionsPerTrigger must be a positive integer: $v")
        v.toInt
      })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty, s"$table is pinned to v${version.get} — time-travel reads are read-only")
    // keyed upsert tables additionally accept streaming UPDATE mode:
    // the update-mode delta (changed keys) keyed-upserts per epoch —
    // exact; plain tables keep Spark's own update-mode refusal
    if (sqlKey.isDefined && insertUpsert)
      new GraftWriteBuilder(store, table, sqlKey, insertUpsert, info)
        with org.apache.spark.sql.GraftUpdateAsAppend
    else new GraftWriteBuilder(store, table, sqlKey, insertUpsert, info)
  }

  /** SQL MERGE INTO / UPDATE / arbitrary-predicate DELETE (X244): the
    * delta-based row-level path ([[GraftRowLevelOperation]]). Needs a
    * keyed bucketed table — the key comes from the table's own `key`
    * property, falling back to a single catalog-level Bloom column
    * (the pre-DDL keyed-catalog convention). Refuses loudly otherwise:
    * row-level SQL on a keyless log table has no row identity to
    * stand on. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"$table is pinned to v${version.get} — time-travel reads are read-only")
    val key = effectiveKey.getOrElse(throw new UnsupportedOperationException(
      s"${info.command} needs a keyed graft table: create '$table' with " +
        "TBLPROPERTIES('key'='<column>') (or register the catalog with one " +
        "keycolumns entry) so rows have an identity to merge on"))
    require(keyedBucketed,
      s"'$table' has append-log generations — row-level SQL writes target " +
        "keyed bucketed tables (CREATE TABLE ... TBLPROPERTIES('key'=...), " +
        "or migrate via rebuild)")
    val sch = schema()
    require(sch.fieldNames.contains(key),
      s"upsert key '$key' is not a column of '$table'")
    () => new GraftRowLevelOperation(store, table, key, info.command, sch)
  }

  /** `TRUNCATE TABLE cat.t` — empty the table in ONE atomic manifest
    * commit, PRESERVING ITS SHAPE: a keyed table keeps an empty
    * bucket generation carrying the schema (so it still speaks
    * MERGE/UPDATE/keyed INSERT afterwards, like a freshly DDL'd keyed
    * table), a log table replaces to an empty log generation. The
    * old generations await vacuum, and a restore can still roll the
    * truncation back — history is append-only here like everywhere
    * else. */
  override def truncateTable(): Boolean = {
    require(version.isEmpty,
      s"$table is pinned to v${version.get} — time-travel reads are read-only")
    implicit val s: SparkSession = SparkSession.active
    val sch = schema()
    effectiveKey match {
      case Some(k) if keyedBucketed =>
        store.createTable(table, sch, Some(k))
      case _ =>
        store.replace(table, s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
    }
    true
  }

  /** The executable plan for a SQL DELETE filter set, or None when
    * this catalog cannot serve it exactly (see class doc). */
  private def deletePlan(filters: Array[Filter]): Option[() => Unit] = {
    if (version.isDefined) return None
    implicit val spark: SparkSession = SparkSession.active
    def keysFrame(c: String, vs: Seq[Any]): Option[org.apache.spark.sql.DataFrame] =
      schema().fields.find(_.name == c).map { f =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(vs.map(org.apache.spark.sql.Row(_)), 1),
          StructType(Seq(StructField(c, f.dataType))))
      }
    filters match {
      case Array(EqualTo(c, v)) if keyedBucketed =>
        keysFrame(c, Seq(v)).map(kf =>
          () => store.deleteLazy(table, c, kf, targetByKeyHash = false))
      case Array(In(c, vs)) if keyedBucketed =>
        keysFrame(c, vs.toSeq).map(kf =>
          () => store.deleteLazy(table, c, kf, targetByKeyHash = false))
      case _ =>
        // exactly one CLOSED range (inclusive both sides — deleteRange's
        // contract; strict bounds would over-delete the boundary)
        val ranges = GraftPruning.rangesOf(filters)
        val strictOrOther = filters.exists {
          case GreaterThanOrEqual(_, _) | LessThanOrEqual(_, _) => false
          case _ => true
        }
        if (ranges.length == 1 && !strictOrOther && filters.length == 2) {
          val (c, lo, hi) = ranges.head
          Some(() => { store.deleteRange(table, c, lo, hi): Unit })
        } else None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    deletePlan(filters).getOrElse(throw new UnsupportedOperationException(
      s"graft DELETE serves one equality/IN predicate (merge-on-read " +
        s"tombstones) or one closed range (generation-dropping sweep); " +
        s"got: ${filters.mkString(", ")}"))()
}

/** A read-only METADATA TABLE (`t$history` / `t$files`, X249): serves
  * a driver-built manifest-derived frame — rows are already resolved
  * (metadata-scale, ≤ generations), so the scan is the plain V1
  * bridge over it. */
private[io] class GraftMetaTable(tableName: String,
    frame: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = frame.schema
        override def description(): String = s"GraftMetaTable($tableName)"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = frame.schema
            override def toString: String = s"GraftMetaTable($tableName)"
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              frame.rdd
          }.asInstanceOf[T]
      }
    }
}

/** Pushdown seams: filters land for manifest pruning (all reported
  * back as residual — see class doc), required columns land for the
  * projection under the V1 scan, and whole-table COUNT(*)/MIN/MAX
  * aggregations push COMPLETELY into the manifest's metadata tier
  * (X214): `SELECT COUNT(*) FROM cat.t` on a 100 TB table answers in
  * milliseconds without opening one data file. Aggregate pushdown is
  * accepted ONLY when the manifest can serve it EXACTLY — no pushed
  * filters, no grouping, every live dir statted, no outstanding
  * merge-on-read tombstones ([[Served.count]]/[[Served.minMax]]
  * enforce those gates and answer None otherwise, which declines the
  * pushdown and the plain scan computes the truth). Every figure of
  * one pushdown comes from one [[SnapshotBucketedStore.served]] read
  * per builder, so COUNT, MIN and MAX describe the same snapshot. */
private[io] class GraftScanBuilder(
    store: SnapshotBucketedStore, table: String, full: StructType,
    version: Option[Int] = None,
    maxVersionsPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var answer: Option[(StructType, Seq[Any])] = None
  private lazy val served: Option[Served] = store.served(table)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // everything is residual: pruning never substitutes for evaluation
    filters
  }

  override def pushedFilters(): Array[Filter] =
    if (version.isDefined) Array.empty
    else GraftPruning.prunableSubset(pushed)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Evaluate the aggregation from the manifest NOW (driver-side,
    * metadata-only — milliseconds) or decline. Complete-only: a
    * partial pushdown would hand Spark physical per-dir figures that
    * tombstones/row-dups could skew; the metadata tier's contract is
    * exact-or-refuse. */
  private def serveFromManifest(agg: Aggregation): Option[(StructType, Seq[Any])] = {
    if (version.isDefined || pushed.nonEmpty || agg.groupByExpressions.nonEmpty)
      return None
    val sv = served.getOrElse(return None)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          full.fields.find(_.name == nr.fieldNames.head)
        case _ => None
      }
    def bound(i: Int, e: org.apache.spark.sql.connector.expressions.Expression,
        pick: ((BigDecimal, BigDecimal)) => BigDecimal): Option[(StructField, Any)] =
      for {
        sf <- colOf(e)
        mm <- sv.minMax(sf.name)
        v <- GraftExternal.convert(pick(mm), sf.dataType)
      } yield (StructField(s"agg$i", sf.dataType), v)
    // one (field, value) per aggregate, or decline the whole pushdown
    val out = agg.aggregateExpressions.toSeq.zipWithIndex.map {
      case (_: CountStar, i) => sv.count.map(StructField(s"agg$i", LongType, nullable = false) -> _)
      case (m: Min, i) => bound(i, m.column, _._1)
      case (m: Max, i) => bound(i, m.column, _._2)
      case _ => None
    }
    if (out.exists(_.isEmpty)) None
    else Some((StructType(out.flatten.map(_._1)), out.flatten.map(_._2)))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    serveFromManifest(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete-or-nothing: when the manifest can't serve exactly the
    // pushdown is declined and the plain scan aggregates the truth
    answer = serveFromManifest(agg)
    answer.isDefined
  }

  override def build(): Scan = answer match {
    case Some((sch, vals)) => new GraftAggServe(table, sch, vals)
    case None => new GraftScan(store, table,
      if (version.isDefined) Array.empty else pushed, required, version,
      maxVersionsPerTrigger)
  }
}

/** Decimal→external-type conversion shared by the metadata aggregate
  * serve and the CBO column stats: exact or None (an overflowing
  * narrow cast must not masquerade as a bound). */
private[io] object GraftExternal {
  def convert(v: BigDecimal,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    try Some(dt match {
      case ByteType => v.toByteExact
      case ShortType => v.toShortExact
      case IntegerType => v.toIntExact
      case LongType => v.toLongExact
      case FloatType => v.toFloat
      case DoubleType => v.toDouble
      case d: DecimalType => v.bigDecimal.setScale(d.scale)
      case _ => return None
    }) catch { case _: ArithmeticException => None }
  }

  /** The CATALYST-INTERNAL spelling of a bound — what Spark's
    * `ColumnStat` contract stores for min/max (estimation code under
    * `spark.sql.cbo.enabled` reads these as internal values, so a
    * decimal bound must be [[org.apache.spark.sql.types.Decimal]],
    * not `java.math.BigDecimal`). Primitives are their own internal
    * representation; only decimals need wrapping here (dates/
    * timestamps/strings are never statted — [[SnapshotBucketedStore]]
    * stat-column eligibility). */
  def toCatalyst(v: BigDecimal,
      dt: org.apache.spark.sql.types.DataType): Option[Any] =
    convert(v, dt).map {
      case bd: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(bd)
      case x => x
    }
}

/** The scan: one [[SnapshotBucketedStore.pruned]] read of the latest
  * snapshot (or of the pinned version, unpruned), bridged to execution via
  * [[V1Scan]] (the store's DataFrame already carries parquet pushdown
  * and columnar reads — see [[GraftCatalog]] class doc).
  *
  * Reports MANIFEST-SERVED STATISTICS (X250,
  * [[SupportsReportStatistics]]): row count and file bytes of the
  * dirs surviving this scan's pruning, so Spark's join planner can
  * AUTO-BROADCAST the small side of a SQL join over catalog tables —
  * without them a V1-bridge relation reports `defaultSizeInBytes`
  * (effectively "huge") and a dim⋈fact join sort-merge-shuffles both
  * sides at any scale. Figures are whole-dir (pre-residual-filter)
  * upper bounds and degrade to "unknown", never to an understated
  * size ([[PrunedScan.estimate]]). */
private[io] class GraftScan(
    store: SnapshotBucketedStore,
    table: String,
    filters: Array[Filter],
    required: StructType,
    version: Option[Int] = None,
    maxVersionsPerTrigger: Option[Int] = None)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** The one manifest read behind this scan's statistics, rows and
    * skip metric (a pinned scan's filters are empty: [[Prune.All]]). */
  private val prune = GraftPruning.predicateOf(filters)
  private lazy val scan: Option[PrunedScan] = store.pruned(table, prune, version)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val est = scan.map(_.estimate)
    // CBO tier (X254): per-column min/max/NDV from the manifest —
    // whole-table figures, so served only when no pruning filters are
    // in play (a filter-scoped row count under whole-table column
    // bounds would skew selectivity estimates); computed only when
    // the session opted into CBO — the manifest fold + driver HLL
    // union is metadata-cheap, but plan time should stay free for
    // the default path
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (version.isEmpty && filters.isEmpty &&
          org.apache.spark.sql.SparkSession.active.conf
            .get("spark.sql.cbo.enabled", "false") == "true") {
        val served = scan.map(_.served.columnStats).getOrElse(Map.empty)
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        required.fields.foreach { f =>
          served.get(f.name).foreach { case (mm, nd) =>
            val mn = mm.flatMap(b => GraftExternal.toCatalyst(b._1, f.dataType))
            val mx = mm.flatMap(b => GraftExternal.toCatalyst(b._2, f.dataType))
            if (mn.isDefined || mx.isDefined || nd.isDefined)
              m.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def min(): java.util.Optional[Object] =
                    mn.fold(java.util.Optional.empty[Object])(v =>
                      java.util.Optional.of(v.asInstanceOf[Object]))
                  override def max(): java.util.Optional[Object] =
                    mx.fold(java.util.Optional.empty[Object])(v =>
                      java.util.Optional.of(v.asInstanceOf[Object]))
                  override def distinctCount(): java.util.OptionalLong =
                    nd.fold(java.util.OptionalLong.empty)(
                      java.util.OptionalLong.of)
                })
          }
        }
        m
      } else java.util.Collections.emptyMap()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        est.flatMap(_._2).fold(java.util.OptionalLong.empty)(
          java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        est.flatMap(_._1).fold(java.util.OptionalLong.empty)(
          java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** `spark.readStream.table("cat.t")` (X252): the append-log change
    * feed as a DSv2 micro-batch stream — manifest versions as
    * offsets, one partition per new data file, executor-side parquet
    * decode ([[GraftMicroBatchStream]]). Keyed/bucketed tables refuse
    * with guidance (their change feed is the V1 keyed CDC source —
    * merge-on-read tombstones and keep-last dedup don't render as
    * file partitions); so do non-parquet stores and pinned reads. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty,
      s"$table is pinned to v${version.get} — time-travel reads are batch-only")
    val (nBuckets, _) = store.tableKind(table).getOrElse((0, 0))
    require(nBuckets == 0,
      s"'$table' has bucketed keyed generations — the SQL streaming " +
        "source tails append-log tables; keyed CDC streams through " +
        "spark.readStream.format(\"graft\").option(\"key\", ...)")
    require(store.storageFormat == "parquet",
      s"the SQL streaming source reads parquet generations; '$table' " +
        s"stores '${store.storageFormat}' — tail it through " +
        "spark.readStream.format(\"graft\")")
    new GraftMicroBatchStream(store, table, required,
      GraftMicroBatchStream.readerConf(
        org.apache.spark.sql.SparkSession.active),
      maxVersionsPerTrigger)
  }

  override def description(): String = version match {
    case Some(v) => s"GraftScan(table=$table, version=$v)"
    case None => s"GraftScan(table=$table, " +
      s"pruning=[${GraftPruning.prunableSubset(filters).mkString(", ")}])"
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      // RowDataSourceScanExec renders the RELATION in explain — name
      // the scan and its pruning filters there, so the plan audit can
      // pin both without digging into the wrapper
      override def toString: String = GraftScan.this.description()
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        val df = version match {
          case Some(v) => scan.flatMap(_.read).getOrElse(
            throw new java.util.NoSuchElementException(
              s"graft table '$table' lost v$v (vacuumed)"))
          case None => GraftPruning.rowsOf(scan, prune, table)
        }
        val projected =
          if (required.isEmpty) df
          else df.select(required.fieldNames
            .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        projected.rdd
      }
    }.asInstanceOf[T]
}

/** A COMPLETELY-pushed aggregation served from the manifest: one row,
  * zero data files opened — the values were resolved at pushdown time
  * from metadata that commits in the same rename as the dirs it
  * describes. */
private[io] class GraftAggServe(
    table: String, sch: StructType, values: Seq[Any])
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = sch

  /** One row by construction — reported so a metadata-served
    * aggregate used as a join side broadcasts. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(sch.defaultSize.toLong)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(1L)
    }

  override def description(): String =
    s"GraftAggServe(table=$table, metadata-only)"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = sch
      override def toString: String = GraftAggServe.this.description()
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        context.sparkSession.sparkContext.parallelize(
          Seq(org.apache.spark.sql.Row(values: _*)), 1)
    }.asInstanceOf[T]
}

/** V1-bridge writes: append / truncate-overwrite onto the store's
  * atomic commit families. On a KEYED table (created with a `key`
  * table property) the append-vs-upsert trap is impossible to hit
  * silently: `INSERT INTO` refuses with guidance — an append would
  * duplicate keys — unless the table opted in with `insert`=`upsert`,
  * which maps INSERT to the keyed upsert; `INSERT OVERWRITE` maps to
  * the bucketed [[SnapshotBucketedStore.rebuild]] (a plain replace
  * would write a log generation and strip the table of its keyed
  * write paths). */
private[io] class GraftWriteBuilder(store: SnapshotBucketedStore, table: String,
    sqlKey: Option[String] = None, insertUpsert: Boolean = false,
    info: LogicalWriteInfo = null)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    // `writeStream.toTable("cat.t")` — the exactly-once streaming sink
    // (X246); epoch ids become the store's batch marks
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(store, table, sqlKey, insertUpsert,
        info.schema(), info.queryId(), overwrite)
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            overwriteFlag: Boolean): Unit = sqlKey match {
          case Some(k) =>
            implicit val s: SparkSession = data.sparkSession
            if (overwrite || overwriteFlag) store.rebuild(table, data, k)
            else if (insertUpsert) store.upsert(table, data, k)
            else throw new UnsupportedOperationException(
              s"'$table' is a keyed graft table (key=$k): INSERT INTO " +
                "appends and would silently duplicate keys — use MERGE " +
                "INTO (WHEN NOT MATCHED THEN INSERT), or create the " +
                "table with TBLPROPERTIES('insert'='upsert') to make " +
                "INSERT mean keyed upsert")
          case None =>
            if (overwrite || overwriteFlag) store.replace(table, data)
            else store.append(table, data)
        }
      }
    override def toString: String = s"GraftWrite(table=$table, overwrite=$overwrite)"
  }
}
