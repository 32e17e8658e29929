package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Thrown when a commit finds its target manifest version already
  * committed by another writer — either a violation of the store's
  * single-writer-per-table contract, or (for maintenance commits like
  * [[SnapshotBucketedStore.compactLogs]]) a lost CAS race to be
  * retried against the new snapshot. Always loud, never silent data
  * loss: the competing commit's data is intact, only THIS commit is
  * rejected. */
final class ConcurrentCommitException(msg: String) extends java.io.IOException(msg)

/** Thrown when a committed manifest holds a line its reader cannot
  * parse (a truncated or garbled write): names the table, the
  * manifest version and the offending line. */
final class CorruptManifestException(val table: String, val version: Int, val line: String,
    cause: Throwable)
    extends java.io.IOException(
      s"graft table '$table' manifest v$version has an unparseable line: '$line'", cause)

/** Warehouse abstraction over the reference's three MySQL tables
  * (/root/reference/lambda.py:171-190). The reference talks JDBC; the
  * test environment has no database, so the store is a trait with a
  * Parquet-directory implementation (tests/local) and a JDBC
  * implementation (production shape). SURVEY.md §7.4 risk 7.
  */
trait TableStore {

  /** S6: full-table scan; None when the table doesn't exist yet —
    * the reference catches the missing-table error and proceeds with
    * an empty frame (lambda.py:175-178). */
  def read(name: String): Option[DataFrame]

  /** The table's schema; None when the table doesn't exist. Stores
    * that record it answer without reading data. */
  def schema(name: String): Option[StructType] = read(name).map(_.schema)

  /** S6 with the reference's fallback made explicit. */
  def readOrEmpty(name: String, schema: StructType)(implicit spark: SparkSession): DataFrame =
    read(name).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** K2: append (the `sales` raw log). */
  def append(name: String, df: DataFrame): Unit

  /** Idempotent append for exactly-once streaming sinks: `batchId` is
    * the foreachBatch epoch; a replayed batch (crash after the store
    * commit but before the streaming checkpoint commit) must be
    * detected and skipped. Default = plain append (at-least-once);
    * [[SnapshotBucketedStore]] overrides with a real marker committed
    * ATOMICALLY with the data (same manifest rename). Returns true if
    * the batch was applied, false if recognized as a replay. */
  def appendIfNew(name: String, df: DataFrame, batchId: Long): Boolean = {
    append(name, df); true
  }

  /** K3/K4: full replace (`sales_tgt`, `sales_summary`). At 100 TB this
    * is the scalability cliff the reference has (O(table) rewrite per
    * batch); production should use a MERGE-capable table format or
    * partitioned `replaceWhere` — see docs/SCALE.md. */
  def replace(name: String, df: DataFrame): Unit

  /** Keyed upsert of a batch into `name`. Default = the reference's
    * literal semantics (read whole table, merge, rewrite whole table —
    * lambda.py:175-181). Stores with physical key-partitioning override
    * this to rewrite ONLY the buckets the batch touches
    * ([[SnapshotBucketedStore]]) — the O(batch) shape that survives
    * 100 TB, behind the same interface. */
  def upsert(name: String, incoming: DataFrame, key: String)(implicit spark: SparkSession): Unit = {
    val existing = readOrEmpty(name, incoming.schema)
    replace(name, graft.ops.Upsert.upsert(existing, incoming, key))
  }
}

/** Single-format file-directory store: each table is `<root>/<name>`,
  * written through any Spark batch file source ("parquet", "orc",
  * "json", ...). Stands in for MySQL in tests; also a perfectly good
  * lake layout on its own. Columnar formats (parquet/orc) keep
  * predicate pushdown + column pruning; row formats trade that for
  * interchange. */
class FileDirStore(root: String, fmt: String)(implicit spark: SparkSession)
    extends TableStore {

  private def path(name: String) = s"$root/$name"

  override def read(name: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.format(fmt).load(path(name))) else None
  }

  override def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).format(fmt).save(path(name))

  override def replace(name: String, df: DataFrame): Unit = {
    // The incoming plan may read the same table (upsert reads sales_tgt
    // then replaces it) — self-overwrite would clobber input files mid
    // read, so land in a staging dir and swap atomically-ish.
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(path(name) + "_stage")
    df.write.mode(SaveMode.Overwrite).format(fmt).save(stage.toString)
    if (fs.exists(p)) fs.delete(p, true)
    fs.rename(stage, p)
  }
}

/** Parquet table store (the default lake format). */
final class ParquetDirStore(root: String)(implicit spark: SparkSession)
    extends FileDirStore(root, "parquet")

/** Avro table store (X165) — the same directory-per-table seam over
  * [[AvroIo]]'s splittable containers (this container ships no
  * spark-avro DataSource, so the read/write path is AvroIo's, not
  * `format("avro")`). Append lands each batch under a fresh random
  * prefix (container names are store-internal — the same contract as
  * Spark's own part-file UUIDs); replace stages and swaps like
  * [[FileDirStore]]. Row-format trade-off as documented there: full
  * interchange, no columnar pushdown. */
final class AvroDirStore(root: String)(implicit spark: SparkSession)
    extends TableStore {

  private def path(name: String) = s"$root/$name"
  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def read(name: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = fsOf(p)
    // a table exists when it holds at least one container — an empty
    // directory (append of an empty frame emits no files) reads as
    // missing, matching the reference's missing-table → empty rule
    val has = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".avro"))
    if (has) Some(AvroIo.read(spark, path(name))) else None
  }

  override def append(name: String, df: DataFrame): Unit = {
    val stage = new org.apache.hadoop.fs.Path(
      path(name) + "_append_" + java.util.UUID.randomUUID().toString)
    val fs = fsOf(stage)
    AvroIo.write(df, stage.toString)
    val dest = new org.apache.hadoop.fs.Path(path(name))
    fs.mkdirs(dest)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    fs.listStatus(stage).filter(_.getPath.getName.endsWith(".avro"))
      .foreach { s =>
        fs.rename(s.getPath,
          new org.apache.hadoop.fs.Path(dest, s"$stamp-${s.getPath.getName}"))
      }
    fs.delete(stage, true)
  }

  override def replace(name: String, df: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = fsOf(p)
    val stage = new org.apache.hadoop.fs.Path(path(name) + "_stage")
    if (fs.exists(stage)) fs.delete(stage, true)
    AvroIo.write(df, stage.toString)
    if (fs.exists(p)) fs.delete(p, true)
    fs.rename(stage, p): Unit
  }
}

/** Which generation dirs a snapshot-store read must open
  * ([[SnapshotBucketedStore.pruned]]). Pruning only ever EXCLUDES
  * dirs the manifest proves hold no matching row; a dir with no
  * recorded stat or Bloom for the column is kept. */
sealed trait Prune

object Prune {
  /** Every live dir: the plain read. */
  case object All extends Prune

  /** Conjunctive closed ranges, `lo <= column <= hi` for each entry,
    * against the recorded per-dir min/max (exact decimals, no double
    * rounding). Pass bounds in the column's own type (a Long for a
    * long column) so the residual filter also pushes into the parquet
    * scan; Float bounds are promoted to double for the comparison,
    * because stats record float columns double-promoted. */
  final case class Ranges(preds: Seq[(String, Any, Any)]) extends Prune {
    require(preds.nonEmpty, "Prune.Ranges needs at least one conjunct")
  }

  /** One closed range: `Ranges(Seq((column, lo, hi)))`. */
  def range(column: String, lo: Any, hi: Any): Prune = Ranges(Seq((column, lo, hi)))

  /** `column = value` against the per-dir key Blooms; `value` in the
    * column's own type. */
  final case class Eq(column: String, value: Any) extends Prune

  /** `column IN values` against the key Blooms: the read is a
    * conservative SUPERSET of the matching rows with NO residual
    * filter — the caller supplies exactness (an anti-join, `isin`). */
  final case class EqAny(column: String, values: Seq[Any]) extends Prune
}

/** One snapshot pruned by one [[Prune]]: `kept` of `total` live dirs
  * (the skip metric), the rows of the kept dirs ([[read]], built on
  * first use; None when the snapshot has no live dir), and the
  * planning estimate ([[estimate]]: rows if every kept dir records a
  * count, file bytes if every kept dir's size is known — whole dirs
  * before the residual predicate, an upper bound), plus the
  * metadata-served figures of the same snapshot ([[served]]). */
final class PrunedScan private[io] (
    val kept: Int,
    val total: Int,
    readOf: => Option[DataFrame],
    estimateOf: => (Option[Long], Option[Long]),
    val served: Served) {
  lazy val read: Option[DataFrame] = readOf
  lazy val estimate: (Option[Long], Option[Long]) = estimateOf
  /** (kept, total). */
  def counts: (Int, Int) = (kept, total)
}

/** METADATA-ONLY answers of one snapshot ([[SnapshotBucketedStore.served]],
  * X214/X216/X218/X222/X254 — the Delta numRecords / Iceberg
  * manifest-stats trick): every figure is a fold over the per-dir
  * records the manifest commits in the same rename as the dirs, so no
  * data file is opened and no Spark job runs. All figures of one
  * `Served` describe the same snapshot.
  *
  * Exact-or-refuse: None means "scan instead", never a guess.
  *   - outstanding merge-on-read tombstones refuse every figure
  *     (records describe PHYSICAL rows, which over-count);
  *   - a DROPPED name (X259) refuses every figure for that column;
  *   - a legacy (v1) stats format refuses min/max, whose float strings
  *     are approximations ([[SnapshotBucketedStore.LegacyStatsEps]]);
  *   - a live dir that may hold rows but records no figure (legacy
  *     dirs, undeclared columns, an all-null or unparseable stat)
  *     refuses; a dir recorded as zero rows contributes nothing. */
final class Served private[io] (m: Manifest, declared: Seq[String]) {

  /** One recorded figure per live dir, through the gates above (the
    * stats-version gate is [[minMax]]'s own). `column` None = a
    * whole-table figure (the row count). */
  private def everyLive[T](column: Option[String])(of: DirMeta => Option[T]): Option[Seq[T]] =
    if (m.hasTombs || column.exists(m.droppedNames.contains)) None
    else {
      val per = (m.buckets.values ++ m.logs).toSeq.flatMap { d =>
        val x = m.meta(d)
        of(x) match {
          case Some(t) => Seq(Some(t))
          case None => if (x.rows.contains(0L)) Nil else Seq(None)
        }
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }

  /** The live dirs' base64 sketch images of `column`. */
  private def images(column: String, of: DirMeta => Seq[(String, String)]): Option[Seq[String]] =
    everyLive(Some(column))(of(_).find(_._1 == column).map(_._2))

  /** COUNT(*): Σ recorded per-dir row counts. */
  def count: Option[Long] = everyLive(None)(_.rows).map(_.sum)

  /** MIN/MAX of a stats column — EXACT, not a bound: per-dir min/max
    * are computed from the data at commit (rewritten dirs recompute),
    * so the fold is the true extremum over non-null values (SQL
    * MIN/MAX semantics). All-empty table → None (SQL's NULL MIN). */
  def minMax(column: String): Option[(BigDecimal, BigDecimal)] =
    if (m.statsVersion != SnapshotBucketedStore.CurrentStatsVersion) None
    else everyLive(Some(column))(_.stats.find(_._1 == column)
      .flatMap(SnapshotBucketedStore.rangeOf)).filter(_.nonEmpty)
      .map(rs => (rs.map(_._1).min, rs.map(_._2).max))

  /** Approximate distinct count of an `ndvColumns` column (X216): one
    * driver-side union of the per-dir HLL sketches (lgK =
    * [[SnapshotBucketedStore.NdvLgK]], ~1.6% standard error). HLL
    * registers max-merge, so the union is exactly the sketch of the
    * whole table. An all-empty table counts 0; an undecodable sketch
    * refuses. */
  def approxDistinct(column: String): Option[Long] =
    images(column, _.ndv).flatMap { per =>
      try {
        val u = new org.apache.datasketches.hll.Union(SnapshotBucketedStore.NdvLgK)
        per.foreach(b64 => u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64))))
        Some(Math.round(u.getResult.getEstimate))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The live dirs' recorded KLL images (X218) merged in a fixed
    * sorted order (deterministic given the manifest): None = refused,
    * Some(None) = every image empty (an all-null column). */
  private def kll(column: String): Option[Option[org.apache.datasketches.kll.KllDoublesSketch]] =
    images(column, _.qsk).map(per => graft.expr.KllSketchAgg.mergeImages(
      per.sorted.map(java.util.Base64.getDecoder.decode)))

  /** Approximate quantiles of a `quantileColumns` column (X218) over
    * its DOUBLE promotion, from the merged per-dir KLL sketches (k =
    * [[graft.expr.KllSketchAgg.DefaultK]], ~1.65% normalized rank
    * error at 99% confidence). KLL compaction is randomized, so the
    * contract is an error band, not a value. An all-null column has
    * no order statistic → None. */
  def quantiles(column: String, probs: Seq[Double]): Option[Seq[Double]] = {
    require(probs.forall(p => p >= 0.0 && p <= 1.0),
      s"ranks must be in [0, 1]: ${probs.mkString(", ")}")
    kll(column).flatten.map(u => probs.map(u.getQuantile))
  }

  /** Approximate count of rows with `lo <= column <= hi` — range
    * SELECTIVITY for planners: `n * (rank≤(hi) - rank<(lo))` on the
    * merged sketch, n its exact non-null count. Counts non-null rows
    * only (SQL `BETWEEN`); an all-null column has none in range → 0. */
  def rangeCount(column: String, lo: Double, hi: Double): Option[Long] = {
    require(lo <= hi, s"empty range: lo=$lo > hi=$hi")
    kll(column).map {
      case None => 0L
      case Some(u) =>
        import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
        val below = u.getRank(lo, QuantileSearchCriteria.EXCLUSIVE)
        val upTo = u.getRank(hi, QuantileSearchCriteria.INCLUSIVE)
        math.round(u.getN * math.max(0.0, upTo - below))
    }
  }

  /** Distribution drift of `column` from this snapshot (the
    * reference) to `current` (X222): POPULATION STABILITY INDEX over
    * `buckets` equal-probability bins of the reference's merged KLL
    * sketch ([[graft.expr.KllSketchAgg.psi]]; < 0.1 stable, > 0.25
    * shifted). An estimate inheriting the rank-error band; all-null
    * on either side → None. */
  def drift(current: Served, column: String, buckets: Int = 10): Option[Double] =
    for {
      ref <- kll(column).flatten
      cur <- current.kll(column).flatten
    } yield graft.expr.KllSketchAgg.psi(ref, cur, buckets)

  /** Per-column planning statistics (X254, the scan's
    * `Statistics.columnStats()` under `spark.sql.cbo.enabled`):
    * ([[minMax]], [[approxDistinct]]) of every declared stats/NDV
    * column that serves either figure. A legacy stats format refuses
    * the whole map, and an all-empty table gets no NDV. */
  def columnStats: Map[String, (Option[(BigDecimal, BigDecimal)], Option[Long])] =
    if (m.statsVersion != SnapshotBucketedStore.CurrentStatsVersion) Map.empty
    else {
      val empty = count.contains(0L)
      declared.flatMap { c =>
        val v = (minMax(c), approxDistinct(c).filterNot(_ => empty))
        if (v._1.isEmpty && v._2.isEmpty) None else Some(c -> v)
      }.toMap
    }
}

/** Snapshot-isolated key-bucketed parquet store. The reference
  * rewrites the live table in place (lambda.py:172-181), so a crash
  * mid-write leaves readers a MIX of old and new rows. A 100 TB
  * engine's flagship sink needs a commit point, so this store
  * hand-rolls the manifest pattern Delta/Iceberg use (neither library
  * ships with this build):
  *
  *   - Data lives in immutable generation dirs
  *     `<table>/data/b<bucket>-g<version>/` (bucketed upsert targets)
  *     and `<table>/data/log-<version>/` (append-only raw logs).
  *   - A manifest `manifest-<N>.txt` names the live dir per bucket
  *     plus the live log dirs. The CURRENT snapshot is the
  *     highest-numbered committed manifest.
  *   - Every write lands data dirs first, then commits by writing
  *     `manifest-<N>.tmp` and renaming it to `manifest-<N>.txt` —
  *     ONE rename is the entire commit. A crash anywhere before it
  *     leaves unreferenced dirs (garbage, collected by [[vacuum]]),
  *     never a mixed snapshot: readers keep resolving manifest N−1.
  *
  * Upsert stays O(batch): untouched buckets carry their old dirs
  * forward by reference in the new manifest — nothing is copied, read,
  * or listed for them (manifest-level pruning, strictly better than
  * directory-listing partition pruning at 100 TB). Single writer per
  * table assumed (the reference's Lambda has the same contract);
  * readers are wait-free and always see a complete committed snapshot.
  *
  * DATA SKIPPING (`statsColumns`): each commit records per-generation
  * column min/max IN THE MANIFEST (exact decimal strings, numeric
  * columns only), and [[pruned]] drops provably-disjoint dirs
  * before the scan — at 100 TB with time-ordered or Z-ordered
  * commits, a selective predicate opens a handful of files instead
  * of every one (the difference between touching 0.1% and 100% of a
  * partition's files). Stats ride the same manifest rename as the
  * dirs they describe (crash-atomic), carry forward by reference
  * with untouched buckets, and their ABSENCE is always safe: an
  * unstatted dir is scanned, never skipped.
  *
  * Tables are role-split exactly like the reference's warehouse: a
  * table is EITHER an append log (K2) or a keyed upsert target
  * (K3/K4/W1) — [[upsert]] on a table with log dirs refuses rather
  * than silently miss log rows during its bucket-pruned merge. */
object SnapshotBucketedStore {
  /** Manifest stats-line format version. v1 (any manifest without a
    * `statsver:` line) may carry float-shortest min/max strings that
    * misorder against double probes; v2 records float columns
    * double-promoted ([[SnapshotBucketedStore.statInput]]). Readers
    * widen v1 bounds by [[LegacyStatsEps]] before comparing. */
  val CurrentStatsVersion = 2

  /** Relative widening applied to v1 stat bounds: a float's
    * shortest-decimal string differs from its double promotion by at
    * most half a float ULP (~6e-8 relative); 1e-6 is safely past it
    * and costs almost nothing in pruning power. */
  val LegacyStatsEps: BigDecimal = BigDecimal("0.000001")

  /** lgK of the per-dir HLL NDV sketches (X216): 2^12 registers,
    * ~1.6% relative standard error, ~4 KB dense per (dir, column) —
    * the Iceberg-puffin operating point. Frozen: sketches with
    * different lgK do not union losslessly, so changing this would
    * orphan recorded sketches (a union would refuse them). */
  val NdvLgK: Int = 12

  /** A recorded (min, max) as exact decimals; None when either fails
    * to parse. */
  private[io] def rangeOf(stat: (String, String, String)): Option[(BigDecimal, BigDecimal)] =
    scala.util.Try((BigDecimal(stat._2), BigDecimal(stat._3))).toOption

  /** The PROMOTION LATTICE of type-widening schema evolution (X212 —
    * the Iceberg type-promotion matrix): the one type both `a` and `b`
    * read as — byte→short→int→long, float→double, decimal precision at
    * a fixed scale, recursing through array elements and struct fields
    * (struct fields union by name). None = outside the lattice (int vs
    * string). */
  private[io] def promote(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case (x, y) if x == y => Some(x)
    case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
      Some(DecimalType(math.max(x.precision, y.precision), x.scale))
    case (ArrayType(x, n1), ArrayType(y, n2)) => promote(x, y).map(ArrayType(_, n1 || n2))
    case (x: StructType, y: StructType) =>
      val shared = x.fields.map(f => y.find(_.name == f.name).fold(Option(f))(g =>
        promote(f.dataType, g.dataType)
          .map(t => f.copy(dataType = t, nullable = f.nullable || g.nullable))))
      if (shared.exists(_.isEmpty)) None
      else Some(StructType(
        shared.flatten ++ y.fields.filterNot(g => x.fieldNames.contains(g.name))))
    case _ =>
      val rank = Map[DataType, Int](ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
      val frac = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
      if (rank.contains(a) && rank.contains(b)) Some(if (rank(a) >= rank(b)) a else b)
      else if (frac.contains(a) && frac.contains(b)) Some(if (frac(a) >= frac(b)) a else b)
      else None
  }

  /** `a` widened by `b` through [[promote]]: `a`'s columns in order,
    * then `b`'s new ones. A shared column outside the lattice refuses
    * loudly, naming it. */
  private[io] def widen(a: StructType, b: StructType): StructType =
    promote(a, b).map(_.asInstanceOf[StructType]).getOrElse {
      val (f, g) = a.fields.flatMap(f => b.find(_.name == f.name).map(f -> _))
        .find { case (f, g) => promote(f.dataType, g.dataType).isEmpty }.get
      throw new IllegalArgumentException(
        s"cannot widen column '${f.name}': ${f.dataType.simpleString} vs " +
          s"${g.dataType.simpleString} is outside the numeric promotion lattice")
    }
}

class SnapshotBucketedStore(
    root: String,
    numBuckets: Int = 64,
    fmt: String = "parquet",
    statsColumns: Seq[String] = Nil,
    val keyColumns: Seq[String] = Nil,
    keyExpectedItems: Long = 10000L,
    val clusterColumn: Option[String] = None,
    ndvColumns: Seq[String] = Nil,
    quantileColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil)(
    implicit val spark: SparkSession)
    extends TableStore {

  import org.apache.hadoop.fs.Path
  import SnapshotBucketedStore.{NdvLgK, rangeOf}
  require(statsColumns.forall(_.matches("[A-Za-z0-9_]+")),
    s"stats column names must be [A-Za-z0-9_]+ (manifest line syntax): " +
      statsColumns.mkString(", "))
  require(keyColumns.forall(_.matches("[A-Za-z0-9_]+")),
    s"key column names must be [A-Za-z0-9_]+ (manifest line syntax): " +
      keyColumns.mkString(", "))
  require(ndvColumns.forall(_.matches("[A-Za-z0-9_]+")),
    s"ndv column names must be [A-Za-z0-9_]+ (manifest line syntax): " +
      ndvColumns.mkString(", "))
  require(quantileColumns.forall(_.matches("[A-Za-z0-9_]+")),
    s"quantile column names must be [A-Za-z0-9_]+ (manifest line syntax): " +
      quantileColumns.mkString(", "))
  // FILESYSTEM-CONTRACT PROBE (docs/SCALE.md §8a): every guarantee
  // here reduces to a first-writer-wins atomic publish of the
  // versioned manifest name. Raw object stores (copy+delete rename,
  // no EEXIST) cannot provide it — warn LOUDLY at construction, once
  // per store, naming the mitigation section. Not a refusal: a
  // deployment may carry a rename-atomic layer invisible at the URI.
  locally {
    val scheme = Option(new Path(root).toUri.getScheme).getOrElse("file")
    if (Set("s3", "s3a", "s3n", "oss", "cos", "wasb")(scheme))
      System.err.println(s"graft WARNING: store root '$root' is on " +
        s"'$scheme' — raw object-store rename is not an atomic CAS, so " +
        "manifest commits need a rename-atomic layer, an external " +
        "commit lock, or conditional PUTs (docs/SCALE.md §8a); without " +
        "one, racing writers can silently drop a commit")
  }
  /** The store's physical bucket fan-out — public so bucket-grain
    * tooling ([[Repair]]) can mirror the layout it will rewrite. */
  def bucketCount: Int = numBuckets

  /** Generation dirs read through the snapshot's `schema`, the same
    * format seam as FileDirStore: the reader widens every older
    * generation's columns to the recorded types (X212 — the Iceberg
    * promotion matrix, [[SnapshotBucketedStore.promote]]; one scan,
    * pushdown intact) and reads a column a generation lacks as null, so
    * no footer is merged and no schema job runs. */
  private def readDirs(dirs: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).format(fmt).load(dirs: _*)

  /** One dir under its OWN footer schema: tombstone sidecars, the
    * per-dir [[analyzeTable]] backfill and the legacy schema fold. */
  private def readOwn(dir: String): DataFrame = spark.read.format(fmt).load(dir)

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** WITHIN-FILE sort order ([[sortColumns]] — the Delta
    * OPTIMIZE-style layout knob at write time): rows sort WITHIN
    * tasks by (bucket, sortColumns∩schema) before every data write,
    * so each parquet file's row groups and pages carry TIGHT min/max
    * on those columns and the format's own predicate pushdown skips
    * inside files — the third pruning tier under the manifest's
    * dir-level stats (X165/X184) and Blooms (X185). Pure layout:
    * zero extra shuffle (sortWithinPartitions is narrow), no
    * manifest record, no read-path change, and absent columns are
    * ignored (a table whose schema predates the knob still writes). */
  private def sortedForWrite(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = sortColumns.filter(df.columns.contains)
    if (cols.isEmpty) df
    else {
      val keys = (if (df.columns.contains(BucketCol)) Seq(BucketCol) else Nil) ++ cols
      df.sortWithinPartitions(keys.map(col): _*)
    }
  }

  /** Write one generation dir; returns its observed metadata. */
  private def writeDir(df: DataFrame, dest: String): DirMeta =
    observedWrite(sortedForWrite(df), grouped = false)(
      _.write.mode(SaveMode.Overwrite).format(fmt).save(dest))(0L)

  /** Stage a bucketed generation in ONE write pass and move each
    * staged bucket dir to its immutable home `rel(b)`: `laid` carries
    * [[BucketCol]] and is already laid out (and sorted) for the write,
    * and `ids` are the buckets it may hold, whose metadata the same
    * pass observes. One listing of the stage (and of each bucket dir
    * in it) says which buckets the write produced and the data-file
    * bytes of each (X258, recorded with the rest of the metadata). A
    * bucket the write left empty has no staged file and is absent from
    * the result — the caller drops it from the manifest. */
  private def writeBuckets(name: String, v: Int, laid: DataFrame, ids: Seq[Long],
      rel: Long => String): Map[Long, (String, DirMeta)] = {
    if (ids.isEmpty) return Map.empty
    val stage = new Path(tableDir(name), s"stage-$v")
    val f = fs(stage)
    val meta = observedWrite(laid, grouped = true)(_.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).format(fmt).save(stage.toString))
    // plain listStatus, not listFiles: a LocatedFileStatus copies the
    // permissions, which the local filesystem loads by forking a
    // process per file
    val Staged = s"$BucketCol=(\\d+)".r
    val bytes = f.listStatus(stage).toSeq.flatMap(d => d.getPath.getName match {
      case Staged(b) => Some(b.toLong -> f.listStatus(d.getPath)
        .filter(st => st.isFile && isDataFile(st.getPath.getName)).map(_.getLen).sum)
      case _ => None
    }).toMap
    f.mkdirs(new Path(tableDir(name), "data"))
    val moved = ids.filter(bytes.contains).map { b =>
      val src = new Path(stage, s"$BucketCol=$b")
      val dst = new Path(tableDir(name), rel(b))
      // a dir at THIS version can only be an orphan of a crashed
      // attempt (no committed manifest references version v yet) —
      // clear it so the rename can't silently fail
      if (f.exists(dst)) f.delete(dst, true)
      if (!f.rename(src, dst))
        throw new java.io.IOException(s"bucket move failed: $src -> $dst")
      b -> (rel(b), meta(b).copy(bytes = Some(bytes(b))))
    }.toMap
    f.delete(stage, true)
    moved
  }

  /** The bucket-aligned layout of a keep-last merge: a write-group id
    * (the touched bucket's index, round-robin over min(touched,
    * defaultParallelism) tasks) to shuffle on ONCE, so each touched
    * bucket lands in one task and becomes one file. Returns the task
    * count and the group-id column, a function of the bucket. */
  private def bucketLayout(fan: Int, touched: Seq[Long]): (Int, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val parts = math.max(1, math.min(touched.size, spark.sparkContext.defaultParallelism))
    val slot = Array.fill(fan)(0)
    touched.zipWithIndex.foreach { case (b, i) => slot(b.toInt) = i % parts }
    (parts, element_at(typedLit(slot.toSeq), col(BucketCol).cast("int") + 1))
  }

  /** `df` bucketed for a stage write with no keep-last step ([[delete]],
    * [[rebuild]]): Spark's rebalance on the bucket, so AQE sizes the
    * write tasks from the actual shuffle bytes — a bucket within
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` is one task and
    * one file, a larger one splits into several. */
  private def rebalanced(df: DataFrame, key: String, fan: Int): DataFrame =
    sortedForWrite(withBucketN(df, key, fan)
      .hint("rebalance", org.apache.spark.sql.functions.col(BucketCol)))

  private val BucketCol = "graft_bucket"
  private def tableDir(name: String) = new Path(s"$root/$name")
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The physical bucket of a row: by default the hash of the upsert
    * KEY (even spread, O(touched-buckets) keyed writes). With
    * [[clusterColumn]] set, rows bucket by the hash of THAT column
    * instead — decoupling physical layout from the logical key, the
    * posting-list layout an IVF vector index needs: all rows of one
    * cell land in one bucket dir, so the per-dir min/max stats on the
    * cluster column become cell-narrow and a cell probe prunes to
    * ~1/numBuckets of the table. Constraint (documented, the standard
    * clustered-index trade): an upsert replaces a key's old row only
    * when the new row lands in the SAME cluster bucket — a key whose
    * cluster value CHANGES must be deleted first (for an ANN index:
    * vectors are append+delete, never mutated in place — re-embedding
    * a doc is a delete + insert). [[delete]] compensates by treating
    * every bucket as touched when clustering is on (the key Blooms
    * still narrow the rewrite set). */
  private def withBucket(df: DataFrame, key: String): DataFrame =
    withBucketN(df, key, numBuckets)

  private def withBucketN(df: DataFrame, key: String, fan: Int): DataFrame = {
    val bucketOf = clusterColumn match {
      case Some(cc) if df.columns.contains(cc) => org.apache.spark.sql.functions.col(cc)
      case _ => org.apache.spark.sql.functions.col(key)
    }
    df.withColumn(BucketCol,
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(bucketOf),
        org.apache.spark.sql.functions.lit(fan.toLong)))
  }

  /** The sorted buckets `df`'s rows hash into (≤ fan values,
    * driver-safe): each task reports its own distinct set, so the
    * probe is one job with no shuffle. */
  private def touchedBuckets(df: DataFrame, key: String, fan: Int): Seq[Long] = {
    import org.apache.spark.sql.Encoders.scalaLong
    withBucketN(df, key, fan).select(BucketCol).as(scalaLong)
      .mapPartitions(_.toSet.iterator)(scalaLong).collect().distinct.sorted.toSeq
  }

  /** The bucket fan-out keyed writes against this table MUST use: the
    * manifest's recorded modulus when present, else this store's
    * configured `numBuckets` (legacy tables predate the record —
    * their writers must keep the discipline of matching stores; every
    * new commit records the truth going forward). The configured
    * value applies to NEW tables, and to [[rebuild]] — the documented
    * fan-out migration point. */
  private def fanoutFor(prev: Option[Manifest]): Int =
    prev.flatMap(_.fanout).getOrElse(numBuckets)

  private val ManifestName = "manifest-(\\d+)\\.txt".r

  private def manifestAt(name: String, v: Int): Option[Manifest] = {
    val p = new Path(tableDir(name), s"manifest-$v.txt")
    val f = fs(p)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    Some(ManifestCodec.parse(name, v, text))
  }

  /** The version a commit over `base` publishes (0 for a new table). */
  private def nextVersion(base: Option[Manifest]): Int = base.fold(0)(_.version + 1)

  private def latestManifest(name: String): Option[Manifest] =
    snapshots(name).lastOption.flatMap(manifestAt(name, _))

  /** The pinned snapshot, else the latest. */
  private def manifestOf(name: String, version: Option[Int]): Option[Manifest] =
    version.fold(latestManifest(name))(manifestAt(name, _))

  /** Test seam: crash-injection tests override this to die after data
    * dirs land but BEFORE the manifest rename — the largest window the
    * protocol must survive. */
  protected def beforeCommit(): Unit = ()

  /** Test seam: the hard-link publish call. Fallback tests override
    * this to refuse links the way some network mounts do, forcing the
    * degraded exists+rename path without faking a filesystem. */
  protected def createLink(dst: java.nio.file.Path, src: java.nio.file.Path): Unit = {
    java.nio.file.Files.createLink(dst, src)
    ()
  }

  /** Per-dir data-file byte totals for the manifest (X258): carry
    * every already-recorded figure forward (generation dirs are
    * immutable — a recorded size can never go stale), list ONLY the
    * dirs still missing one (the single-dir writes of this commit —
    * bucket writes record theirs from the stage listing — plus a
    * one-time backfill of legacy dirs). This is what keeps
    * plan-time scan sizing a pure manifest fold instead of O(live
    * dirs) namenode listings per query plan. A dir that fails to
    * list records nothing — its estimate degrades to the listing
    * fallback, never fails the commit. */
  private def bytesFilled(name: String, m: Manifest, prev: Option[Manifest]): Manifest =
    m.copy(dirs = m.dirs ++ (m.buckets.values ++ m.logs).toSeq.distinct.flatMap { d =>
      val x = m.meta(d)
      x.bytes.orElse(prev.flatMap(_.meta(d).bytes)).orElse(listedBytes(name, d))
        .map(n => d -> x.copy(bytes = Some(n)))
    })

  /** Data-file bytes of one dir by listing it; None when it fails to list. */
  private def listedBytes(name: String, d: String): Option[Long] =
    try {
      val p = new Path(resolveDir(name, d))
      Some(fs(p).listStatus(p).filter(st => st.isFile && isDataFile(st.getPath.getName))
        .map(_.getLen).sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Data files, not the writer's hidden/marker files. */
  private def isDataFile(n: String): Boolean = !n.startsWith(".") && !n.startsWith("_")

  /** The commit point — every commit family's one write path: publish
    * `next` (version `base + 1`) over `base`, the latest manifest the
    * family read (None for a new table), with `written`, the observed
    * records of the dirs the family wrote, merged in. It reads nothing
    * but a legacy base's footers: the base carries the byte records
    * and the dropped-column marker forward, and the recorded schema is
    * the fold, through [[SnapshotBucketedStore.widen]], of `next`'s own
    * schema (else the base's, when any base dir stays live) and
    * `wrote`, the schemas of the frames the family handed its writers —
    * so a non-promotable write refuses here, before the publish, and
    * the table keeps serving its last snapshot. Stage the manifest
    * text fully, then publish it with a
    * true compare-and-set on the versioned name. A manifest for this
    * version already on disk means another writer won since the base
    * was read — refuse loudly ([[ConcurrentCommitException]]), never
    * replace; the CAS, not a re-read, is what guards a stale base.
    *
    * On HDFS-like filesystems rename refuses an existing target, so
    * stage-then-rename IS the CAS. On a posix local FS rename(2)
    * silently REPLACES the target — exists-then-rename has a window
    * where two writers racing to the same version (e.g. a streaming
    * drain vs [[SnapshotBucketedStore.compactLogs]]) would silently
    * drop the first commit. There the publish is a hard link instead:
    * link(2) fails EEXIST atomically, and the target appears fully
    * written because it aliases the completed staged file — both the
    * CAS and the all-or-nothing visibility survive. */
  private def commit(name: String, base: Option[Manifest], next: Manifest,
      written: Map[String, DirMeta] = Map.empty, wrote: Seq[StructType] = Nil): Unit = {
    require(next.version == nextVersion(base),
      s"$name: commit of v${next.version} over base v${base.fold(-1)(_.version)}")
    val live = (next.buckets.values ++ next.logs).toSet
    val start = next.schema.orElse(base.filter(b => (b.buckets.values ++ b.logs).exists(live))
      .flatMap(schemaOf(name, _)))
    val schema = (start.toSeq ++ wrote.map(w => org.apache.spark.sql.GraftBridge.asNullable(
      StructType(w.filterNot(_.name == BucketCol))))).reduceOption(SnapshotBucketedStore.widen)
    // the family's base serves both carry-forwards: per-dir byte
    // records (X258, dir-keyed and immutable) and the dropped-column
    // marker (X259, explicit `Some` wins — drop/restore/replace/
    // rebuild set it). A family that keeps the base's records keeps
    // its (possibly older) stats version in `next`, never newer than
    // current: one carried v1-recorded float string must not
    // masquerade as current-format
    val m = bytesFilled(name, next.withRecords(written), base).copy(
      statsVersion = math.min(next.statsVersion, SnapshotBucketedStore.CurrentStatsVersion),
      dropped = next.dropped.orElse(base.flatMap(_.dropped)), schema = schema)
    val dir = tableDir(name)
    val f = fs(dir)
    // writer-unique staging name: two writers racing to the same
    // version must not clobber each other's staged text either
    val tmp = new Path(dir,
      s"manifest-${m.version}-${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, true)
    // the commit wall-clock stamp, taken HERE (never carried from the
    // Manifest the caller built) so every commit family gets TIMESTAMP
    // AS OF resolution for free; resolution applies a monotone
    // envelope, so a clock step backwards can never make a later
    // version resolve earlier than its predecessor
    try out.write(ManifestCodec.render(m, System.currentTimeMillis()).getBytes("UTF-8"))
    finally out.close()
    beforeCommit()
    val dst = new Path(dir, s"manifest-${m.version}.txt")
    // HDFS-style publish: rename refuses an existing target, so
    // exists-then-rename IS the CAS there. Also the degraded path for
    // file-scheme mounts that refuse hard links (some network FS) —
    // the EEXIST atomicity narrows to the exists/rename window, but
    // the commit still lands. A crash between create and publish
    // leaves the staged .tmp; [[vacuum]] sweeps it with the rest of
    // the crash debris (stage dirs, orphaned generations).
    def renameCas(): Unit = {
      if (f.exists(dst)) {
        f.delete(tmp, false)
        throw new ConcurrentCommitException(
          s"$name v${m.version} was committed by another writer")
      }
      if (!f.rename(tmp, dst))
        throw new java.io.IOException(s"manifest commit rename failed for $name v${m.version}")
    }
    if (f.getScheme == "file") {
      val tmpNio = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
      val dstNio = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
      // the catch scopes the LINK CALL ONLY: if the post-link tmp
      // cleanup threw inside it, the degraded renameCas would see dst
      // existing and raise a false ConcurrentCommitException for a
      // commit that actually landed
      val linked =
        try { createLink(dstNio, tmpNio); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            f.delete(tmp, false)
            throw new ConcurrentCommitException(
              s"$name v${m.version} was committed by another writer")
          // order matters: FileAlreadyExistsException IS a
          // FileSystemException — the true-CAS refusal above must match
          // first; anything else link-related degrades to rename
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            false
        }
      if (linked) f.delete(tmp, false) // also removes the .crc sidecar
      else renameCas()
    } else renameCas()
  }

  /** Physical location of one manifest dir entry. Entries are
    * table-relative (`data/b3-g7`) except zero-copy CLONE references
    * (X221), which are store-root-relative with an `@` marker
    * (`@srcTable/data/b3-g7`) — a cloned table reads the original
    * owner's dirs until copy-on-write rewrites replace the refs. */
  private def resolveDir(name: String, d: String): String =
    if (d.startsWith("@")) new Path(new Path(root), d.drop(1)).toString
    else new Path(tableDir(name), d).toString

  private def dirsOf(name: String, m: Manifest, dirs: Iterable[String]): Seq[String] =
    dirs.map(resolveDir(name, _)).toSeq

  // ----------------------------------------------------------------
  // Data-skipping statistics (file-level min/max in the manifest)
  // ----------------------------------------------------------------

  /** Types whose `cast("string")` min/max round-trips EXACTLY and
    * compares correctly as BigDecimal — the soundness requirement
    * for skipping (a lossy bound could wrongly exclude a file).
    * Timestamps/dates are deliberately out: stat an epoch LONG
    * column instead (events.ts is already epoch-ns here). */
  private def statType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Floats are promoted to double BEFORE the string cast: a float's
    * shortest-decimal string can underestimate its double-promoted
    * value, and a caller passing a Double bound would then wrongly
    * skip a file. Shortest-repr strings of one IEEE width preserve
    * ordering as decimals, so double-everywhere is sound. */
  private def statInput(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.FloatType => col(c).cast("double")
      case _ => col(c)
    }
  }

  /** NaN / ±Infinity must never reach the manifest: Spark's max
    * treats NaN as largest and the string cast emits literals
    * BigDecimal can't parse. Dropping the stat (not clamping) is the
    * safe degrade — absence of stats always keeps the dir. */
  private def parsesAsDecimal(sv: String): Boolean =
    scala.util.Try(BigDecimal(sv)).isSuccess

  /** Key columns eligible for a membership Bloom: equality probing
    * compares xxhash64 of the column's NATIVE value against xxhash64
    * of the probe literal, so any hashable type works — but the probe
    * must be passed in the column's own type (documented contract,
    * same discipline as [[Prune.Ranges]] bounds). */
  private def keyColsOf(df: DataFrame): Seq[String] =
    keyColumns.filter(df.columns.contains)

  private def encodeBloom(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  /** THE metadata aggregate of a generation — row count, min/max of
    * the declared stats columns, key Blooms, HLL NDV and KLL quantile
    * sketches — built once for both ways a commit learns it: riding
    * the write pass as an observation ([[observedWrite]]) or, for
    * [[analyzeTable]]'s backfill of older dirs, one aggregate over a
    * read ([[metaOf]]). Rows and min/max are one
    * [[graft.expr.RowStatsAgg]]; each sketch is its own aggregate.
    * `grouped`, every aggregate is a [[graft.expr.PerGroupAgg]] over
    * [[BucketCol]], so one pass yields each written bucket's entry and
    * a task allocates and ships buffers only for the buckets it
    * holds; ungrouped, the single entry is keyed 0. All-null stats
    * columns record nothing (such a dir is conservatively KEPT —
    * absence of stats never lies). Rows are ALWAYS counted (X214
    * metadata-only aggregates). */
  private final class MetaAggs(df: DataFrame, grouped: Boolean) {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.GraftBridge.{toColumn, toExpr}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      BloomFilterAggregate, HllSketchAgg, TypedImperativeAggregate}
    import org.apache.spark.sql.functions.{col, xxhash64}
    private val cols = statsColumns.filter(c =>
      df.columns.contains(c) && statType(df.schema(c).dataType))
    private val kCols = keyColsOf(df)
    private val nCols = ndvColumns.filter(df.columns.contains)
    private val qCols = quantileColsOf(df)
    // (output name, aggregate). Key Blooms are the engine's own
    // BloomFilterAggregate over xxhash64(col) — the machinery behind
    // graft.ops.Bloom and AQE runtime filters — sized by
    // `keyExpectedItems` (fixed bits: an over-full dir degrades to a
    // higher false-positive rate, i.e. fewer skips, never wrong)
    private val aggs: Seq[(String, TypedImperativeAggregate[_])] =
      ("graft_rs" -> graft.expr.RowStatsAgg(cols.map(c => toExpr(statInput(df, c))))) +:
        (kCols.map(c => s"graft_kb_$c" ->
          new BloomFilterAggregate(toExpr(xxhash64(col(c))), keyExpectedItems)) ++
        nCols.map(c => s"graft_nv_$c" -> new HllSketchAgg(toExpr(ndvInput(df, c)), NdvLgK)) ++
        qCols.map(c => s"graft_qs_$c" -> graft.expr.KllSketchAgg(
          toExpr(col(c).cast("double")), graft.expr.KllSketchAgg.DefaultK)))

    val columns: Seq[Column] = aggs.map { case (name, fn) =>
      (if (grouped) graft.expr.PerGroupAgg.perGroup(col(BucketCol), fn)
       else toColumn(fn.toAggregateExpression())).as(name)
    }

    def decode(row: Row): Map[Long, DirMeta] = {
      def per[T](name: String): Map[Long, T] =
        if (grouped) row.getMap[Long, T](row.fieldIndex(name)).toMap
        else Option(row.getAs[T](name)).map(0L -> _).toMap
      val images = aggs.tail.map { case (name, _) => name -> per[Array[Byte]](name) }.toMap
      per[Row]("graft_rs").map { case (g, rs) =>
        def sketches(tag: String, cs: Seq[String]) = cs.flatMap(c =>
          images(s"graft_${tag}_$c").get(g).flatMap(Option(_)).map(b => (c, encodeBloom(b))))
        val rows = rs.getLong(0)
        val (mns, mxs) = (rs.getSeq[String](1), rs.getSeq[String](2))
        val stats = cols.indices.flatMap { i =>
          val (mn, mx) = (mns(i), mxs(i))
          if (mn == null || mx == null || !parsesAsDecimal(mn) || !parsesAsDecimal(mx)) None
          else Some((cols(i), mn, mx))
        }
        // a ZERO-ROW generation (a streaming epoch whose batch deduped
        // to nothing still commits, to advance the batch mark) records
        // an EMPTY Bloom per key column — it provably contains no key,
        // so membership probes always skip it; leaving it unBloomed
        // would conservatively keep it forever
        val keys =
          if (rows == 0L) kCols.map(_ -> encodeBloom(emptyBloomBytes))
          else sketches("kb", kCols)
        g -> DirMeta(stats, keys, Some(rows), sketches("nv", nCols), sketches("qs", qCols))
      }
    }
  }

  /** Metadata of an already-written generation, recomputed from a
    * read — only [[analyzeTable]] needs this (it backfills dirs that
    * earlier shapes wrote); every commit observes its own write. */
  private def metaOf(df: DataFrame): DirMeta = {
    val aggs = new MetaAggs(df, grouped = false)
    aggs.decode(df.agg(aggs.columns.head, aggs.columns.tail: _*).head())(0L)
  }

  /** Write one generation and learn its metadata on the SAME pass:
    * the [[MetaAggs]] ride an [[org.apache.spark.sql.Observation]] on
    * `df`, the exact frame handed to the writer (already laid out and
    * sorted) — the result stage, where each partition's update is
    * applied exactly once — so the recorded rows/stats/Blooms/sketches
    * describe precisely the committed rows, and no job reads the
    * generation back. The metrics arrive through the listener bus once
    * the write returns; a bounded wait turns a lost delivery into a
    * failed (uncommitted) write instead of a hang. */
  private def observedWrite(df: DataFrame, grouped: Boolean)(
      write: DataFrame => Unit): Map[Long, DirMeta] = {
    val aggs = new MetaAggs(df, grouped)
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, aggs.columns.head, aggs.columns.tail: _*))
    aggs.decode(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(5, "min")))
  }

  /** The NDV sketch input for a column: `hll_sketch_agg` accepts
    * int/bigint/string/binary natively; decimal and floating columns
    * sketch their CANONICAL STRING form instead — distinct values map
    * 1:1 to distinct strings (fixed-scale decimals; shortest-repr
    * IEEE), so the estimate is unchanged and the type coverage
    * extends to the numeric columns CBO most wants NDV for. */
  private def ndvInput(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val base = org.apache.spark.sql.functions.col(c)
    df.schema(c).dataType match {
      case _: DecimalType | FloatType | DoubleType => base.cast("string")
      case _ => base
    }
  }

  /** Serialized empty Bloom (contains nothing — every probe misses):
    * the membership stat of a zero-row generation dir. */
  private lazy val emptyBloomBytes: Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1L)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Quantile-sketch eligibility: declared, present, and NUMERIC —
    * the sketch is over the double promotion, a visible cast
    * (ints past 2^53 round; the stats min/max tier keeps exactness). */
  private def quantileColsOf(df: DataFrame): Seq[String] =
    quantileColumns.filter(c => df.columns.contains(c) &&
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** Does a dir's recorded range intersect [lower, upper]? Missing
    * stats (no line, or the column not recorded) keep the dir —
    * skipping is an optimization, never a semantics change. Stats a
    * pre-fix manifest recorded as NaN/Infinity (or any future
    * unparseable form) also KEEP the dir: a stat we can't interpret
    * must never exclude data. */
  private def survives(
      stats: Seq[(String, String, String)],
      column: String,
      lower: BigDecimal,
      upper: BigDecimal,
      legacyStats: Boolean = false): Boolean =
    recordedRange(stats, column, legacyStats).forall { case (lo, hi) => hi >= lower && lo <= upper }

  /** `column`'s recorded range in `stats`, if recorded and parseable.
    * Pre-versioning (v1) manifests may hold float-shortest strings
    * whose double promotion sits OUTSIDE the string value, so their
    * range widens by [[SnapshotBucketedStore.LegacyStatsEps]]. */
  private def recordedRange(stats: Seq[(String, String, String)], column: String,
      legacyStats: Boolean): Option[(BigDecimal, BigDecimal)] =
    stats.find(_._1 == column).flatMap(rangeOf).map { case (lo, hi) =>
      val eps = if (legacyStats) SnapshotBucketedStore.LegacyStatsEps else BigDecimal(0)
      (lo - lo.abs * eps, hi + hi.abs * eps)
    }

  /** THE pruned read: which generation dirs of one snapshot (the
    * latest, or `version`) a predicate must open, from ONE manifest
    * read. The same kept set serves the rows ([[PrunedScan.read]]),
    * the skip metric ([[PrunedScan.kept]]/[[PrunedScan.total]]) and
    * the planning estimate ([[PrunedScan.estimate]]), so the three
    * can never describe different snapshots. Stats and Blooms only
    * ever EXCLUDE provably-disjoint dirs: `Ranges` and `Eq` re-apply
    * the exact predicate on the kept dirs (it also pushes into the
    * columnar scan), `EqAny` returns a superset with no residual
    * filter. A prune that keeps nothing reads zero rows with the
    * snapshot's schema; a snapshot with no live dir reads None. None
    * when the table (or the pinned version) does not exist. */
  def pruned(name: String, p: Prune, version: Option[Int] = None): Option[PrunedScan] =
    manifestOf(name, version).map { m =>
      import org.apache.spark.sql.functions.{col, lit}
      val all = (m.buckets.values ++ m.logs).toSeq
      val kept = if (all.isEmpty) Nil else keptDirs(name, m, all, p)
      def read: Option[DataFrame] =
        if (all.isEmpty) None
        else {
          // every dir provably disjoint: zero rows, schema preserved
          val df = if (kept.isEmpty) emptyOf(schemaOf(name, m).get)
            else readDataDirs(name, m, kept)
          Some(p match {
            case Prune.Ranges(preds) => df.filter(preds.map { case (c, lo, hi) =>
              col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _))
            case Prune.Eq(c, v) => df.filter(col(c) === lit(v))
            case Prune.All | Prune.EqAny(_, _) => df
          })
        }
      // rows/bytes describe whole kept dirs before the residual
      // predicate, and tombstoned dirs count physical rows: an
      // OVERestimate keeps a big table from being wrongly broadcast,
      // never causes one. Bytes are a manifest fold (X258); only a
      // legacy dir written before bytes recording is listed.
      def estimate: (Option[Long], Option[Long]) = (
        if (kept.forall(m.meta(_).rows.isDefined)) Some(kept.flatMap(m.meta(_).rows).sum)
        else None,
        kept.foldLeft(Option(0L)) { (acc, d) =>
          acc.flatMap(sum => m.meta(d).bytes.orElse(listedBytes(name, d)).map(sum + _))
        })
      new PrunedScan(kept.size, all.size, read, estimate, servedOf(m))
    }

  /** The dirs of `all` predicate `p` keeps — the read path's one
    * min/max rule and one Bloom rule. Ranges: a dir goes when ANY
    * conjunct's recorded [min, max] is disjoint from its interval (an
    * unstatted column keeps the dir for ITS conjunct only). Eq/EqAny:
    * a dir goes when its key Bloom contains none of the probes' hashes
    * ([[typedKeyHashes]]: cast to the column's read type, plus every
    * narrower widening sibling); a dir without a Bloom stays, and an
    * unhashable probe keeps every dir. Each Bloom deserializes once. */
  private def keptDirs(name: String, m: Manifest, all: Seq[String], p: Prune): Seq[String] = {
    def bloomKept(column: String, values: Seq[Any]): Seq[String] =
      if (values.isEmpty) Nil
      else schemaOf(name, m).flatMap(_.find(_.name == column)).flatMap { f =>
        val per = values.map(typedKeyHashes(_, f.dataType))
        if (per.forall(_.isDefined)) Some(per.flatten.flatten) else None
      } match {
        case Some(hs) => all.filter(d => dirBloom(m.meta(d).keys, column)
          .forall(bf => hs.exists(bf.mightContainLong)))
        case None => all
      }
    p match {
      case Prune.All => all
      case Prune.Ranges(preds) =>
        val decs = preds.map { case (c, lo, hi) => (c, boundDecimal(lo), boundDecimal(hi)) }
        val legacy = m.statsVersion < SnapshotBucketedStore.CurrentStatsVersion
        all.filter(d => decs.forall { case (c, lo, hi) =>
          survives(m.meta(d).stats, c, lo, hi, legacy) })
      case Prune.Eq(c, v) => bloomKept(c, Seq(v))
      case Prune.EqAny(c, vs) => bloomKept(c, vs)
    }
  }

  /** Exact decimal of a range bound, promoting Float → Double first
    * so the comparison space matches the recorded (double-promoted)
    * stats. */
  private def boundDecimal(v: Any): BigDecimal = v match {
    case f: Float => BigDecimal(f.toDouble.toString)
    case f: java.lang.Float => BigDecimal(f.doubleValue.toString)
    case other => BigDecimal(other.toString)
  }

  // ----------------------------------------------------------------
  // Point-lookup skipping (per-dir key membership Blooms)
  // ----------------------------------------------------------------

  /** xxhash64 of a probe value, evaluated DRIVER-SIDE through the
    * same engine expression the recorded Blooms were built over —
    * the two sides must hash identically, so the hash is computed by
    * the expression, never re-implemented. The value must be passed
    * in the column's own external type (a Long for a long column):
    * xxhash64 is type-tagged, so an Int probe of a Long column would
    * silently never match. */
  private def keyHash(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(value)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
  }

  /** [[keyHash]] made SAFE against probe-type drift: xxhash64 is
    * type-tagged, so an Int probe of a Long column (or a
    * differently-scaled Decimal) hashes differently from the recorded
    * Bloom and would prune every dir — breaking the "no false
    * negatives" contract while `read().filter(col === value)` happily
    * coerces and returns rows. The probe is therefore CAST to the
    * column's read-schema type before hashing; a probe whose cast is
    * lossy for this value (round-trip back to the probe's own type
    * changes it) or impossible returns None, which callers treat as
    * "keep every dir" — the conservative degrade, exact residual
    * filters keep the semantics. */
  private def typedKeyHash(value: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val lit =
      try Literal(value)
      catch { case scala.util.control.NonFatal(_) => return None }
    val typed: Literal =
      if (lit.dataType == dt) lit
      else if (!Cast.canCast(lit.dataType, dt)) return None
      else {
        // ANSI sessions make Cast THROW on overflow (a sibling probe
        // downcasting 123456789L to TINYINT) — same meaning as the
        // null result: no value of dt equals the probe
        val v =
          try Cast(lit, dt, Some("UTC")).eval(InternalRow.empty)
          catch { case scala.util.control.NonFatal(_) => return None }
        if (v == null) return None // cast failed: no value of dt equals the probe... keep dirs anyway
        // lossless round-trip check: cast back to the probe's own
        // type and compare — an overflow-wrapped or truncated cast
        // must not hash (it would target the WRONG value's dirs)
        val back =
          try Cast(Literal(v, dt), lit.dataType, Some("UTC")).eval(InternalRow.empty)
          catch { case scala.util.control.NonFatal(_) => return None }
        if (back == null || back != lit.value) return None
        Literal(v, dt)
      }
    Some(new XxHash64(Seq(typed))
      .eval(InternalRow.empty).asInstanceOf[Long])
  }

  /** Every hash a probe value may carry across the type-widening
    * lattice (X212): a widened column's OLD generations recorded
    * Blooms at the NARROWER physical type (xxhash64 is type-tagged),
    * so probing only the merged read-schema type would falsely prune
    * dirs written before the widening — a false NEGATIVE, breaking
    * the membership contract. The probe therefore hashes at the
    * column's current type AND every narrower same-family sibling
    * the value round-trips through losslessly; a dir survives if ANY
    * hash might be contained. Extra hashes only ever KEEP more dirs
    * (false positives scan; never a miss). Decimals hash by unscaled
    * value — precision-invariant within the ≤18 / >18 encoding split,
    * so only that boundary needs a sibling. None = unhashable probe,
    * callers keep every dir. */
  private def typedKeyHashes(value: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Seq[Long]] = {
    import org.apache.spark.sql.types._
    val siblings: Seq[DataType] = dt match {
      case LongType => Seq(ByteType, ShortType, IntegerType)
      case IntegerType => Seq(ByteType, ShortType)
      case ShortType => Seq(ByteType)
      case DoubleType => Seq(FloatType)
      case d: DecimalType if d.precision > 18 => Seq(DecimalType(18, d.scale))
      case _ => Nil
    }
    typedKeyHash(value, dt).map(h =>
      (h +: siblings.flatMap(typedKeyHash(value, _))).distinct)
  }

  /** The recorded key Bloom of one dir, deserialized ONCE — callers
    * probing many hashes against many dirs must not pay a multi-KB
    * base64 decode + deserialization per (hash, dir) pair. None
    * means no recorded (or undecodable) Bloom: keep the dir. */
  private def dirBloom(
      keys: Seq[(String, String)],
      column: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    keys.find(_._1 == column).flatMap { case (_, b64) =>
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b64))))
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The metadata-served figures of one snapshot (the latest, or
    * `version`) from ONE manifest read — COUNT, MIN/MAX, NDV,
    * quantiles, range counts, drift and CBO column statistics all
    * answer from the same [[Served]] view, so figures combined by one
    * caller never mix snapshots. None when the table (or the pinned
    * version) does not exist. */
  def served(name: String, version: Option[Int] = None): Option[Served] =
    manifestOf(name, version).map(servedOf)

  private def servedOf(m: Manifest): Served =
    new Served(m, (statsColumns ++ ndvColumns).distinct)

  override def read(name: String): Option[DataFrame] =
    latestManifest(name).flatMap(readManifest(name, _))

  override def schema(name: String): Option[StructType] = schema(name, None)

  /** The table's schema at the latest snapshot, or at `version` — the
    * recorded one, read from the manifest alone. None when the table
    * (or the pinned version) does not exist, or a snapshot written
    * before the schema was recorded has no live dir. */
  def schema(name: String, version: Option[Int]): Option[StructType] =
    manifestOf(name, version).flatMap(schemaOf(name, _))

  /** Snapshot `m`'s schema: the recorded one, else — a manifest written
    * before the schema was recorded — the fold of its live dirs'
    * footer schemas through [[SnapshotBucketedStore.widen]], minus the
    * dropped names. The fold is the store's only footer read that
    * learns a table schema; the first commit over such a manifest
    * records its result. */
  private def schemaOf(name: String, m: Manifest): Option[StructType] =
    m.schema.orElse {
      val dirs = m.buckets.toSeq.sortBy(_._1).map(_._2) ++ m.logs
      dirs.map(d => readOwn(resolveDir(name, d)).schema).reduceOption(SnapshotBucketedStore.widen)
        .map(s => StructType(s.filterNot(f => m.droppedNames.contains(f.name))))
    }

  /** Read generation dirs of snapshot `m` through its schema, with
    * OUTSTANDING KEY TOMBSTONES applied (merge-on-read deletes, X234 —
    * the deletion-vector discipline Delta/Iceberg grew for exactly the
    * single-key-delete-on-a-100 TB-table case): dirs without
    * tombstones read in ONE multi-dir scan (zero cost on the common
    * path); each tombstoned dir anti-joins its OWN sidecar key set
    * (broadcast — tombstones are delete batches, driver-small by the
    * [[deleteLazy]] contract). Per-dir — never a union across dirs —
    * because a key deleted from generation A and later re-upserted
    * lands in a NEW dir carrying no tombstone; a union anti-join would
    * kill the resurrected row. A dir that predates a sidecar's key
    * column reads it as NULL, which never equals a tombstone key, so a
    * conservative all-bucket SQL DELETE cannot strand older
    * generations; a key column dropped since the delete still masks
    * its rows. Every batch read path flows through here, so the
    * schema is the whole of DROP COLUMN (X259) and of type widening
    * (X212) at read: a dropped name is not in it, and any REWRITE that
    * reads through here (upsert merge, applyDeletes, compactLogs,
    * clustered rewrites) sheds the column physically and writes the
    * widened types. */
  private def readDataDirs(name: String, m: Manifest, rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val schema = schemaOf(name, m).get
    val (tombed, clean) = rels.partition(m.liveTombs.contains)
    // sidecars group by their key column: one anti-join per column
    // (SQL DELETEs may target different columns), each over the union
    // of that column's sidecar dirs
    def masked(d: String): DataFrame = {
      val doomed = m.liveTombs(d).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, ts) =>
        k -> ts.map(t => readOwn(resolveDir(name, t._2)).select(k)).reduce(_ union _).distinct()
      }
      val hidden = doomed.map(_._2.schema.head).filterNot(f => schema.fieldNames.contains(f.name))
      doomed.foldLeft(readDirs(dirsOf(name, m, Seq(d)), StructType(schema.fields ++ hidden))) {
        case (acc, (k, keys)) => acc.join(broadcast(keys), Seq(k), "left_anti")
      }.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    }
    ((if (clean.nonEmpty) Seq(readDirs(dirsOf(name, m, clean), schema)) else Nil) ++
      tombed.map(masked)).reduce(_ union _)
  }

  private def readManifest(name: String, m: Manifest): Option[DataFrame] = {
    val all = (m.buckets.values ++ m.logs).toSeq
    if (all.isEmpty) None
    else Some(readDataDirs(name, m, all))
  }

  /** Commit HISTORY as a queryable frame (the `DESCRIBE HISTORY`
    * answer): one row per retained snapshot — version, the streaming
    * batch mark, bucket/log generation counts, and the row count
    * served from the manifest's recorded per-dir counts (X214; null
    * for legacy manifests with unstatted live dirs — the shared
    * honest degrade, never a wrong number). Metadata-only: the audit
    * of a 100 TB table's whole lifetime costs its manifest files.
    * None when the table doesn't exist. */
  def history(name: String): Option[DataFrame] = {
    val vs = snapshots(name)
    if (vs.isEmpty) return None
    val rows = vs.flatMap(manifestAt(name, _)).map { m =>
      // outstanding tombstones → recorded physical counts over-count
      // the logical snapshot: null, the shared honest degrade
      org.apache.spark.sql.Row(m.version, m.lastBatch.map(Long.box).orNull,
        m.buckets.size, m.logs.size, servedOf(m).count.map(Long.box).orNull)
    }
    import org.apache.spark.sql.types._
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", IntegerType, nullable = false),
        StructField("last_batch", LongType),
        StructField("n_buckets", IntegerType, nullable = false),
        StructField("n_logs", IntegerType, nullable = false),
        StructField("row_count", LongType)))))
  }

  /** The current snapshot's MANIFEST ENTRIES as a queryable frame
    * (the `t$files` metadata table): one row per live generation dir —
    * kind (bucket/log), bucket id, recorded row count, and any
    * outstanding tombstone sidecars attached to it. Metadata-only:
    * auditing WHAT a 100 TB table physically is costs its manifest.
    * None when the table doesn't exist. */
  def manifestEntries(name: String): Option[DataFrame] =
    latestManifest(name).map { m =>
      val tombsOf = m.liveTombs
      val rows =
        m.buckets.toSeq.sortBy(_._1).map { case (b, d) =>
          org.apache.spark.sql.Row(d, "bucket", Long.box(b),
            m.meta(d).rows.map(Long.box).orNull,
            tombsOf.getOrElse(d, Nil).map { case (k, rel) => s"$k:$rel" }
              .mkString(",") match { case "" => null; case s => s },
            m.meta(d).bytes.map(Long.box).orNull)
        } ++
          m.logs.map(d => org.apache.spark.sql.Row(d, "log", null,
            m.meta(d).rows.map(Long.box).orNull, null,
            m.meta(d).bytes.map(Long.box).orNull))
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("dir", StringType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("bucket", LongType),
          StructField("row_count", LongType),
          StructField("tombstones", StringType),
          StructField("bytes", LongType))))
    }

  /** Committed snapshot versions still on disk, ascending. What's
    * listable is what [[vacuum]]'s retention window kept — retention
    * IS the time-travel horizon. */
  def snapshots(name: String): Seq[Int] = {
    val dir = tableDir(name)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(n) => Some(n.toInt)
      case _ => None
    }).sorted
  }

  /** TIMESTAMP → version resolution for time travel: the NEWEST
    * retained snapshot committed at-or-before `millis` (epoch
    * milliseconds), by each manifest's own commit stamp under a
    * monotone envelope (versions are ordered truth; a wall clock that
    * stepped backwards between commits never reorders them). None when
    * every retained stamp is later than `millis` — asking for a time
    * before the first (retained) commit is a caller error to surface
    * loudly, not a silent latest-version fallback; [[vacuum]]'s
    * retention window is the travel horizon here exactly as it is for
    * version travel. Legacy manifests without a stamp cannot be
    * resolved by time and are skipped (version travel still serves
    * them). */
  def versionAt(name: String, millis: Long): Option[Int] = {
    var env = Long.MinValue
    snapshots(name).flatMap(manifestAt(name, _)).flatMap { m =>
      m.commitMillis.map { ts => env = math.max(env, ts); (m.version, env) }
    }.takeWhile(_._2 <= millis).lastOption.map(_._1)
  }

  /** TIME-TRAVEL read: the table exactly as committed at `version`.
    * Retained snapshots are useless write-only weight otherwise — a
    * user paying [[vacuum]]'s retention cost gets to read, diff
    * (`readAt(v2).exceptAll(readAt(v1))`), and audit them. None when
    * the version was never committed or vacuum already reclaimed its
    * manifest; a version inside the retention window always resolves
    * (vacuum keeps every dir its retained manifests reference). */
  def readAt(name: String, version: Int): Option[DataFrame] =
    manifestAt(name, version).flatMap(readManifest(name, _))

  /** Roll the table back (or forward) to `version` — AS A NEW COMMIT,
    * never in place: the new manifest re-references the old version's
    * generation dirs byte-for-byte (no data copied, same trick as
    * untouched buckets in [[upsert]]), so the restore is itself
    * O(manifest), atomic, and revertible by another restore. The
    * streaming batch high-water mark is carried from the CURRENT
    * snapshot, not the restored one — epochs are monotonic, and
    * resurrecting an old mark would let a crash-replayed batch
    * re-apply after the restore. */
  def restore(name: String, version: Int): Unit = {
    val target = manifestAt(name, version).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$name has no snapshot v$version (vacuumed, or never committed)"))
    val cur = latestManifest(name).get // target existing ⇒ table exists
    // the restored version's per-dir records restore with it, its
    // OUTSTANDING tombstones included — dropping them would silently
    // resurrect merge-on-read deletes
    commit(name, Some(cur), target.copy(version = cur.version + 1, lastBatch = cur.lastBatch,
      // the restored version's dropped-column marker and schema restore
      // WITH it (explicit, even when empty): rolling back past a DROP
      // or ADD COLUMN resurrects or retires the column — both are
      // snapshot state like everything else here
      dropped = target.dropped.orElse(Some(Nil)), schema = schemaOf(name, target)))
  }

  /** ZERO-COPY table clone (X221 — Delta's SHALLOW CLONE / Iceberg's
    * snapshot-ref discipline): `dst` is born as ONE manifest whose
    * dir entries REFERENCE `src`'s generation dirs (`@src/<rel>` —
    * store-root-relative, resolved by [[resolveDir]]), carrying the
    * source's stats/Blooms/rows/NDV/quantile sketches verbatim —
    * they describe the dirs, and the dirs are the same bytes. O(one
    * manifest write) at ANY table size: the 100 TB fork (a dev copy
    * to test a migration, a frozen training-set snapshot with its
    * own retention, an experiment branch) costs milliseconds and
    * zero storage until the copies DIVERGE — every write to either
    * side is copy-on-write by construction (all commit families
    * rewrite touched buckets into the writing table's OWN dirs and
    * drop the refs; untouched buckets keep referencing the shared
    * bytes). Pass `version` to clone a historic snapshot (time-travel
    * fork — the retained-manifest horizon applies).
    *
    * The lifecycle contract that makes sharing safe: [[vacuum]] on
    * the SOURCE keeps any dir referenced by a clone's on-disk
    * manifests (the cross-table keep-scan), and a clone's own vacuum
    * only ever lists its own data dir — neither side can reclaim the
    * other's bytes. A clone-of-a-clone re-points at the ORIGINAL
    * owner, so reference chains never deepen and the keep-scan's
    * `@owner/` match finds every borrower. The streaming batch mark
    * carries over: the clone CONTAINS those epochs, so re-draining
    * the same source into it stays exactly-once. GDPR discipline,
    * stated loudly: a keyed [[delete]] on one side does NOT touch the
    * other — right-to-be-forgotten must be applied to every clone
    * (and the shared bytes are only physically reclaimed once no
    * manifest anywhere references them). */
  def cloneTable(src: String, dst: String, version: Option[Int] = None): Unit = {
    require(src != dst, s"cannot clone '$src' onto itself")
    // the clone target's base: a clone is a new table's first commit
    require(latestManifest(dst).isEmpty, s"clone target '$dst' already exists")
    val m = version match {
      case Some(v) => manifestAt(src, v).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$src has no snapshot v$v (vacuumed, or never committed)"))
      case None => latestManifest(src).getOrElse(
        throw new java.util.NoSuchElementException(s"no such table: $src"))
    }
    def ref(d: String) = if (d.startsWith("@")) d else s"@$src/$d"
    // the clone inherits the source's recorded SHAPE (props sidecar):
    // it borrows the source's bucket layout byte-for-byte, so serving
    // it under a different key/bucket shape would be silently wrong
    val srcProps = tableProps(src)
    if (srcProps.nonEmpty) writeTableProps(dst, srcProps)
    commit(dst, None, m.copy(version = 0,
      buckets = m.buckets.map { case (b, d) => b -> ref(d) },
      logs = m.logs.map(ref),
      // outstanding tombstones clone BY REFERENCE like the data dirs
      // they mask — both sides of the (dir, sidecar) pair re-point at
      // the owner, and vacuum's borrow scan protects both
      dirs = m.liveDirs.map { case (d, x) =>
        ref(d) -> x.copy(tombs = x.tombs.map { case (k, rel) => (k, ref(rel)) }) },
      // the clone shows the source's LOGICAL schema: its schema and
      // dropped-column marker copy over (the borrowed dirs still carry
      // a dropped column's bytes; the schema is what makes them one
      // table)
      dropped = m.dropped.orElse(Some(Nil)), schema = schemaOf(src, m)))
  }

  /** Keyed diff of two retained snapshots (`added`/`removed`/
    * `changed` + changed-column list per key, [[graft.ops.Diff.keyed]]
    * semantics) with MANIFEST-LEVEL pruning: a bucket whose dir
    * reference is identical in both manifests is byte-identical data
    * — every key in it is provably unchanged WITHOUT reading a row,
    * so both scans load only the touched buckets. Hash bucketing is
    * stable across versions, so a key's old and new rows land in the
    * same bucket id and pruning never splits a pair. Diff cost scales
    * with the touched fraction of the table, not its size — on a
    * 100 TB table where a run upserts 0.1% of keys, the diff reads
    * ~0.1% (times bucket granularity) of two versions, not 200 TB.
    *
    * Pruning applies when `includeUnchanged` is false (the audit
    * shape); asking for unchanged rows requires their keys, hence a
    * full read of both versions. A version that predates a column
    * (widening upsert) reads null there, so such rows report
    * `changed` on the new column — the evolution audit a reviewer
    * wants. Bucketed upsert tables only: log generations carry no key
    * contract (use [[appendsSince]]). None when either version is
    * gone (never committed, or vacuumed). */
  def diffVersions(
      name: String,
      v1: Int,
      v2: Int,
      key: String,
      includeUnchanged: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    for {
      m1 <- manifestAt(name, v1)
      m2 <- manifestAt(name, v2)
    } yield {
      require(m1.logs.isEmpty && m2.logs.isEmpty,
        s"$name has append-log generations; keyed diff targets bucketed " +
          "upsert tables — use appendsSince for log tables")
      // a bucket is unchanged only when BOTH its dir ref and its
      // outstanding tombstones match — same bytes under different
      // merge-on-read deletes is different content
      def sameBucket(b: Long): Boolean =
        m1.buckets.get(b) == m2.buckets.get(b) &&
          m1.buckets.get(b).flatMap(m1.liveTombs.get) ==
            m2.buckets.get(b).flatMap(m2.liveTombs.get)
      val touched =
        if (includeUnchanged) (m1.buckets.keySet ++ m2.buckets.keySet).toSeq.sorted
        else (m1.buckets.keySet ++ m2.buckets.keySet).toSeq
          .filterNot(sameBucket).sorted
      def side(m: Manifest): Option[DataFrame] = {
        val rels = touched.flatMap(m.buckets.get(_))
        if (rels.isEmpty) None else Some(readDataDirs(name, m, rels))
      }
      (side(m1), side(m2)) match {
        case (None, None) =>
          // nothing touched on either side: an empty diff in the
          // canonical (key, change, changed_cols) shape
          emptyOf(StructType(
            schemaOf(name, m2).orElse(schemaOf(name, m1))
              .map(_.fields.filter(_.name == key)).getOrElse(Array.empty).toSeq ++
              Seq(StructField("change", StringType), StructField("changed_cols", StringType))))
        case (o, n) =>
          val base = o.orElse(n).get
          val old = o.getOrElse(base.limit(0))
          val neu = n.getOrElse(base.limit(0))
          // align columns across a widening upsert: the missing side
          // reads null, typed from the side that has the column
          val allCols = old.columns ++ neu.columns.filterNot(old.columns.contains)
          def aligned(df: DataFrame): DataFrame = {
            val have = df.columns.toSet
            val donor = if (df eq old) neu else old
            df.select(allCols.map { c =>
              if (have(c)) col(c)
              else lit(null).cast(donor.schema(c).dataType).as(c)
            }.toIndexedSeq: _*)
          }
          graft.ops.Diff.keyed(aligned(old), aligned(neu), Seq(key),
            includeUnchanged)
      }
    }
  }

  /** [[diffVersions]] WITH PAYLOAD — the CDC read an incremental
    * downstream consumer actually applies: one row per key whose
    * presence or payload differs between `since` and `upto` (default:
    * latest), carrying `change` ∈ added|changed|removed plus the
    * NEW-side payload columns (null for removed keys, whose only
    * actionable content is the key itself). Cost scales with the
    * TOUCHED fraction, same as [[diffVersions]]: the label pass
    * prunes to buckets whose dir refs differ, and the payload fetch
    * reads only the new side of those same buckets — never the whole
    * table. None when either version is gone (never committed, or
    * vacuumed — the consumer's signal to fall back to a full
    * rebuild). Bucketed upsert tables only ([[appendsSince]] is the
    * log-table form, where the delta needs no diff at all). */
  def changesSince(
      name: String,
      since: Int,
      key: String,
      upto: Option[Int] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    for {
      end <- upto.orElse(snapshots(name).lastOption)
      labels <- diffVersions(name, since, end, key)
      m1 <- manifestAt(name, since)
      m2 <- manifestAt(name, end)
    } yield {
      // tombstone-aware touch test, same rule as diffVersions: a
      // bucket with the same dir but different merge-on-read deletes
      // HAS changed
      val touched = (m1.buckets.keySet ++ m2.buckets.keySet).toSeq
        .filter(b => m1.buckets.get(b) != m2.buckets.get(b) ||
          m1.buckets.get(b).flatMap(m1.liveTombs.get) !=
            m2.buckets.get(b).flatMap(m2.liveTombs.get))
      val newRels = touched.flatMap(m2.buckets.get(_))
      val neu = if (newRels.isEmpty) None
        else Some(readDataDirs(name, m2, newRels))
      // the all-removed edge (no new-side dirs in any touched bucket)
      // joins an empty payload in the table's own schema at either end
      val payload = neu.orElse(schemaOf(name, m2).orElse(schemaOf(name, m1)).map(emptyOf))
      val lab = labels.select(col(key), col("change"))
      payload match {
        case None => lab // both versions empty ⇒ labels is empty too
        case Some(p) =>
          // reserved-name guard already ran inside diffVersions: the
          // payload cannot carry change/changed_cols columns
          lab.join(p, Seq(key), "left")
      }
    }
  }

  /** Is the dir's recorded range provably CONTAINED in [lower,
    * upper]? The drop-side dual of [[survives]]: containment must be
    * certain, so missing/unparseable stats answer NO, and legacy
    * float-string widening makes the test strictly harder (a widened
    * range inside the bounds implies the true range is). */
  private def engulfedBy(
      stats: Seq[(String, String, String)],
      column: String,
      lower: BigDecimal,
      upper: BigDecimal,
      legacyStats: Boolean): Boolean =
    recordedRange(stats, column, legacyStats).exists { case (lo, hi) => lo >= lower && hi <= upper }

  /** Range DELETE with manifest-level classification — the TTL /
    * retention sweep (`DELETE WHERE column BETWEEN lower AND upper`,
    * null rows never match, standard SQL semantics). Every generation
    * dir classifies by its recorded min/max:
    *
    *   - DISJOINT from the range: untouched — not even listed.
    *   - CONTAINED in the range: candidate for a METADATA-ONLY drop —
    *     the dir reference leaves the manifest, no data moves. Since
    *     min/max ignore nulls, containment alone cannot prove a dir
    *     holds no null rows (which must survive); a one-column probe
    *     over the contained dirs checks, and a dir carrying nulls
    *     demotes to the rewrite path. On the 100 TB time-ordered
    *     table this sweep exists for, expired generations drop for
    *     the cost of reading ONE column of already-doomed dirs — or,
    *     with a non-nullable column, effectively the manifest write.
    *   - STRADDLING (or stats missing/unparseable): rewritten without
    *     the matching rows (nulls kept via the three-valued-logic
    *     coalesce), staged as new generation dirs.
    *
    * One manifest commit applies drops and rewrites atomically; a
    * crash mid-stage leaves the previous snapshot serving and only
    * orphan dirs behind (the upsert discipline). Superseded dirs stay
    * time-travel-readable until [[vacuum]]. Returns
    * (dropped, rewritten, untouched) dir counts — the X75-style
    * metric surface; None when the table doesn't exist. */
  def deleteRange(
      name: String,
      column: String,
      lower: Any,
      upper: Any): Option[(Int, Int, Int)] = {
    import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, not, regexp_extract}
    latestManifest(name).map { m =>
      require(!m.droppedNames.contains(column),
        s"$name: '$column' was dropped — a predicate on a retired name " +
          "would silently target hidden values (X259); rebuild() first")
      val legacy = m.statsVersion < SnapshotBucketedStore.CurrentStatsVersion
      val lo = boundDecimal(lower); val hi = boundDecimal(upper)
      val entries: Seq[(Option[Long], String)] =
        m.buckets.toSeq.sortBy(_._1).map { case (b, d) => (Option(b), d) } ++
          m.logs.map(d => (None: Option[Long], d))
      def cls(d: String): Int =
        if (!survives(m.meta(d).stats, column, lo, hi, legacy)) 0
        else if (engulfedBy(m.meta(d).stats, column, lo, hi, legacy)) 1
        else 2
      val byCls = entries.groupBy(e => cls(e._2))
      val disjoint = byCls.getOrElse(0, Nil)
      val contained = byCls.getOrElse(1, Nil)
      val straddle = byCls.getOrElse(2, Nil)
      // null probe: count null `column` rows per contained dir (one
      // narrow scan); only a provably null-free dir may drop
      val nullsByDir: Map[String, Long] =
        if (contained.isEmpty) Map.empty
        else readDirs(dirsOf(name, m, contained.map(_._2)), schemaOf(name, m).get)
          .select(col(column).as("graft_c_"),
            regexp_extract(input_file_name(), "(data/[^/]+)/[^/]+$", 1)
              .as("graft_d_"))
          .groupBy(col("graft_d_"))
          .agg((count(lit(1)) - count(col("graft_c_"))).as("graft_n_"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // a contained dir absent from the probe result produced no rows
      // at all (empty generation) — dropping it is trivially safe
      val (dropped, demoted) = contained.partition(e =>
        nullsByDir.getOrElse(e._2, 0L) == 0L)
      val rewrites = straddle ++ demoted
      val v = m.version + 1
      val pred = col(column) >= lit(lower) && col(column) <= lit(upper)
      var bucketMap = m.buckets
      var logList = m.logs
      val written = scala.collection.mutable.ArrayBuffer[(String, DirMeta)]()
      dropped.foreach {
        case (Some(b), _) => bucketMap -= b
        case (None, d) => logList = logList.filterNot(_ == d)
      }
      rewrites.zipWithIndex.foreach { case ((ob, d), i) =>
        // tombstone-aware read: the rewrite applies outstanding
        // merge-on-read deletes too (free physical erasure)
        val kept = readDataDirs(name, m, Seq(d))
          .filter(not(coalesce(pred, lit(false))))
        val rel = ob match {
          case Some(b) => s"data/b$b-g$v"
          case None => s"data/del$i-g$v"
        }
        written += rel -> writeDir(kept, new Path(tableDir(name), rel).toString)
        ob match {
          case Some(b) => bucketMap += b -> rel
          case None => logList = logList.map(x => if (x == d) rel else x)
        }
      }
      // records of rewritten/dropped dirs drop at commit (live dirs only)
      commit(name, Some(m), m.copy(version = v, buckets = bucketMap, logs = logList),
        written.toMap)
      (dropped.size, rewrites.size, disjoint.size)
    }
  }

  /** Change-data capture for append-log tables: exactly the rows
    * appended after version `since`, as of version `upto` (default:
    * latest). Zero compute — appends only ever ADD log dirs, so the
    * delta IS the dir-set difference of the two manifests; nothing is
    * scanned but the new generations themselves. The contract breaks
    * if a [[compactLogs]] rewrote history inside the range (old dirs
    * vanish into a merged generation, so "new dirs" would double-count
    * compacted rows) — that case refuses loudly rather than
    * mis-reporting; capture deltas across compaction-free ranges, the
    * same horizon rule Delta-style CDC imposes across VACUUM. */
  def appendsSince(
      name: String,
      since: Int,
      upto: Option[Int] = None): Option[DataFrame] =
    for {
      m1 <- manifestAt(name, since)
      m2 <- upto.map(manifestAt(name, _)).getOrElse(latestManifest(name))
    } yield {
      require(m1.buckets.isEmpty && m2.buckets.isEmpty,
        s"$name has bucketed upsert generations; appendsSince targets " +
          "append-log tables — use diffVersions for keyed tables")
      require(m2.version >= m1.version,
        s"backwards capture range: v$since → v${m2.version}")
      val rewritten = m1.logs.filterNot(m2.logs.contains)
      require(rewritten.isEmpty,
        s"$name log history was compacted between v$since and " +
          s"v${m2.version} (${rewritten.mkString(",")} superseded); " +
          "dir-level capture is only sound across compaction-free ranges")
      val fresh = m2.logs.filterNot(m1.logs.contains)
      // the capture reads through the CAPTURE-END snapshot's schema: a
      // dir appended before a drop must not leak the retired column
      // into the change feed (consumers see the table's current schema)
      val schema = schemaOf(name, m2).orElse(schemaOf(name, m1)).getOrElse(
        throw new java.util.NoSuchElementException(s"graft table '$name' has no schema"))
      if (fresh.isEmpty) emptyOf(schema) else readDirs(dirsOf(name, m2, fresh), schema)
    }

  /** The generation format this store reads/writes — the SQL
    * streaming source (X252) is a direct parquet-file reader and must
    * refuse other formats loudly instead of mis-decoding. */
  def storageFormat: String = fmt

  /** DIR-LEVEL twin of [[appendsSince]] for the DSv2 streaming source
    * (X252): the RELATIVE log dirs committed in (since, upto] — same
    * append-log-only and compaction-refusal contract (rewritten
    * history would double-count), but returning the dirs themselves
    * so a file-granular reader can plan partitions without a
    * driver-side DataFrame. `since < 0` means "nothing consumed":
    * the whole log at `upto` (the initial load). */
  def appendDirsSince(name: String, since: Int, upto: Int): Seq[String] = {
    val m2 = manifestAt(name, upto).getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$name' lost v$upto (vacuumed? retention must " +
          "cover the trigger interval)"))
    require(m2.buckets.isEmpty,
      s"$name has bucketed upsert generations; the streaming source " +
        "tails append-log tables")
    if (since < 0) return m2.logs
    val m1 = manifestAt(name, since).getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$name' lost v$since needed by the stream " +
          "(vacuum retention must cover the trigger interval)"))
    require(m2.version >= m1.version,
      s"backwards capture range: v$since → v${m2.version}")
    val rewritten = m1.logs.filterNot(m2.logs.contains)
    require(rewritten.isEmpty,
      s"$name log history was compacted between v$since and v$upto " +
        s"(${rewritten.mkString(",")} superseded); dir-level capture " +
        "is only sound across compaction-free ranges")
    m2.logs.filterNot(m1.logs.contains)
  }

  /** The DATA FILES of the given relative dirs, resolved to full
    * paths — partition planning for the file-granular streaming
    * reader. Hidden/metadata files excluded, same filter as every
    * other dir walk here. */
  def dataFilePaths(name: String, dirs: Seq[String]): Seq[String] =
    dirs.flatMap { d =>
      val p = new Path(resolveDir(name, d))
      val f = fs(p)
      // a vanished dir means vacuum reclaimed a generation the stream
      // still needs — refuse LOUDLY (the appendDirsSince discipline one
      // step earlier); silently emitting fewer rows would corrupt the
      // consumer's exactly-once ledger without a trace
      if (!f.exists(p))
        throw new java.util.NoSuchElementException(
          s"graft table '$name' lost generation dir '$d' needed by the " +
            "stream (vacuum retention must cover the trigger interval)")
      f.listStatus(p).toSeq.filter(st => st.isFile && isDataFile(st.getPath.getName))
        .map(_.getPath.toString)
    }

  /** The streaming/refresh high-water mark: the highest batch id an
    * [[appendIfNew]]/[[replaceWithBatch]] committed for this table.
    * Public because exactly-once CONSUMERS need it too — an
    * incremental refresher ([[IncrementalAgg]]) stores its source
    * cursor here, so "what have I applied" survives crashes in the
    * same manifest rename as the data it describes. */
  def lastAppliedBatch(name: String): Option[Long] =
    latestManifest(name).flatMap(_.lastBatch)

  /** [[replace]] that also SETS the batch high-water mark (replace
    * itself only carries the existing mark forward): the rebuild
    * path of exactly-once consumers — one manifest rename installs
    * both the recomputed content and the cursor saying what it
    * covers. Refuses to move the mark backwards: a lower id would
    * re-open the door for replays of already-applied epochs. */
  def replaceWithBatch(name: String, df: DataFrame, batchId: Long): Unit = {
    val prev = latestManifest(name)
    require(prev.flatMap(_.lastBatch).forall(_ <= batchId),
      s"$name batch mark would move backwards: " +
        s"${prev.flatMap(_.lastBatch)} → $batchId")
    val v = nextVersion(prev)
    val rel = s"data/log-$v"
    val dm = writeDir(df, new Path(tableDir(name), rel).toString)
    commit(name, prev, Manifest(v, Map.empty, Seq(rel), Some(batchId),
      fanout = prev.flatMap(_.fanout),
      dropped = Some(Nil)), Map(rel -> dm), Seq(df.schema)) // full rewrite = the new schema truth
  }

  /** K2 append as a committed log generation: new dir + new manifest.
    * Mirrors [[upsert]]'s role-split guard in the other direction:
    * appending log dirs into a bucketed upsert target would brick it
    * (every later upsert/delete refuses on the logs-present check). */
  override def append(name: String, df: DataFrame): Unit =
    appendCommit(name, latestManifest(name), df, None)

  /** Exactly-once streaming append: the batch id commits in the SAME
    * manifest rename as the data, so "data landed but marker didn't"
    * cannot exist. A replayed epoch (batchId ≤ recorded high-water
    * mark) is skipped — foreachBatch epochs are monotonic per query. */
  override def appendIfNew(name: String, df: DataFrame, batchId: Long): Boolean = {
    val prev = latestManifest(name)
    if (prev.flatMap(_.lastBatch).exists(batchId <= _)) false
    else { appendCommit(name, prev, df, Some(batchId)); true }
  }

  private def appendCommit(name: String, prev: Option[Manifest], df: DataFrame,
      batchId: Option[Long]): Unit = {
    require(prev.forall(_.buckets.isEmpty),
      s"$name has bucketed upsert generations; append targets log tables only")
    refuseDroppedWrite(name, prev, df)
    val v = nextVersion(prev)
    val rel = s"data/log-$v"
    val dm = writeDir(df, new Path(tableDir(name), rel).toString)
    val base = prev.getOrElse(Manifest(v, Map.empty, Nil))
    commit(name, prev, base.copy(version = v, logs = base.logs :+ rel,
      lastBatch = batchId.orElse(base.lastBatch)), Map(rel -> dm), Seq(df.schema))
  }

  /** Log-structured compaction for append-mode tables: fold the
    * current snapshot's N log generations into ONE (optionally
    * `transform`ed — e.g. a sketch table's cell-wise sum, a candidate
    * table's distinct), committed with a compare-and-swap against the
    * snapshot that was read. An append (e.g. a streaming drain's
    * [[appendIfNew]]) landing between the read and the commit makes
    * the CAS fail — the compaction RETRIES against the fresh snapshot
    * instead of silently dropping the new generation while its batch
    * mark survives, which a blind read-then-replace would do. The
    * batch mark carries the base snapshot's value, which the CAS
    * proves complete. Superseded generation dirs (and any lost-race
    * staging) become unreferenced garbage for [[vacuum]].
    *
    * Returns true when the log is compact (≤ 1 generation), false if
    * every attempt lost its race. A real streaming user needs this —
    * one dir per micro-batch forever is unbounded read fan-in. */
  def compactLogs(
      name: String,
      transform: DataFrame => DataFrame = identity,
      maxAttempts: Int = 5): Boolean = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val base = latestManifest(name) match {
        case None => return true
        case Some(m) => m
      }
      require(base.buckets.isEmpty,
        s"$name has bucketed upsert generations; compactLogs targets append-log tables")
      if (base.logs.size <= 1) return true
      val v = base.version + 1
      val rel = s"data/log-$v"
      // the fold reads through the schema (X259): the transform sees
      // the logical schema, and the compacted generation physically
      // sheds any dropped column the old log dirs still carried
      val merged = transform(readDataDirs(name, base, base.logs))
      val dm = writeDir(merged, new Path(tableDir(name), rel).toString)
      // CAS: commit only if nothing advanced the table while we wrote
      if (latestManifest(name).exists(_.version == base.version)) {
        try {
          commit(name, Some(base), Manifest(v, Map.empty, Seq(rel), base.lastBatch,
            fanout = base.fanout), Map(rel -> dm), Seq(merged.schema))
          return true
        } catch { case _: ConcurrentCommitException => () } // lost the race
      }
    }
    false
  }

  /** K3/K4 full replace — still one manifest rename; the previous
    * snapshot's dirs stay readable until [[vacuum]]. */
  override def replace(name: String, df: DataFrame): Unit = {
    val prev = latestManifest(name)
    val v = nextVersion(prev)
    val rel = s"data/log-$v"
    // A replace source may read this very table (self-overwrite);
    // writing to a fresh generation dir makes that safe by layout.
    // The streaming batch mark survives the replace: compaction
    // (SketchIntake.compact) rewrites content between streaming
    // commits, and dropping the mark there would let a crash-replayed
    // epoch re-apply after a compact.
    val dm = writeDir(df, new Path(tableDir(name), rel).toString)
    commit(name, prev, Manifest(v, Map.empty, Seq(rel), prev.flatMap(_.lastBatch),
      fanout = prev.flatMap(_.fanout),
      dropped = Some(Nil)), Map(rel -> dm), Seq(df.schema)) // full rewrite = the new schema truth
  }

  override def upsert(name: String, incoming: DataFrame, key: String)(implicit s: SparkSession): Unit =
    upsertCore(name, latestManifest(name), incoming, key, None)

  /** [[upsert]] that also SETS the streaming batch high-water mark —
    * the keyed exactly-once sink: O(touched-buckets) write cost like
    * any upsert, and the mark commits in the SAME manifest rename as
    * the merged buckets (the [[replaceWithBatch]] contract without
    * the full rewrite). Refuses to move the mark backwards; callers
    * replaying an epoch should check [[lastAppliedBatch]] first, the
    * same discipline as [[appendIfNew]]. */
  def upsertWithBatch(name: String, incoming: DataFrame, key: String,
      batchId: Long): Unit = {
    val prev = latestManifest(name)
    require(prev.flatMap(_.lastBatch).forall(_ <= batchId),
      s"$name batch mark would move backwards")
    upsertCore(name, prev, incoming, key, Some(batchId))
  }

  private def upsertCore(name: String, prev: Option[Manifest], incoming: DataFrame,
      key: String, batchId: Option[Long]): Unit = {
    require(prev.forall(_.logs.isEmpty),
      s"$name has append-log generations; bucketed upsert targets are upsert-only")
    refuseDroppedWrite(name, prev, incoming)
    // BUCKET-COLUMN TYPE STABILITY (X212's hard boundary): bucket
    // assignment and key Blooms hash xxhash64(bucket column), and
    // xxhash64 is type-tagged — an upsert whose key (or cluster)
    // column arrives at a WIDER type would bucket the same logical
    // keys into different dirs than their existing rows (silent key
    // splits, missed replacements, wrong delete targeting). Value
    // columns widen freely (the read path reconciles); the bucket
    // column must migrate through one atomic [[rebuild]] at the new
    // type. The recorded schema answers; a table with no bucket dir
    // has no hashes to split.
    val bucketBy = clusterColumn.filter(incoming.columns.contains).getOrElse(key)
    for {
      m <- prev if m.buckets.nonEmpty
      f <- schemaOf(name, m).flatMap(_.find(_.name == bucketBy))
      in <- incoming.schema.find(_.name == bucketBy)
    } require(f.dataType == in.dataType,
      s"$name: bucket column '$bucketBy' type drift " +
        s"(stored ${f.dataType.simpleString}, incoming " +
        s"${in.dataType.simpleString}): bucket/Bloom hashes are " +
        "type-tagged — migrate the bucket column through one " +
        "atomic rebuild() at the new type instead")
    val v = nextVersion(prev)
    // the RECORDED fan-out wins over this store's configured default —
    // a mismatched modulus would hash keys into the wrong dirs
    val fan = fanoutFor(prev)
    // buckets the batch touches: ≤ fan values, driver-safe
    val touched = touchedBuckets(incoming, key, fan)
    // manifest-level pruning: ONLY the touched buckets' dirs are even
    // named, let alone listed or read. Tombstone-aware: the merge must
    // not resurrect rows a lazy delete already removed — the rewrite
    // applies the outstanding sidecars and the new generation carries
    // none (liveTombs drops them with the superseded dirs)
    val existingRels = prev.toSeq.flatMap(m =>
      touched.flatMap(b => m.buckets.get(b)))
    val existing =
      if (existingRels.isEmpty) emptyOf(incoming.schema)
      else readDataDirs(name, prev.get, existingRels)
    val laid = merged(prev, existing, incoming, key, fan, touched)
    val newBuckets = writeBuckets(name, v, laid, touched, b => s"data/b$b-g$v")
    // untouched buckets keep their metadata and tombstones
    val base = prev.getOrElse(Manifest(v, Map.empty, Nil))
    commit(name, prev, base.copy(version = v,
      buckets = base.buckets ++ newBuckets.map { case (b, (rel, _)) => b -> rel },
      lastBatch = batchId.orElse(base.lastBatch), fanout = Some(fan)),
      newBuckets.values.toMap, Seq(laid.schema))
  }

  /** Keep-last merge of `incoming` over `existing`, bucketed, laid
    * out and sorted for the stage write. When every touched bucket
    * fits one task — its recorded bytes plus the incoming plan's
    * whole size estimate within Spark's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the merge
    * shuffles once, on [[bucketLayout]]'s write group, and the
    * keep-last window partitions by (group, key): the same groups as
    * by key alone, since the group is a function of the key. Each
    * touched bucket is then one file. A larger merge, or any merge on
    * a cluster-bucketed store (a key's old and new rows may sit in
    * different buckets), keeps last by key over the shuffle
    * partitions, and a bucket spans one file per task. */
  private def merged(prev: Option[Manifest], existing: DataFrame, incoming: DataFrame,
      key: String, fan: Int, touched: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = org.apache.spark.sql.internal.SQLConf.get
      .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val incomingBytes = incoming.queryExecution.optimizedPlan.stats.sizeInBytes
    val fits = clusterColumn.isEmpty && touched.forall { b =>
      prev.flatMap(m => m.buckets.get(b).flatMap(m.meta(_).bytes)).getOrElse(0L) +
        incomingBytes <= target
    }
    if (!fits)
      return sortedForWrite(withBucketN(graft.ops.Upsert.upsert(existing, incoming, key), key, fan))
    val (parts, group) = bucketLayout(fan, touched)
    val (src, g) = ("_graft_src", "graft_group_")
    val tagged = existing.withColumn(src, lit(0L))
      .unionByName(incoming.withColumn(src, lit(1L)), allowMissingColumns = true)
    sortedForWrite(graft.ops.Upsert.keepLast(
      withBucketN(tagged, key, fan).withColumn(g, group).repartitionById(parts, col(g)),
      Seq(g, key), col(src)).drop(src, g))
  }

  /** Atomic FULL REBUILD of a bucketed-upsert table: every bucket of
    * `df` stages completely, then ONE manifest commit swaps the whole
    * table — rows absent from `df` are gone from the new snapshot,
    * and the superseded generation stays [[readAt]]-readable until
    * [[vacuum]]. The bucketed twin of [[replace]], which this exists
    * to avoid: replace writes an append-LOG generation, after which
    * the table refuses keyed upserts — but an index rebuilt under new
    * frozen artifacts (re-trained centroids, refit df model) must
    * KEEP taking streaming upserts afterwards. A crash mid-stage
    * leaves the previous snapshot serving (no manifest references the
    * staged dirs); the streaming batch mark carries forward across
    * the rebuild, same as [[replace]]. */
  def rebuild(name: String, df: DataFrame, key: String): Unit = {
    val prev = latestManifest(name)
    val v = nextVersion(prev)
    // every bucket may fill: the write pass itself says which did
    val newBuckets = writeBuckets(name, v, rebalanced(df, key, numBuckets),
      (0 until numBuckets).map(_.toLong), b => s"data/b$b-g$v")
    commit(name, prev, Manifest(v, newBuckets.map { case (b, (rel, _)) => b -> rel }, Nil,
      prev.flatMap(_.lastBatch),
      // rebuild is the fan-out MIGRATION point: the whole table was
      // just rehashed under this store's configured modulus
      fanout = Some(numBuckets),
      dropped = Some(Nil)), // full rewrite = the new schema truth
      newBuckets.values.toMap, Seq(df.schema))
  }

  /** Z-ORDER CLUSTERING REWRITE (X253 — the store surface for
    * [[graft.ops.ZOrder]], the hand-rolled OPTIMIZE ZORDER BY): lay
    * an append-log table out along the Morton curve of `cols` and
    * commit it as `slabs` LOG GENERATIONS, each a contiguous z-range
    * — so every slab's recorded min/max box is NARROW in EVERY listed
    * dimension and the existing conjunctive stats pruning
    * ([[pruned]] with [[Prune.Ranges]], and the SQL catalog scan
    * through it) skips most slabs for a predicate on ANY of the
    * columns. A linear sort can only make ONE column's ranges narrow;
    * time-ordered ingest makes none. Dimensions are MIN/MAX-NORMALIZED into the z domain
    * (decimal-exact affine map — monotone, so locality holds for any
    * integral range; a pmod fold would co-locate values 2^bits apart
    * and scramble the very stats pruning reads). One shuffle
    * (range-partition by z) + one manifest rename; the batch mark
    * carries forward. Like [[compactLogs]], this REWRITES log
    * history: dir-level streaming capture across it refuses (the
    * standing contract). `cols` must be recorded stats columns —
    * clustering a column the manifest doesn't stat would change
    * nothing, refused loudly — and integral/date/timestamp (z-space
    * is integer bit-interleaving). Returns the slab count written. */
  def rewriteClustered(name: String, cols: Seq[String], bits: Int = 16,
      slabs: Int = 16): Int = {
    import org.apache.spark.sql.functions.{col, greatest, lit, max, min, spark_partition_id}
    require(cols.nonEmpty && cols.size * bits <= 62,
      s"need 1+ columns and columns*bits <= 62 (got ${cols.size} * $bits)")
    require(slabs >= 2, "clustering into < 2 slabs prunes nothing")
    val missing = cols.filterNot(statsColumns.contains)
    require(missing.isEmpty,
      s"z-order columns must be recorded stats columns (pruning reads " +
        s"the manifest boxes): ${missing.mkString(", ")} not in " +
        s"statscolumns [${statsColumns.mkString(", ")}]")
    val prev = latestManifest(name).getOrElse(
      throw new java.util.NoSuchElementException(s"graft table '$name' does not exist"))
    require(prev.buckets.isEmpty,
      s"$name has bucketed keyed generations — z-order rewrites " +
        "append-log tables; keyed tables cluster within buckets via " +
        "the sortcolumns store shape")
    val df = readManifest(name, prev).getOrElse(
      throw new java.util.NoSuchElementException(s"graft table '$name' is unreadable"))
    cols.foreach { c =>
      require(df.columns.contains(c), s"'$c' is not a column of '$name'")
      import org.apache.spark.sql.types._
      val ok = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType => true
        case _ => false
      }
      require(ok, s"z-order needs an integral/date/timestamp column; " +
        s"'$c' is ${df.schema(c).dataType.simpleString}")
    }
    val v = prev.version + 1
    // min/max-normalize each dimension into [0, 2^bits): exact decimal
    // affine map, monotone by construction
    val longs = cols.map(c => col(c).cast("long"))
    val boundsRow = df.agg(longs.map(min).head,
      (longs.map(min).tail ++ longs.map(max)): _*).collect().head
    // empty table or an all-null dimension: no curve to lay out
    if (cols.indices.exists(i => boundsRow.isNullAt(i))) return 0
    val mns = cols.indices.map(boundsRow.getLong)
    val mxs = cols.indices.map(i => boundsRow.getLong(cols.size + i))
    val top = (1L << bits) - 1
    val dims = cols.zipWithIndex.map { case (c, i) =>
      val span = math.max(1L, mxs(i) - mns(i))
      ((col(c).cast("long") - lit(mns(i)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
        * lit(top) / lit(span)).cast("long")
    }
    val clustered = graft.ops.ZOrder.layout(df, dims, bits, slabs)
      .withColumn(BucketCol, spark_partition_id().cast("long"))
    // each slab is one range partition, so the stage writes one file
    // per slab without a further shuffle; the rows keep the Morton
    // order the layout gave them (no sortColumns re-sort)
    val written = writeBuckets(name, v, clustered, (0 until slabs).map(_.toLong),
      i => s"data/z$i-g$v").toSeq.sortBy(_._1).map(_._2)
    commit(name, Some(prev), Manifest(v, Map.empty, written.map(_._1), prev.lastBatch,
      statsVersion = prev.statsVersion, fanout = prev.fanout), written.toMap, Seq(df.schema))
    written.size
  }

  /** Keyed row deletion — the right-to-be-forgotten path a 100 TB
    * training-data warehouse needs: rewrite ONLY the buckets
    * containing the doomed keys (O(touched), same discipline as
    * upsert) and commit atomically, so a crash mid-delete leaves the
    * previous complete snapshot, never a half-deleted table. The
    * deleted rows physically persist in superseded generation dirs
    * until [[vacuum]] — run vacuum after delete when the point is
    * physical erasure, not just logical. `keys` is a one-column frame
    * of key values (broadcast into the anti-join). */
  def delete(name: String, keyCol: String, keys: DataFrame)(implicit s: SparkSession): Unit = {
    val prev = latestManifest(name)
    require(prev.forall(_.logs.isEmpty),
      s"$name has append-log generations; keyed delete targets bucketed tables")
    require(prev.forall(!_.droppedNames.contains(keyCol)),
      s"$name: '$keyCol' was dropped — a predicate on a retired name " +
        "would silently target hidden values (X259); rebuild() first")
    if (prev.isEmpty) return
    val v = prev.get.version + 1
    val (keyFrame, touchedDirs) = deleteTargeting(name, prev.get, keyCol, keys)
    if (touchedDirs.isEmpty) return
    // Read through the table's schema like read/upsert: after a
    // widening upsert the touched buckets span generations with
    // different footers, and the rewrite must keep every column.
    // Tombstone-aware: the rewrite also applies outstanding
    // merge-on-read sidecars (physical erasure rides along).
    val existing = readDataDirs(name, prev.get, touchedDirs.map(_._2))
    val fan = prev.get.fanout.getOrElse(numBuckets)
    val touched = touchedDirs.map(_._1)
    val remaining = rebalanced(
      existing.join(
        org.apache.spark.sql.functions.broadcast(keyFrame), Seq(keyCol), "left_anti"),
      keyCol, fan)
    // a touched bucket may become empty (every row deleted): it then
    // has no staged dir and simply drops out of the manifest
    val newBuckets = writeBuckets(name, v, remaining, touched, b => s"data/b$b-g$v")
    // rewritten dirs' tombstones drop via liveTombs
    commit(name, prev, prev.get.copy(version = v,
      buckets = prev.get.buckets -- touched ++ newBuckets.map { case (b, (rel, _)) => b -> rel },
      fanout = Some(fan)), newBuckets.values.toMap)
  }

  /** ONE-COMMIT row-level delta (X244 — what SQL MERGE INTO / UPDATE
    * resolve to through [[GraftV2Table]]'s `SupportsDelta` write):
    * apply `upserts` (keep-last keyed replace + inserts) AND remove
    * `deleteKeys`, atomically — a reader is entirely before or
    * entirely after the merge, never between its update and delete
    * halves (two chained commits would expose exactly that seam).
    * Cost shape is the keyed-write contract: touched buckets =
    * buckets(upsert keys) ∪ buckets(delete keys), only those rewrite
    * (O(touched), plan-audited), untouched buckets carry over by
    * reference; an emptied bucket drops out of the manifest. The
    * rewrite applies outstanding merge-on-read tombstones on the
    * dirs it touches, like every bucket rewrite. `deleteKeys` joins
    * un-forced (AQE picks broadcast vs shuffle) — an arbitrary-
    * predicate SQL DELETE can doom millions of keys, which is
    * exactly when a forced broadcast would fall over. */
  def applyDelta(name: String, upserts: DataFrame, deleteKeys: DataFrame,
      key: String): Unit = {
    import org.apache.spark.sql.functions.col
    val prev = latestManifest(name).getOrElse(
      throw new java.util.NoSuchElementException(s"no such table: $name"))
    require(prev.logs.isEmpty,
      s"$name has append-log generations; row-level SQL writes target " +
        "keyed bucketed tables")
    require(clusterColumn.isEmpty,
      "row-level SQL writes target key-bucketed tables — cluster-bucketed " +
        "indexes are append+delete surfaces (re-embed = delete + insert)")
    val delKeys = deleteKeys.select(col(deleteKeys.columns.head).as(key)).distinct()
    val fan = prev.fanout.getOrElse(numBuckets)
    val touched = touchedBuckets(
      upserts.select(col(key)).union(delKeys.select(col(key))), key, fan)
    if (touched.isEmpty) return
    val v = prev.version + 1
    val existingRels = touched.flatMap(b => prev.buckets.get(b)).toSeq
    val existing =
      if (existingRels.isEmpty) emptyOf(upserts.schema)
      else readDataDirs(name, prev, existingRels)
    val kept = existing.join(delKeys, Seq(key), "left_anti")
    // the merge may empty a bucket: it then drops out
    val laid = merged(Some(prev), kept, upserts, key, fan, touched)
    val newBuckets = writeBuckets(name, v, laid, touched, b => s"data/b$b-g$v")
    // rewritten dirs' tombstones drop via liveTombs
    commit(name, Some(prev), prev.copy(version = v,
      buckets = prev.buckets -- touched ++ newBuckets.map { case (b, (rel, _)) => b -> rel },
      fanout = Some(fan)), newBuckets.values.toMap, Seq(laid.schema))
  }

  /** ALTER TABLE ADD COLUMNS, metadata-only (X247): ONE manifest
    * rename records the extended schema; no data byte moves. Existing
    * rows read the new columns as null — exactly the add-column
    * semantics a widening upsert already has — so this is the DDL
    * spelling for declaring a column BEFORE any data carries it.
    * O(manifest) at any table size, on bucketed and log tables alike;
    * [[replace]]/[[rebuild]] supersede it (a full rewrite is the new
    * schema truth). New columns are nullable by construction —
    * existing rows have no value for them. */
  def addColumns(name: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val prev = latestManifest(name).getOrElse(
      throw new java.util.NoSuchElementException(s"no such table: $name"))
    val cur = schemaOf(name, prev).getOrElse(
      throw new java.util.NoSuchElementException(s"no such table: $name"))
    val dup = cols.map(_.name).filter(cur.fieldNames.contains)
    require(dup.isEmpty,
      s"$name already has column(s): ${dup.mkString(", ")}")
    // a DROPPED name is RETIRED (X259): re-declaring it would let the
    // hidden old-generation values resurface under the new column —
    // name-keyed lineage cannot tell them apart without column ids
    val retired = cols.map(_.name).filter(prev.droppedNames.contains)
    require(retired.isEmpty,
      s"$name: column name(s) ${retired.mkString(", ")} were dropped and " +
        "are retired — rebuild()/replace() the table to reuse them")
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    commit(name, Some(prev), prev.copy(version = prev.version + 1,
      schema = Some(StructType(cur.fields ++ cols.map(_.copy(nullable = true))))))
  }

  /** ALTER TABLE DROP COLUMN, metadata-only (X259 — the inverse of
    * [[addColumns]]): ONE manifest rename records the dropped names
    * and the schema without them; no data byte moves. No read serves
    * the columns from the generations that still physically carry
    * them (the schema is what every read hands the reader,
    * [[readDataDirs]]); any content rewrite (upsert merge,
    * [[applyDeletes]], [[compactLogs]], [[rebuild]]) sheds them
    * physically as a side effect, and [[vacuum]] then reclaims the
    * superseded bytes — the same lazy-then-compact lifecycle as
    * merge-on-read deletes. O(manifest) at any table size.
    *
    * The contract a name-keyed lattice can honestly carry:
    *   - a dropped NAME IS RETIRED — re-adding it would let hidden
    *     old-generation values resurface as the "new" column (no
    *     column ids to tell them apart); [[addColumns]] and every
    *     ingest path refuse it until a [[rebuild]]/[[replace]]
    *     resets the marker (a full rewrite is the new schema truth);
    *   - TIME TRAVEL serves the column at pre-drop versions (the
    *     marker is snapshot state) and [[restore]] resurrects it;
    *   - physical erasure needs the rewrite + vacuum, exactly like
    *     [[deleteLazy]] — documented, not silent;
    *   - RENAME COLUMN stays refused at the catalog: without column
    *     ids a rename is drop+add of the same bytes, which the
    *     retirement rule above forbids for good reason.
    *
    * The cluster column refuses (physical layout hangs off it); a
    * keyed table's upsert-key column is refused by the SQL catalog,
    * which knows the key (a direct API caller dropping it gets the
    * loud merge failure on the next upsert). */
  def dropColumns(name: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "DROP COLUMN needs at least one column")
    cols.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"droppable column names are [A-Za-z0-9_]+ (manifest line syntax): $c"))
    val prev = latestManifest(name).getOrElse(
      throw new java.util.NoSuchElementException(s"no such table: $name"))
    val cur = schemaOf(name, prev).getOrElse(
      throw new java.util.NoSuchElementException(s"no such table: $name"))
    val missing = cols.filterNot(cur.fieldNames.contains)
    require(missing.isEmpty,
      s"$name has no column(s): ${missing.mkString(", ")}")
    require(cur.fieldNames.toSet != cols.toSet,
      s"cannot drop every column of $name — use dropTable")
    clusterColumn.foreach(cc => require(!cols.contains(cc),
      s"$name: '$cc' is the cluster column — physical bucket layout " +
        "hangs off it; rebuild() under a new shape instead"))
    commit(name, Some(prev), prev.copy(version = prev.version + 1,
      dropped = Some((prev.droppedNames ++ cols).distinct),
      schema = Some(StructType(cur.filterNot(f => cols.contains(f.name))))))
  }

  /** The ingest-side half of the X259 retirement rule: a frame
    * carrying a dropped column's name must refuse loudly — committing
    * it would write live data under a name the recorded schema leaves
    * out (silent data loss), or worse, resurrect hidden values. */
  private def refuseDroppedWrite(name: String, prev: Option[Manifest],
      df: DataFrame): Unit =
    prev.map(_.droppedNames).filter(_.nonEmpty).foreach { gone =>
      val clash = df.columns.filter(gone.contains)
      require(clash.isEmpty,
        s"$name: column name(s) ${clash.mkString(", ")} were dropped and " +
          "are retired — rebuild()/replace() the table to reuse them")
    }

  /** Scratch dir for one SQL row-level write's delta files — under
    * the table dir with the `stage-` prefix, so a crashed query's
    * debris is swept by [[vacuum]] like every other stage. */
  def deltaStagePath(name: String, id: String): String =
    new Path(tableDir(name),
      s"stage-delta-${id.replaceAll("[^A-Za-z0-9_-]", "_")}").toString

  /** The delete-targeting pass shared by [[delete]] and
    * [[deleteLazy]]: (typed key frame, the (bucket, dir) pairs that
    * might hold any doomed key). Type discipline: bucket targeting
    * hashes xxhash64(key) and the manifest Blooms are type-tagged the
    * same way, so a keys frame whose column type differs from the
    * table's (Int ids for a Long column) would hash into the WRONG
    * buckets and silently no-op the delete. The frame is cast to the
    * table's type when the cast round-trips losslessly for every key;
    * otherwise every bucket is a candidate with the ORIGINAL frame
    * (Spark's own join coercion decides equality) — conservative,
    * never a no-op. With a cluster column the keys frame can't
    * compute its rows' buckets (they bucket by the CLUSTER value,
    * absent here) — every bucket is a candidate and the key Blooms
    * do the narrowing. Membership-stats narrowing (a candidate whose
    * key Bloom provably contains NONE of the doomed keys is skipped)
    * applies when the key list is driver-small (≤10k — the X189
    * probe bound); each dir's Bloom deserializes ONCE. */
  private def deleteTargeting(name: String, m: Manifest, keyCol: String,
      keys: DataFrame, targetByKeyHash: Boolean = true): (DataFrame, Seq[(Long, String)]) = {
    import org.apache.spark.sql.functions.col
    val rawFrame = keys.select(col(keys.columns.head).as(keyCol)).distinct()
    val tableDt = schemaOf(name, m).flatMap(_.find(_.name == keyCol)).map(_.dataType)
    def withOrigType(dt: org.apache.spark.sql.types.DataType) = rawFrame
      .select(col(keyCol).cast(tableDt.get).as(keyCol),
        col(keyCol).as("graft_orig_"))
      .withColumn("graft_lossy_",
        !(col(keyCol).cast(dt) <=> col("graft_orig_")))
    val (keyFrame, typeSafe) = tableDt match {
      case Some(dt) if rawFrame.schema(keyCol).dataType == dt =>
        (rawFrame, true)
      case Some(_) =>
        val probe = withOrigType(rawFrame.schema(keyCol).dataType)
          .localCheckpoint()
        if (probe.filter(col("graft_lossy_")).limit(1).count() > 0)
          (rawFrame, false)
        else (probe.select(keyCol), true)
      case None => (rawFrame, false)
    }
    // `targetByKeyHash = false` is the arbitrary-column contract (SQL
    // DELETE on a non-key column): rows matching the predicate live in
    // buckets assigned by the UPSERT key's hash, not this column's, so
    // hash targeting would silently miss them — every bucket is a
    // candidate and only the Blooms (when this column has them) narrow
    val bucketDirs: Seq[(Long, String)] =
      (if (targetByKeyHash && typeSafe && clusterColumn.isEmpty) {
        touchedBuckets(keyFrame, keyCol, m.fanout.getOrElse(numBuckets))
          .flatMap(b => m.buckets.get(b).map(b -> _))
      } else m.buckets.toSeq.sortBy(_._1))
        // a dir RECORDED as zero rows provably holds no doomed key —
        // skipping is exact, and keeps the conservative all-bucket path
        // from rewriting (and thereby dropping) empty batch-mark epochs
        // and the zero-row schema generations older ADD COLUMNS wrote
        .filterNot { case (_, d) => m.meta(d).rows.contains(0L) }
    val touchedDirs =
      if (!typeSafe || !keyColumns.contains(keyCol)) bucketDirs
      else {
        val probe = keyFrame.limit(10001).collect().map(r => keyHash(r.get(0)))
        if (probe.length > 10000) bucketDirs
        else bucketDirs.filter { case (_, d) =>
          dirBloom(m.meta(d).keys, keyCol)
            .forall(bf => probe.exists(bf.mightContainLong))
        }
      }
    (keyFrame, touchedDirs)
  }

  /** MERGE-ON-READ keyed deletion (X234 — the deletion-vector tier
    * [[delete]] lacks): commits a per-snapshot KEY-TOMBSTONE SIDECAR
    * instead of rewriting the touched buckets, so the commit costs
    * O(tombstone write + one manifest rename) — a single-key GDPR
    * delete on a 100 TB table stops paying a full bucket rewrite per
    * key hit. Reads anti-join each tombstoned dir's sidecars
    * ([[readDataDirs]]) for AFFECTED dirs only; the untouched rest of
    * the table reads exactly as before. Logical-delete semantics are
    * IDENTICAL to [[delete]] (SnapshotStoreSpec pins lazy ≡ eager
    * bit-for-bit); what differs is WHEN the bytes move:
    * [[applyDeletes]] (or any upsert/delete/deleteRange touching the
    * dir) physically applies outstanding tombstones, and [[vacuum]]
    * then reclaims the superseded generations — run both when the
    * point is physical erasure. While tombstones are outstanding the
    * manifest-served metadata aggregates (COUNT/MIN/MAX/NDV/
    * quantiles) honestly refuse (scan fallback) — recorded per-dir
    * figures describe physical rows. Same targeting and type
    * discipline as [[delete]] ([[deleteTargeting]]); a re-upsert of
    * a tombstoned key RESURRECTS it (the new row lands in a fresh
    * generation carrying no tombstone — keep-last semantics hold). */
  def deleteLazy(name: String, keyCol: String, keys: DataFrame,
      targetByKeyHash: Boolean = true)(implicit s: SparkSession): Unit = {
    require(keyCol.matches("[A-Za-z0-9_]+"),
      s"tombstone key column must be [A-Za-z0-9_]+ (manifest line syntax): $keyCol")
    val prev = latestManifest(name)
    require(prev.forall(_.logs.isEmpty),
      s"$name has append-log generations; keyed delete targets bucketed tables")
    require(prev.forall(!_.droppedNames.contains(keyCol)),
      s"$name: '$keyCol' was dropped — a predicate on a retired name " +
        "would silently target hidden values (X259); rebuild() first")
    if (prev.isEmpty) return
    val m = prev.get
    val (keyFrame, targeted) =
      deleteTargeting(name, m, keyCol, keys, targetByKeyHash)
    // a dir whose footer schema predates the predicate column can hold
    // no matching row — attaching a tombstone there would only gate the
    // metadata serves and cost [[applyDeletes]] a no-op rewrite. The
    // footer probe runs ONLY on the arbitrary-column path (SQL DELETE):
    // a keyed table's every generation was written BY a keyed upsert,
    // so the upsert-key column is always present. A dir the manifest
    // already stats/Blooms on this column provably has it (no probe);
    // an unreadable footer conservatively attaches ([[readDataDirs]]
    // reading an absent column as NULL stays the correctness net).
    val touchedDirs =
      if (targetByKeyHash && keyColumns.contains(keyCol)) targeted
      else targeted.filter { case (_, d) =>
        m.meta(d).stats.exists(_._1 == keyCol) ||
          m.meta(d).keys.exists(_._1 == keyCol) ||
          m.meta(d).ndv.exists(_._1 == keyCol) ||
          (try readOwn(resolveDir(name, d)).schema.fieldNames.contains(keyCol)
          catch { case scala.util.control.NonFatal(_) => true })
      }
    if (touchedDirs.isEmpty) return
    val v = m.version + 1
    val rel = s"data/tomb-g$v"
    writeDir(keyFrame, new Path(tableDir(name), rel).toString)
    commit(name, prev, m.copy(version = v,
      dirs = m.dirs ++ touchedDirs.map { case (_, d) =>
        d -> m.meta(d).copy(tombs = m.meta(d).tombs :+ (keyCol -> rel))
      }))
  }

  /** Physically apply every outstanding tombstone: each tombstoned
    * dir rewrites WITHOUT its doomed keys (O(tombstoned dirs), the
    * rest of the table untouched), one manifest commit drops the
    * sidecar references, and the superseded generations await
    * [[vacuum]]. Returns the number of dirs rewritten. The compaction
    * half of the merge-on-read trade — run it on the maintenance
    * cadence, like log compaction. */
  def applyDeletes(name: String): Int = {
    val m = latestManifest(name) match {
      case None => return 0
      case Some(x) => x
    }
    val tombed = m.liveTombs
    if (tombed.isEmpty) return 0
    val v = m.version + 1
    val relToBucket = m.buckets.map(_.swap)
    var buckets = m.buckets
    val written = tombed.keys.toSeq.sorted.flatMap { d =>
      val b = relToBucket(d)
      val rel = s"data/b$b-g$v"
      val dst = new Path(tableDir(name), rel)
      val f = fs(dst)
      if (f.exists(dst)) f.delete(dst, true) // crash orphan at this version
      val dm = writeDir(readDataDirs(name, m, Seq(d)), dst.toString)
      // an all-deleted dir drops its bucket out of the manifest —
      // decided by the OBSERVED row count, not by probing for part
      // files: the non-partitioned writer leaves a footer-only file
      // for an empty frame (the same behavior GraftCatalog.createTable
      // relies on), which a file probe would mis-read as live data
      if (dm.rows.contains(0L)) {
        f.delete(dst, true)
        buckets -= b
        None
      } else {
        buckets += b -> rel
        Some(rel -> dm)
      }
    }
    // all applied dirs left `buckets` → liveTombs drops their tombstones
    commit(name, Some(m), m.copy(version = v, buckets = buckets), written.toMap)
    tombed.size
  }

  /** ANALYZE (X257): backfill the metadata tier for generations that
    * predate this store's declared stats shape — per-dir min/max,
    * key Blooms, HLL NDV, KLL quantiles and row counts recomputed
    * FROM THE DATA and committed in one manifest rename, with every
    * dir ref unchanged (metadata-only history: no data byte moves).
    * The lever this pulls at 100 TB: a table written by an older
    * shape (or ingested before anyone declared `statscolumns`) scans
    * fully on every filtered read because pruning has nothing to
    * consult, the manifest aggregates refuse, and CBO sees nothing —
    * one analyze pass (columnar, reading only the declared columns)
    * turns all three tiers on. `onlyMissing` (default) recomputes
    * just the dirs lacking a recorded row count or missing a
    * declared stat family — re-analyzing an already-covered table is
    * a no-op commit-free pass; `onlyMissing = false` forces a full
    * recompute (the legacy-stats upgrade path: when every live dir
    * is recomputed the manifest's stats format advances to current).
    * Tombstones are orthogonal: recorded figures describe PHYSICAL
    * rows as everywhere, and the serving gates still apply. Returns
    * the number of dirs analyzed. */
  def analyzeTable(name: String, onlyMissing: Boolean = true): Int = {
    val m = latestManifest(name).getOrElse(
      throw new java.util.NoSuchElementException(
        s"graft table '$name' does not exist"))
    val live = (m.buckets.values ++ m.logs).toSeq
    def covered(d: String): Boolean = {
      val x = m.meta(d)
      val zeroRows = x.rows.contains(0L)
      x.rows.isDefined &&
        (zeroRows || statsColumns.isEmpty || x.stats.nonEmpty) &&
        (zeroRows || ndvColumns.isEmpty || x.ndv.nonEmpty) &&
        (zeroRows || keyColumns.isEmpty || x.keys.nonEmpty)
    }
    val targets = if (onlyMissing) live.filterNot(covered) else live
    // legacy dirs missing a recorded byte size (X258) make every scan
    // estimate pay a per-dir listing — a metadata-only commit here
    // backfills them (commit's bytesFilled lists each exactly once)
    val bytesMissing = live.exists(m.meta(_).bytes.isEmpty)
    if (targets.isEmpty && !bytesMissing) return 0
    val computed = targets.map(d => d -> metaOf(readOwn(resolveDir(name, d)))).toMap
    val v = m.version + 1
    // a full recompute upgrades the stats format; a partial one keeps
    // the sticky minimum (one legacy float-string survivor must keep
    // the conservative read-side widening)
    val full = targets.toSet == live.toSet
    val statsVer =
      if (full) SnapshotBucketedStore.CurrentStatsVersion else m.statsVersion
    // a FULL recompute REPLACES the per-dir stats, keys, rows, NDV and
    // quantile sketches rather than merging (tombstones and byte sizes
    // are kept): a dir holding a legacy entry for a formerly-declared stats
    // column (since redeclared; this recompute recorded nothing for
    // it) must not keep that stale entry under the upgraded version —
    // survives() would skip the LegacyStatsEps widening and could
    // wrongly prune the dir. A partial recompute merges (untargeted
    // dirs keep their entries) and the sticky version keeps the
    // read-side widening honest.
    val base = m.copy(version = v, statsVersion = statsVer)
    val next = (
      if (full) base.copy(dirs = m.dirs.map { case (d, x) =>
        d -> DirMeta(bytes = x.bytes, tombs = x.tombs) })
      else base).withRecords(computed)
    // nothing recomputable changed (e.g. an all-null stats column that
    // can never record): skip the commit instead of minting identical
    // history forever — unless a byte backfill still needs to land
    if (next.dirs == m.dirs && statsVer == m.statsVersion && !bytesMissing)
      return 0
    commit(name, Some(m), next)
    targets.size
  }

  /** Garbage collection: delete data dirs not referenced by any of the
    * `retainSnapshots` newest manifests, and older manifests. The
    * retention window is the concurrency contract: a reader holding a
    * snapshot no older than `retainSnapshots` commits is never broken
    * by a vacuum (default 1 = only the current snapshot is protected —
    * fine for the single-process case, raise it when long scans
    * overlap commits). Safe to run any time after a crash or a commit
    * (single-writer). Note keyed [[delete]] only physically erases
    * once vacuum reclaims the superseded generations. */
  def vacuum(name: String, retainSnapshots: Int = 1): Unit = {
    require(retainSnapshots >= 1, "must retain at least the current snapshot")
    latestManifest(name).foreach { m =>
      val dir = tableDir(name)
      val f = fs(dir)
      val keepFrom = m.version - (retainSnapshots - 1)
      val retained = (keepFrom to m.version).flatMap(manifestAt(name, _))
      // qualify both sides — listStatus returns scheme-qualified paths
      // (file:/...), a bare string compare would mark everything dead
      val own = retained
        .flatMap(r => r.buckets.values ++ r.logs ++
          r.dirs.values.flatMap(_.tombs).map(_._2)) // tombstone sidecars are data too
        .filterNot(_.startsWith("@")) // borrowed refs live under their owner
        .map(d => f.makeQualified(new Path(dir, d)).toString).toSet
      // dirs of THIS table still referenced by OTHER tables' on-disk
      // manifests (zero-copy clones, X221): every borrower's ref names
      // the original owner (`@<name>/<rel>`), so one marker scan over
      // sibling manifests finds every outstanding borrow. ALL on-disk
      // manifests count, not just each sibling's latest — any of them
      // can still be read (readAt) or restored.
      val marker = s"@$name/"
      val rootP = new Path(root)
      val borrowed = fs(rootP).listStatus(rootP).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(_ == name)
        .flatMap(t => snapshots(t).flatMap(v => manifestAt(t, v)))
        .flatMap(r => r.buckets.values ++ r.logs ++
          r.dirs.values.flatMap(_.tombs).map(_._2)) // cloned tombstone refs too
        .filter(_.startsWith(marker))
        .map(d => f.makeQualified(new Path(dir, d.stripPrefix(marker))).toString)
        .toSet
      val live = own ++ borrowed
      val dataDir = new Path(dir, "data")
      if (f.exists(dataDir))
        f.listStatus(dataDir).foreach { st =>
          if (!live.contains(st.getPath.toString)) f.delete(st.getPath, true)
        }
      f.listStatus(dir).foreach(st => st.getPath.getName match {
        case ManifestName(n) if n.toInt < keepFrom => f.delete(st.getPath, false)
        case n if n.startsWith("stage-") || n.endsWith(".tmp") => f.delete(st.getPath, true)
        case _ => ()
      })
    }
  }

  // ----------------------------------------------------------------
  // Table lifecycle (the catalog surface: SHOW/DROP/RENAME)
  // ----------------------------------------------------------------

  /** Immutable per-table SHAPE sidecar (X243 — what makes one catalog
    * serve differently-shaped tables): `props.txt` under the table
    * dir, `k=v` lines, written ONCE before the table's first commit
    * (a crash between leaves an orphan sidecar under a table that
    * does not exist yet — the next CREATE overwrites it). Shape is
    * immutable by design: key/bucket changes migrate through
    * [[rebuild]], the same discipline as bucket-column type drift. */
  def writeTableProps(name: String, props: Map[String, String]): Unit = {
    require(props.forall { case (k, v) =>
      k.matches("[A-Za-z0-9_.]+") && !v.contains("\n") && !v.contains("\r") },
      s"table property keys must be [A-Za-z0-9_.]+ and values line-free: $props")
    val p = new Path(tableDir(name), "props.txt")
    val out = fs(p).create(p, true)
    try out.write(props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's recorded shape properties — empty for tables created
    * before (or without) the DDL surface. */
  def tableProps(name: String): Map[String, String] = {
    val p = new Path(tableDir(name), "props.txt")
    val f = fs(p)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v
    }.toMap
  }

  /** CREATE TABLE: commit generation 0 carrying the declared schema
    * and zero rows. With `keyed` set (the upsert-key column) it
    * commits as an empty BUCKET generation — the table is keyed from
    * birth: upserts, MERGE and keyed deletes work before the first
    * row lands; keyless it commits an append-log generation. Either
    * way the manifest records the declared schema, atomically. */
  def createTable(name: String, schema: StructType,
      keyed: Option[String] = None): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).repartition(1)
    keyed match {
      case Some(k) =>
        require(schema.fieldNames.contains(k),
          s"upsert key '$k' is not a column of the declared schema: " +
            schema.fieldNames.mkString(", "))
        clusterColumn.foreach(cc => require(schema.fieldNames.contains(cc),
          s"cluster column '$cc' is not a column of the declared schema"))
        val prev = latestManifest(name)
        val v = nextVersion(prev)
        val rel = s"data/b0-g$v"
        val dm = writeDir(empty, new Path(tableDir(name), rel).toString)
        // On an EXISTING table (the TRUNCATE path — DDL create refuses
        // existing tables upstream) the streaming batch high-water mark
        // and the recorded bucket fan-out CARRY: dropping the mark
        // would let a crash-replayed streaming epoch re-insert an
        // already-committed batch into the truncated table (the same
        // reason replace/compactLogs carry it), and the fan-out is the
        // table's declared shape, which truncation preserves.
        commit(name, prev, Manifest(v, Map(0L -> rel), Nil,
          prev.flatMap(_.lastBatch),
          fanout = Some(prev.flatMap(_.fanout).getOrElse(numBuckets))), Map(rel -> dm),
          Seq(schema))
      case None => append(name, empty)
    }
  }

  /** Tables under this store root: directories holding at least one
    * committed manifest — metadata-only (one listing + one manifest
    * existence probe per dir, no data touched). */
  def tableNames: Seq[String] = {
    val rootP = new Path(root)
    val f = fs(rootP)
    if (!f.exists(rootP)) return Nil
    f.listStatus(rootP).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => snapshots(t).nonEmpty).sorted
  }

  /** (bucket-dir count, log-dir count) of the current snapshot — the
    * table-ROLE probe (keyed upsert target vs append log) the SQL
    * surfaces need before choosing a commit family. Metadata-only. */
  def tableKind(name: String): Option[(Int, Int)] =
    latestManifest(name).map(m => (m.buckets.size, m.logs.size))

  /** Tables whose on-disk manifests BORROW generation dirs from
    * `name` (zero-copy clones, X221 — refs spell `@name/<rel>`).
    * Same marker scan as [[vacuum]]'s cross-table keep set; ALL
    * retained manifests count, since any of them can still be read
    * or restored. */
  def borrowers(name: String): Seq[String] = {
    val marker = s"@$name/"
    val rootP = new Path(root)
    val f = fs(rootP)
    if (!f.exists(rootP)) return Nil
    f.listStatus(rootP).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_ == name)
      .filter(t => snapshots(t).flatMap(v => manifestAt(t, v))
        .exists(m => (m.buckets.values ++ m.logs ++
          m.dirs.values.flatMap(_.tombs).map(_._2)).exists(_.startsWith(marker))))
      .sorted
  }

  /** DROP TABLE: every manifest and data dir, physically. Refuses
    * while zero-copy clones still borrow this table's generation
    * dirs — dropping the owner would silently break every borrower's
    * reads (drop or [[rebuild]] the borrowers first; their refs
    * resolve against the OWNER's name). Returns false when the table
    * never existed (the [[org.apache.spark.sql.connector.catalog
    * .TableCatalog.dropTable]] contract). */
  def dropTable(name: String): Boolean = {
    if (latestManifest(name).isEmpty) return false
    val bs = borrowers(name)
    require(bs.isEmpty,
      s"cannot drop '$name': ${bs.mkString(", ")} still reference its " +
        "generation dirs (zero-copy clones) — drop or rebuild the " +
        "borrowers first")
    val dir = tableDir(name)
    fs(dir).delete(dir, true)
  }

  /** RENAME TABLE: ONE filesystem rename of the table dir — manifest
    * entries are table-relative, so every committed snapshot survives
    * under the new name, including time travel. Refuses when the
    * target exists and when borrowers reference the OLD name (their
    * `@from/...` refs would dangle); a table that itself borrows
    * renames freely — its refs name the original owners. */
  def renameTable(from: String, to: String): Unit = {
    require(latestManifest(from).isDefined, s"no such table: $from")
    val toDir = tableDir(to)
    require(!fs(toDir).exists(toDir), s"rename target '$to' already exists")
    val bs = borrowers(from)
    require(bs.isEmpty,
      s"cannot rename '$from': ${bs.mkString(", ")} still reference its " +
        "generation dirs (zero-copy clones) — their @$from/ refs would dangle")
    val fromDir = tableDir(from)
    if (!fs(fromDir).rename(fromDir, toDir))
      throw new java.io.IOException(s"table rename failed: $from -> $to")
  }
}

/** Partitioned-read spec for JDBC scans: Spark issues `numPartitions`
  * range-sliced queries on `column` instead of one single-connection
  * full-table scan — without this, a 100 TB warehouse table funnels
  * through one task. */
final case class JdbcPartitioning(
    column: String,
    lowerBound: Long,
    upperBound: Long,
    numPartitions: Int,
)

/** JDBC store: the production shape matching the reference's MySQL
  * sinks (lambda.py:163-190). Untestable in this sandbox (no DB), kept
  * thin and obvious; the option plumbing is pure and unit-tested. */
class JdbcStore( // non-final: the rename seam below is a test override point
    url: String,
    props: java.util.Properties,
    partitioning: Option[JdbcPartitioning] = None,
    renameSwap: Boolean = true, // test seam: false forces the DELETE+INSERT fallback
)(implicit spark: SparkSession)
    extends TableStore {

  /** The exact option map handed to the JDBC source — exposed so the
    * partitioned-read plumbing is testable without a database. */
  def readOptions(name: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val base = Map("url" -> url, "dbtable" -> name) ++
      props.stringPropertyNames.asScala.map(k => k -> props.getProperty(k))
    base ++ partitioning.fold(Map.empty[String, String]) { pt =>
      Map(
        "partitionColumn" -> pt.column,
        "lowerBound" -> pt.lowerBound.toString,
        "upperBound" -> pt.upperBound.toString,
        "numPartitions" -> pt.numPartitions.toString,
      )
    }
  }

  override def read(name: String): Option[DataFrame] =
    try Some(spark.read.format("jdbc").options(readOptions(name)).load())
    catch { case _: Exception => None } // missing table → None (lambda.py:177-178)

  override def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, name, props)

  private def withConnection[T](f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def dropIfExists(conn: java.sql.Connection, table: String): Unit =
    try { conn.createStatement().execute(s"DROP TABLE $table"); () }
    catch { case _: java.sql.SQLException => () } // absent → nothing to drop

  private def tableExistsOn(conn: java.sql.Connection, table: String): Boolean =
    try { conn.createStatement().executeQuery(s"SELECT * FROM $table WHERE 1=0").close(); true }
    catch { case _: java.sql.SQLException => false }

  /** Test seam: one RENAME statement. Strand-recovery tests override
    * this to commit-then-die on the second rename — simulating an
    * autocommitting-DDL dialect (MySQL) where a failure between the
    * two renames cannot be rolled back and the live table is left
    * under `_graft_replace_old` — without needing that engine here
    * (Derby DDL is transactional, so the natural path can't reach
    * the recovery branch). */
  protected def renameTable(conn: java.sql.Connection,
      from: String, to: String): Unit = {
    conn.createStatement().execute(s"RENAME TABLE $from TO $to")
    ()
  }

  /** Column names of a live table, in its physical order — read from
    * the zero-row result's metadata, so it works on any dialect. */
  private def columnsOf(conn: java.sql.Connection, table: String): Seq[String] = {
    val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table WHERE 1=0")
    try {
      val md = rs.getMetaData
      (1 to md.getColumnCount).map(md.getColumnName)
    } finally rs.close()
  }

  /** K3/K4 full replace, STAGED: the naive `mode(Overwrite).jdbc`
    * truncates the live table and repopulates it row by row — a
    * concurrent reader in that window sees an empty or partial
    * warehouse table (docs/SCALE.md §8 item 1; the reference has the
    * same gap, lambda.py:184-190). Here the new content lands fully
    * in `<name>_graft_replace_stage` first, then swaps in via TWO
    * RENAMEs INSIDE ONE TRANSACTION (DDL is transactional on Derby/
    * Postgres-family engines) — a reader is either before the commit
    * (complete old table) or after it (complete new table), never in
    * between. Dialects whose RENAME cannot ride a transaction
    * (MySQL autocommits DDL — though its multi-name `RENAME TABLE a
    * TO b, c TO a` is itself atomic) fall back to DELETE+INSERT-
    * SELECT in one transaction: same no-gap guarantee through the
    * engine's isolation instead of the catalog. The staging also
    * makes self-replace safe (a plan reading `name` while replacing
    * it) — the read materializes into the stage before the target is
    * touched. First write of a table skips the dance: there is no
    * reader-visible gap on a table that doesn't exist yet. */
  override def replace(name: String, df: DataFrame): Unit = {
    if (read(name).isEmpty) {
      df.write.mode(SaveMode.Overwrite).jdbc(url, name, props)
      return
    }
    val stage = name + "_graft_replace_stage"
    val old = name + "_graft_replace_old"
    withConnection { conn =>
      // crash debris from a previous attempt: the live table exists,
      // so any leftover stage/old tables are safe to clear
      dropIfExists(conn, stage)
      dropIfExists(conn, old)
    }
    df.write.mode(SaveMode.Overwrite).jdbc(url, stage, props)
    withConnection { conn =>
      conn.setAutoCommit(false)
      val swapped = renameSwap && {
        try {
          renameTable(conn, name, old)
          renameTable(conn, stage, name)
          conn.commit()
          true
        } catch {
          case _: java.sql.SQLException =>
            conn.rollback()
            // a dialect whose RENAME autocommits strands the live table
            // under `old` when the SECOND rename fails (the rollback
            // undoes nothing) — put it back before any fallback, which
            // targets `name`
            if (!tableExistsOn(conn, name) && tableExistsOn(conn, old)) {
              renameTable(conn, old, name)
              conn.commit()
            }
            false
        }
      }
      if (!swapped) {
        // transactional-RENAME-less dialect: one DELETE + INSERT-SELECT
        // transaction — readers under READ COMMITTED (or stricter)
        // never observe the in-between state. Only sound when live and
        // stage agree on COLUMNS: replace semantics allow a schema
        // change, and a positional SELECT * would silently transpose
        // same-typed columns — the column list is explicit and checked.
        val liveCols = columnsOf(conn, name)
        val stageCols = columnsOf(conn, stage)
        if (liveCols.map(_.toLowerCase).sorted == stageCols.map(_.toLowerCase).sorted) {
          val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
          val cols = liveCols.map(dialect.quoteIdentifier).mkString(", ")
          val st = conn.createStatement()
          st.executeUpdate(s"DELETE FROM $name")
          st.executeUpdate(s"INSERT INTO $name ($cols) SELECT $cols FROM $stage")
          conn.commit()
          conn.setAutoCommit(true)
        } else {
          // schema changed AND the transactional swap was refused: no
          // gap-free path exists on this dialect — honest degrade to
          // drop + publish (the pre-staging replace semantics, with
          // the gap bounded to two DDL statements, never a silently
          // transposed table)
          conn.setAutoCommit(true)
          dropIfExists(conn, name)
          val renamed =
            try { conn.createStatement().execute(s"RENAME TABLE $stage TO $name"); true }
            catch { case _: java.sql.SQLException => false }
          if (!renamed) df.write.mode(SaveMode.Overwrite).jdbc(url, name, props)
        }
      } else conn.setAutoCommit(true)
      // post-commit cleanup; a crash here leaves only debris tables,
      // cleared by the next replace
      dropIfExists(conn, old)
      dropIfExists(conn, stage)
    }
  }

  /** The trait's read-merge-replace default is UNSAFE over JDBC: the
    * read is lazy, so the overwrite truncates the target while the
    * merge plan still needs to scan it — the incoming batch would
    * silently win the whole table. Same self-overwrite hazard the file
    * stores solve with a staging dir; here the stage is a real table:
    * merged rows land in `<name>_graft_stage` (materializing the read
    * of the live target), the target is then rewritten FROM the stage,
    * and the stage is dropped. */
  override def upsert(name: String, incoming: DataFrame, key: String)(implicit s: SparkSession): Unit =
    read(name) match {
      case None => replace(name, incoming)
      case Some(existing) =>
        val stage = name + "_graft_stage"
        graft.ops.Upsert.upsert(existing, incoming, key)
          .write.mode(SaveMode.Overwrite).jdbc(url, stage, props)
        replace(name, spark.read.format("jdbc").options(readOptions(stage)).load())
        val conn = java.sql.DriverManager.getConnection(url, props)
        try conn.createStatement().execute(s"DROP TABLE $stage")
        catch { case _: java.sql.SQLException => () } // best-effort cleanup
        finally conn.close()
    }
}
