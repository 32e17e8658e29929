package graft.io

import org.apache.spark.sql.types.{DataType, StructType}

/** Everything a snapshot manifest records about ONE generation dir —
  * one record per dir, after the per-file `add` entries of Delta's
  * transaction log. Every field may be absent (legacy dirs, undeclared
  * columns): absence keeps the dir, never skips or mis-serves it.
  *
  *   - `stats`: per-column (column, min, max) exact decimal strings —
  *     the data-skipping index;
  *   - `keys`: (column, base64 Bloom of xxhash64(column)) membership
  *     stats;
  *   - `rows`: the row count (X214 metadata-only aggregates);
  *   - `ndv`, `qsk`: (column, base64 image) HLL NDV (X216) and KLL
  *     quantile (X218) sketches;
  *   - `bytes`: data-file byte total (X258) — recorded at commit so
  *     plan-time scan sizing is a manifest fold, never a listing
  *     (generation dirs are immutable, so a figure never goes stale);
  *   - `tombs`: outstanding MERGE-ON-READ key tombstones (X234),
  *     (key column, sidecar dir) pairs to anti-join at read — pairs may
  *     mix key columns (SQL DELETEs target whatever column the
  *     predicate names). Only bucket dirs carry them: [[SnapshotBucketedStore.deleteLazy]]
  *     refuses tables with log dirs. */
private[io] final case class DirMeta(
    stats: Seq[(String, String, String)] = Nil,
    keys: Seq[(String, String)] = Nil,
    rows: Option[Long] = None,
    ndv: Seq[(String, String)] = Nil,
    qsk: Seq[(String, String)] = Nil,
    bytes: Option[Long] = None,
    tombs: Seq[(String, String)] = Nil) {

  /** This record with a fresh observation `n` of the same dir merged
    * over it: a non-empty stats/keys/ndv/qsk entry wins and an empty
    * one keeps the old entry; rows and bytes are taken from `n` when
    * it records them; tombstones carry. */
  def merged(n: DirMeta): DirMeta = copy(
    stats = if (n.stats.nonEmpty) n.stats else stats,
    keys = if (n.keys.nonEmpty) n.keys else keys,
    rows = n.rows.orElse(rows),
    bytes = n.bytes.orElse(bytes),
    ndv = if (n.ndv.nonEmpty) n.ndv else ndv,
    qsk = if (n.qsk.nonEmpty) n.qsk else qsk)
}

/** A committed snapshot: bucket → live data dir (table-relative), plus
  * append-log dirs, plus the highest streaming batch id applied (rides
  * in the same manifest so data + marker commit in ONE rename — the
  * exactly-once hinge for [[SnapshotBucketedStore.appendIfNew]]), plus
  * the per-dir records and the table's read schema. Records COMMIT IN
  * THE SAME RENAME as the dirs they describe, so a reader can never see
  * a dir without its stats or stats without their dir.
  *
  * `schema` is THE answer to "what does this table look like" (the
  * `metaData` action of Delta's log): every read hands it to the
  * reader, which widens older generations to it and reads columns a
  * generation lacks as null, so no footer is ever merged. It never
  * holds a dropped name. A manifest written before the schema was
  * recorded parses with `None`; its schema is the fold of its live
  * dirs' footers ([[SnapshotBucketedStore.schema]]), and the first
  * commit over it records one. On a commit builder `None` means "start
  * from the base's schema when any base dir stays live"; a `Some`
  * replaces that start (ADD/DROP COLUMN, restore, clone). */
private[io] final case class Manifest(
    version: Int,
    buckets: Map[Long, String],
    logs: Seq[String],
    lastBatch: Option[Long] = None,
    dirs: Map[String, DirMeta] = Map.empty,
    statsVersion: Int = SnapshotBucketedStore.CurrentStatsVersion,
    commitMillis: Option[Long] = None,
    fanout: Option[Int] = None,
    dropped: Option[Seq[String]] = None,
    schema: Option[StructType] = None) {
  /** Columns DROPPED from this snapshot (X259, ALTER TABLE DROP
    * COLUMN): retired names, absent from `schema`, so no read serves
    * them from the generations that still physically carry them and
    * every rewrite sheds them.
    * `None` means "not specified by this commit's builder" — the
    * commit point carries the marker of the base manifest the commit
    * family read, so the families stay oblivious; a parsed manifest
    * and the few semantics-bearing commits (drop itself, replace/
    * rebuild resetting to the new schema truth, restore) pass an
    * explicit `Some`. */
  def droppedNames: Seq[String] = dropped.getOrElse(Nil)

  /** The record of dir `d` (empty when none is recorded). */
  def meta(d: String): DirMeta = dirs.getOrElse(d, DirMeta())

  /** This manifest with fresh observations of some of its dirs merged
    * over their records ([[DirMeta.merged]]). */
  def withRecords(written: Map[String, DirMeta]): Manifest =
    copy(dirs = dirs ++ written.map { case (d, x) => d -> meta(d).merged(x) })

  /** Records of the dirs this manifest still references — the
    * carry-forward rule every commit applies to its predecessor's
    * records (superseded generations take theirs with them). */
  def liveDirs: Map[String, DirMeta] = {
    val live = buckets.values.toSet ++ logs
    dirs.filter { case (d, _) => live(d) }
  }

  /** Outstanding tombstones of the live dirs — a rewritten/dropped
    * data dir takes its tombstones with it (the rewrite already
    * applied them). */
  def liveTombs: Map[String, Seq[(String, String)]] =
    liveDirs.collect { case (d, x) if x.tombs.nonEmpty => d -> x.tombs }

  /** Any tombstones outstanding? Gates the manifest-served
    * metadata aggregates: recorded per-dir counts/stats/sketches
    * describe PHYSICAL rows, which over-count a logically-deleted
    * snapshot — the shared honest degrade is a scan fallback,
    * never a wrong number. */
  def hasTombs: Boolean = liveTombs.nonEmpty
}

/** The manifest text format, one `<tag>:<body>` line each, in this
  * order: `bucket:<b>=<dir>` (by bucket), `log:<dir>`, `batch:<id>`,
  * `statsver:<n>`, then per live dir (sorted) `stats:<dir>=<c>:<min>:<max>,…`,
  * `keys:`/`ndv:`/`qsk:<dir>=<c>:<base64>,…`, `rows:`/`bytes:<dir>=<n>`
  * and `tomb:<dir>=<keycol>:<sidecar>,…`, then `fanout:<n>`,
  * `drop:<c>,…`, `schema:<StructType JSON>` and `ts:<epoch millis>`.
  * Column names are [A-Za-z0-9_]+, base64's standard alphabet has no
  * ':' or ',', and dir rels carry no '=', ':' or ',', so the delimiters
  * never collide; the tag splits on the FIRST ':', so the one-line
  * JSON body parses as-is. A manifest with no `schema:` line (written
  * before the schema was recorded) parses with `schema = None`.
  * Unknown tags are skipped. */
private[io] object ManifestCodec {

  def parse(table: String, version: Int, text: String): Manifest = {
    def corrupt(line: String, cause: Throwable = null): Nothing =
      throw new CorruptManifestException(table, version, line, cause)
    def num[T](line: String)(f: => T): T =
      try f catch { case e: NumberFormatException => corrupt(line, e) }
    def dirAnd(line: String, body: String): (String, String) =
      body.split("=", 2) match {
        case Array(d, rest) => (d, rest)
        case _ => corrupt(line)
      }
    // the five `<dir>=<a>:<b>,…` kinds: each entry splits into `arity`
    // ':'-fields, the last one taking any remainder
    def entries(line: String, body: String, arity: Int): (String, Seq[Array[String]]) = {
      val (d, rest) = dirAnd(line, body)
      d -> rest.split(",").toSeq.map { e =>
        val f = e.split(":", arity)
        if (f.length == arity) f else corrupt(line)
      }
    }
    def pairs(line: String, body: String): (String, Seq[(String, String)]) = {
      val (d, es) = entries(line, body, 2)
      d -> es.map(f => (f(0), f(1)))
    }
    // `rows:` and `bytes:` — `<dir>=<long>`
    def count(line: String, body: String): (String, Long) = {
      val (d, n) = dirAnd(line, body)
      d -> num(line)(n.toLong)
    }

    var buckets = Map.empty[Long, String]
    val logs = Seq.newBuilder[String]
    val dirs = scala.collection.mutable.Map.empty[String, DirMeta]
    def record(d: String)(f: DirMeta => DirMeta): Unit =
      dirs(d) = f(dirs.getOrElse(d, DirMeta()))
    // single-valued lines: the first occurrence wins
    var lastBatch, commitMillis: Option[Long] = None
    var statsVer, fanout: Option[Int] = None
    var dropped: Option[Seq[String]] = None
    var schema: Option[StructType] = None
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { l =>
      val (tag, body) = l.indexOf(':') match {
        case -1 => ("", l)
        case i => (l.take(i), l.drop(i + 1))
      }
      tag match {
        case "bucket" =>
          val (b, d) = dirAnd(l, body)
          buckets += num(l)(b.toLong) -> d
        case "log" => logs += body
        case "batch" if lastBatch.isEmpty => lastBatch = Some(num(l)(body.toLong))
        case "statsver" if statsVer.isEmpty => statsVer = Some(num(l)(body.toInt))
        case "ts" if commitMillis.isEmpty => commitMillis = Some(num(l)(body.toLong))
        case "fanout" if fanout.isEmpty => fanout = Some(num(l)(body.toInt))
        case "drop" if dropped.isEmpty => dropped = Some(body.split(",").toSeq.filter(_.nonEmpty))
        case "schema" if schema.isEmpty =>
          schema = Some(try DataType.fromJson(body).asInstanceOf[StructType]
            catch { case scala.util.control.NonFatal(e) => corrupt(l, e) })
        case "stats" =>
          val (d, es) = entries(l, body, 3)
          record(d)(_.copy(stats = es.map(f => (f(0), f(1), f(2)))))
        case "keys" => val (d, es) = pairs(l, body); record(d)(_.copy(keys = es))
        case "ndv" => val (d, es) = pairs(l, body); record(d)(_.copy(ndv = es))
        case "qsk" => val (d, es) = pairs(l, body); record(d)(_.copy(qsk = es))
        case "tomb" => val (d, es) = pairs(l, body); record(d)(_.copy(tombs = es))
        case "rows" => val (d, n) = count(l, body); record(d)(_.copy(rows = Some(n)))
        case "bytes" => val (d, n) = count(l, body); record(d)(_.copy(bytes = Some(n)))
        case _ => ()
      }
    }
    Manifest(version, buckets, logs.result(), lastBatch, dirs.toMap,
      // absent statsver (a pre-versioning manifest) → 1: its float
      // stats may be float-shortest strings that readers widen by
      // SnapshotBucketedStore.LegacyStatsEps
      statsVer.getOrElse(1), commitMillis, fanout,
      // always explicit on a parsed manifest (absent ≡ nothing
      // dropped), so restoring a pre-drop version resurrects the
      // column rather than carrying a later drop forward
      dropped.orElse(Some(Nil)), schema)
  }

  /** `m` as manifest text stamped `ts:<commitMillis>`: records of dirs
    * `m` no longer references are left out. */
  def render(m: Manifest, commitMillis: Long): String = {
    require(m.logs.forall(m.meta(_).tombs.isEmpty),
      s"manifest v${m.version}: log dirs cannot carry tombstones")
    val live = m.liveDirs.toSeq.sortBy(_._1)
    def lists[T](tag: String, of: DirMeta => Seq[T])(entry: T => String): Seq[String] =
      live.collect { case (d, x) if of(x).nonEmpty => s"$tag:$d=" + of(x).map(entry).mkString(",") }
    def counts(tag: String, of: DirMeta => Option[Long]): Seq[String] =
      live.flatMap { case (d, x) => of(x).map(n => s"$tag:$d=$n") }
    def pair(p: (String, String)): String = s"${p._1}:${p._2}"
    val lines =
      m.buckets.toSeq.sortBy(_._1).map { case (b, d) => s"bucket:$b=$d" } ++
        m.logs.map(l => s"log:$l") ++
        m.lastBatch.map(b => s"batch:$b") ++
        Seq(s"statsver:${m.statsVersion}") ++
        lists("stats", _.stats) { case (c, mn, mx) => s"$c:$mn:$mx" } ++
        lists("keys", _.keys)(pair) ++
        counts("rows", _.rows) ++
        counts("bytes", _.bytes) ++
        lists("ndv", _.ndv)(pair) ++
        lists("qsk", _.qsk)(pair) ++
        lists("tomb", _.tombs)(pair) ++
        m.fanout.map(f => s"fanout:$f") ++
        m.dropped.map(_.distinct).filter(_.nonEmpty).map(ds => s"drop:${ds.mkString(",")}") ++
        m.schema.map(s => s"schema:${s.json}") ++
        Seq(s"ts:$commitMillis")
    lines.mkString("", "\n", "\n")
  }
}
