package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Incrementally maintained DERIVED keyed table — the row-wise twin of
  * [[IncrementalAgg]] (which maintains aggregates over append-log
  * sources): a destination table that is always `transform(source)`
  * for a row-wise transform (project / derive / filter), brought up to
  * date by applying only what CHANGED since the last refresh instead
  * of recomputing the view.
  *
  * The cursor is the SOURCE VERSION last applied, stored as the
  * destination's batch high-water mark — it commits in the SAME
  * manifest rename as the data it describes
  * ([[SnapshotBucketedStore.upsertWithBatch]]), so "applied but cursor
  * didn't move" cannot exist. Each refresh reads the source's CDC
  * window ([[SnapshotBucketedStore.changesSince]] — cost scales with
  * the touched fraction, not the table):
  *
  *   - added/changed source rows map through `transform`; surviving
  *     images upsert downstream by key;
  *   - removed source keys — and rows the transform now FILTERS OUT
  *     (a row that passed the gate, then changed to fail it) — delete
  *     downstream.
  *
  * Crash discipline: deletes run FIRST (keyed deletes are idempotent
  * and carry no mark), then the mark-advancing upsert. A crash
  * anywhere in between replays the whole window on the next refresh —
  * deletes no-op, the upsert re-applies the same images — and the pair
  * converges to the one-atomic-apply state; a crash after the upsert
  * leaves the cursor at the window end, so the replay is refused.
  * Readers between the two commits can observe the deleted-but-not-
  * yet-upserted seam (the same per-table-atomicity honesty as the
  * two-table streaming index marks).
  *
  * When the cursor's source snapshot is VACUUMED (CDC horizon passed),
  * the refresh falls back to a FULL rebuild: one atomic bucketed swap
  * ([[SnapshotBucketedStore.rebuild]] — stale keys vanish with the
  * generation) followed by a mark-setting empty upsert. At 100 TB the
  * contract is the usual one: refresh inside the retention window and
  * pay for the touched fraction; miss it and pay for one rebuild.
  *
  * `transform` must be ROW-WISE (each output row derived from one
  * input row, key column preserved): the refresh feeds it a partial
  * window, so any cross-row computation (aggregation, joins against
  * the same table, windows) would see the window, not the table —
  * that shape is [[IncrementalAgg]]'s, not this one's.
  */
object ChangeFeed {

  /** Bring `dst.dstTable` up to date with `transform(src.srcTable)`.
    * Returns true when anything advanced (including a no-change
    * cursor bump), false when already current or the source doesn't
    * exist yet. */
  def refresh(
      src: SnapshotBucketedStore,
      srcTable: String,
      key: String,
      dst: SnapshotBucketedStore,
      dstTable: String)(transform: DataFrame => DataFrame): Boolean = {
    val latest = src.snapshots(srcTable).lastOption match {
      case Some(v) => v
      case None => return false
    }
    val cursor = dst.lastAppliedBatch(dstTable)
    if (cursor.exists(_ >= latest)) return false

    def fullBuild(): Boolean =
      src.readAt(srcTable, latest) match {
        case None => false
        case Some(rows) =>
          val images = checkedImages(transform(rows), key)
          dst.rebuild(dstTable, images, key)
          // rebuild carries the old mark forward; a second (empty)
          // upsert sets the cursor — a crash between the two replays
          // the rebuild, which is idempotent at this source version
          dst.upsertWithBatch(dstTable, images.limit(0), key, latest)
          true
      }

    cursor match {
      case None => fullBuild()
      case Some(cv) =>
        src.changesSince(srcTable, cv.toInt, key, Some(latest)) match {
          case None => fullBuild() // cursor snapshot vacuumed
          case Some(ch) =>
            val cand = ch.filter(col("change") =!= "removed").drop("change")
            val images = checkedImages(transform(cand), key)
            val gone = ch.filter(col("change") === "removed").select(col(key))
              .union(cand.select(col(key)).except(images.select(col(key))))
              .distinct()
            dst.delete(dstTable, key, gone)(images.sparkSession)
            dst.upsertWithBatch(dstTable, images, key, latest)
            true
        }
    }
  }

  private def checkedImages(images: DataFrame, key: String): DataFrame = {
    require(images.columns.contains(key),
      s"transform must preserve the key column '$key'; " +
        s"got ${images.columns.mkString(",")}")
    images
  }

  /** Incremental view maintenance for a STAR JOIN — a destination
    * table kept ≡ `transform(fact ⋈ dim)` (inner join on
    * `fact.factDimCol = dim.dimKey`, one output row per fact key)
    * when EITHER side changes:
    *
    *   - fact window: added/changed fact rows re-join the current dim
    *     and upsert; removed fact keys delete downstream.
    *   - dim window: every CURRENT fact row whose foreign key is in
    *     the dim window re-joins — changed dim rows refresh their
    *     facts' images, added dim keys resurrect previously
    *     unmatched facts, removed dim keys drop their facts' rows
    *     (inner-join semantics: no dim row, no view row).
    *
    * The dim-triggered fact fetch is the 100 TB heart of this: for a
    * driver-bounded dim window (≤ 10k changed keys) the fact side is
    * read through [[SnapshotBucketedStore.pruned]] with
    * [[Prune.EqAny]] — per-dir membership Blooms on the foreign-key
    * column prune every fact dir that provably holds none of the
    * changed keys, so a
    * dimension revision costs the MATCHING fact dirs, not a fact
    * scan. (Record the fk column in the fact store's `keyColumns`
    * to arm this; without it the probe keeps all dirs — correct,
    * just unpruned.) A wider dim window degrades to one fact scan
    * with a semi-join.
    *
    * The cursor packs BOTH source versions into the destination's
    * one batch mark — `(factVersion << 32) | dimVersion` — which
    * stays monotone because versions only grow; crash discipline and
    * the vacuumed-cursor rebuild fallback are exactly [[refresh]]'s.
    * Fact and dim column names must be disjoint (the joined row
    * carries both sides). `transform` row-wise over the joined row,
    * preserving `factKey`. */
  def refreshJoined(
      fact: SnapshotBucketedStore, factTable: String, factKey: String,
      factDimCol: String,
      dim: SnapshotBucketedStore, dimTable: String, dimKey: String,
      dst: SnapshotBucketedStore, dstTable: String)
      (transform: DataFrame => DataFrame): Boolean = {
    val fLatest = fact.snapshots(factTable).lastOption match {
      case Some(v) => v
      case None => return false
    }
    val dLatest = dim.snapshots(dimTable).lastOption match {
      case Some(v) => v
      case None => return false
    }
    val mark = (fLatest.toLong << 32) | (dLatest.toLong & 0xFFFFFFFFL)
    val cursor = dst.lastAppliedBatch(dstTable)
    if (cursor.exists(_ >= mark)) return false
    val dimNow = dim.readAt(dimTable, dLatest) match {
      case Some(df) => df
      case None => return false // dim unreadable: nothing to join against
    }

    def joinImages(factRows: DataFrame): DataFrame = {
      val joined = factRows.join(dimNow,
        factRows(factDimCol) === dimNow(dimKey))
      checkedImages(transform(joined), factKey)
    }

    def fullBuild(): Boolean =
      fact.readAt(factTable, fLatest) match {
        case None => false
        case Some(rows) =>
          val images = joinImages(rows)
          dst.rebuild(dstTable, images, factKey)
          dst.upsertWithBatch(dstTable, images.limit(0), factKey, mark)
          true
      }

    cursor match {
      case None => fullBuild()
      case Some(cm) =>
        val fc = (cm >> 32).toInt
        val dc = (cm & 0xFFFFFFFFL).toInt
        (fact.changesSince(factTable, fc, factKey, Some(fLatest)),
            dim.changesSince(dimTable, dc, dimKey, Some(dLatest))) match {
          case (Some(fCh), Some(dCh)) =>
            val factCols = fact.readAt(factTable, fLatest) match {
              case Some(df) => df.columns.toSeq
              case None => return fullBuild()
            }
            // dim-triggered candidates: current fact rows whose fk is
            // in the dim window — Bloom-pruned when driver-bounded
            val dimKeys = dCh.select(col(dimKey)).distinct()
            val probe = dimKeys.limit(10001).collect().map(_.get(0)).toSeq
            val dimTouched: Option[DataFrame] =
              if (probe.isEmpty) None
              else if (probe.size <= 10000)
                fact.pruned(factTable, Prune.EqAny(factDimCol, probe))
                  .flatMap(_.read).map(_.filter(col(factDimCol).isin(probe: _*)))
              else
                fact.readAt(factTable, fLatest).map(
                  _.join(dimKeys, col(factDimCol) === dimKeys(dimKey),
                    "leftsemi"))
            val factWinCand = fCh.filter(col("change") =!= "removed")
              .select(factCols.map(col): _*)
            val cands = dimTouched
              .map(t => factWinCand.unionByName(t.select(factCols.map(col): _*)))
              .getOrElse(factWinCand)
              .dropDuplicates(factKey)
            val images = joinImages(cands)
            val gone = fCh.filter(col("change") === "removed")
              .select(col(factKey))
              .union(cands.select(col(factKey))
                .except(images.select(col(factKey))))
              .distinct()
            dst.delete(dstTable, factKey, gone)(images.sparkSession)
            dst.upsertWithBatch(dstTable, images, factKey, mark)
            true
          case _ => fullBuild() // either cursor snapshot vacuumed
        }
    }
  }
}
