package graft.io

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The keyed exactly-once streaming sink
  * ([[SnapshotBucketedStore.upsertWithBatch]]): O(touched-buckets)
  * write cost like any upsert, with the streaming batch high-water
  * mark committing in the SAME manifest rename as the merged buckets
  * — [[SnapshotBucketedStore.replaceWithBatch]]'s exactly-once
  * contract without the full-table rewrite. Plus the stats-robustness
  * seams the same commit path must survive: empty staged deltas,
  * non-finite stat values, and float/double bound promotion. */
class UpsertBatchSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.5)).toDF("uuid", "val", "m")

  private final class CrashingStore(root: String, cols: Seq[String])(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, 8, "parquet", cols) {
    var crashNext = false
    override protected def beforeCommit(): Unit =
      if (crashNext) { crashNext = false; throw new RuntimeException("injected crash") }
  }

  test("content + batch mark commit together; replay protocol via lastAppliedBatch") {
    val root = tmpDir("graft_upb_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8)
    store.upsertWithBatch("tgt", rows(0 until 100, "b0"), "uuid", 0L)
    assert(store.lastAppliedBatch("tgt").contains(0L))
    assert(store.read("tgt").get.count() == 100)
    store.upsertWithBatch("tgt", rows(90 until 110, "b1"), "uuid", 1L)
    assert(store.lastAppliedBatch("tgt").contains(1L))
    val t = store.read("tgt").get
    assert(t.count() == 110)
    assert(t.filter($"uuid" === 95L).select("val").as[String].head() == "b1")
    assert(t.filter($"uuid" === 5L).select("val").as[String].head() == "b0")
    // the foreachBatch replay discipline: a replayed epoch is detected
    // BEFORE the write (mark >= batchId) and skipped — same protocol
    // as appendIfNew, keyed instead of append-only
    assert(store.lastAppliedBatch("tgt").exists(1L <= _), "replay must be detectable")
    // a regressing mark is refused loudly, never silently applied
    intercept[IllegalArgumentException] {
      store.upsertWithBatch("tgt", rows(0 until 5, "late"), "uuid", 0L)
    }
    assert(store.read("tgt").get.filter($"val" === "late").count() == 0)
  }

  test("O(touched) shape: untouched buckets' generation dirs are reused by reference") {
    val root = tmpDir("graft_upb_touch_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8)
    store.upsertWithBatch("tgt", rows(0 until 200, "b0"), "uuid", 0L)
    store.upsertWithBatch("tgt", rows(198 until 203, "b1"), "uuid", 1L)
    val dataDirs = new File(s"$root/tgt/data").listFiles().map(_.getName).toSet
    assert(dataDirs.count(_.endsWith("-g1")) < 8,
      "a narrow delta must not rewrite every bucket")
    assert(dataDirs.exists(_.endsWith("-g0")), "untouched g0 dirs survive")
    assert(store.read("tgt").get.count() == 203)
  }

  test("a crash between stage and commit publishes neither rows nor mark; retry lands both") {
    val root = tmpDir("graft_upb_crash_")
    implicit val s = spark
    val store = new CrashingStore(root, Seq("uuid"))
    store.upsertWithBatch("tgt", rows(0 until 50, "b0"), "uuid", 0L)
    store.crashNext = true
    intercept[RuntimeException] {
      store.upsertWithBatch("tgt", rows(50 until 60, "b1"), "uuid", 1L)
    }
    // pre-crash snapshot intact: old content, old mark, old stats
    assert(store.lastAppliedBatch("tgt").contains(0L))
    assert(store.read("tgt").get.count() == 50)
    assert(store.pruned("tgt", Prune.range("uuid", 55L, 58L)).isDefined)
    assert(store.pruned("tgt", Prune.range("uuid", 55L, 58L)).get.read.get.count() == 0)
    // retry: rows + mark + stats in ONE rename
    store.upsertWithBatch("tgt", rows(50 until 60, "b1"), "uuid", 1L)
    assert(store.lastAppliedBatch("tgt").contains(1L))
    assert(store.read("tgt").get.count() == 60)
    assert(store.pruned("tgt", Prune.range("uuid", 55L, 58L)).get.read.get.count() == 4)
  }

  test("an EMPTY delta still advances the mark, even with stats columns configured") {
    val root = tmpDir("graft_upb_empty_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("uuid", "m"))
    store.upsertWithBatch("tgt", rows(0 until 40, "b0"), "uuid", 0L)
    // the updateLabels shape: a batch with no changed rows must still
    // move the high-water mark (else the epoch replays forever) — and
    // the staged write has NO data files, which the stats pass must
    // tolerate rather than fail schema inference on
    store.upsertWithBatch("tgt", rows(0 until 0, "none"), "uuid", 1L)
    assert(store.lastAppliedBatch("tgt").contains(1L))
    val t = store.read("tgt").get
    assert(t.count() == 40 && t.filter($"val" === "none").count() == 0)
    // stats survived the no-op commit: skipping still works
    assert(store.pruned("tgt", Prune.range("uuid", 10L, 12L)).get.read.get.count() == 3)
  }

  test("NaN/Infinity values never poison the stats index") {
    val root = tmpDir("graft_upb_nan_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("m"))
    val poisoned = Seq(
      (1L, "a", 1.0), (2L, "b", Double.NaN),
      (3L, "c", Double.PositiveInfinity), (4L, "d", 4.0),
    ).toDF("uuid", "val", "m")
    store.upsertWithBatch("tgt", poisoned, "uuid", 0L)
    store.append("log2", poisoned) // per-dir stats path too
    // Spark's max treats NaN as largest → the recorded strings would
    // be unparseable; they must be DROPPED at record time (and a
    // pre-fix manifest's literals KEPT conservatively at read time),
    // so range reads degrade to full scans instead of throwing
    val got = store.pruned("tgt", Prune.range("m", 0.5, 5.0)).get.read.get
      .orderBy("uuid").collect().toSeq
    val want = store.read("tgt").get
      .filter($"m" >= 0.5 && $"m" <= 5.0).orderBy("uuid").collect().toSeq
    assert(got == want && got.map(_.getLong(0)) == Seq(1L, 4L))
    assert(store.pruned("tgt", Prune.range("m", 0.5, 5.0)).isDefined)
    assert(store.pruned("log2", Prune.range("m", 0.5, 5.0)).get.read.get.count() == 2)
    // a clean commit on the same table still records usable stats
    store.upsertWithBatch("tgt", Seq((10L, "e", 100.0)).toDF("uuid", "val", "m"), "uuid", 1L)
    assert(store.pruned("tgt", Prune.range("m", 99.0, 101.0)).get.read.get.count() == 1)
  }

  test("float columns: a Double bound cannot wrongly skip (double-promoted stats)") {
    val root = tmpDir("graft_upb_float_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("f"))
    // 1.1f promotes to double 1.100000023841858…; were the stat
    // recorded as float-shortest "1.1", a lower bound of 1.10000001
    // (≤ the true value) would wrongly skip the dir
    val df = Seq((1L, 1.1f), (2L, 0.5f)).toDF("uuid", "f")
    store.append("log", df)
    val got = store.pruned("log", Prune.range("f", 1.10000001d, 2.0d)).get.read.get.collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(1L), s"float row must survive: $got")
    // and Float bounds promote the same way on the probe side
    val got2 = store.pruned("log", Prune.range("f", 0.4f, 0.6f)).get.read.get.collect().toSeq
    assert(got2.map(_.getLong(0)) == Seq(2L))
  }
}
