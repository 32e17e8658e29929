package graft.io

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manifest-level column min/max data skipping
  * ([[SnapshotBucketedStore]] `statsColumns`, `pruned` with `Prune.Ranges`):
  * the X75 discipline applied to the store — prove the skip with a
  * dirs-scanned metric, prove the safety with result equality against
  * the unpruned read, and prove the stats commit atomically with the
  * data they describe. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.5)).toDF("uuid", "val", "m")

  private final class CrashingStore(root: String, cols: Seq[String])(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, 8, "parquet", cols) {
    var crashNext = false
    override protected def beforeCommit(): Unit =
      if (crashNext) { crashNext = false; throw new RuntimeException("injected crash") }
  }

  test("sorted append commits: a selective range scans ≤ 1/4 of the dirs, result-identical") {
    val root = tmpDir("graft_skip_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("uuid"))
    // time-ordered ingest: each commit covers a disjoint id range —
    // the layout where file-level min/max skipping shines
    (0 until 8).foreach(g => store.append("log", rows(g * 100 until (g + 1) * 100, s"g$g")))
    val (kept, total) = store.pruned("log", Prune.range("uuid", 250L, 260L)).get.counts
    assert(total == 8, s"total dirs: $total")
    assert(kept <= 2, s"selective range must skip >= 3/4 of the dirs, kept $kept")
    val pruned = store.pruned("log", Prune.range("uuid", 250L, 260L)).get.read.get
      .orderBy("uuid").collect().toSeq
    val full = store.read("log").get
      .filter($"uuid" >= 250L && $"uuid" <= 260L).orderBy("uuid").collect().toSeq
    assert(pruned == full && full.size == 11)
    // fully-disjoint range: zero dirs scanned, empty result, schema kept
    val (kept0, _) = store.pruned("log", Prune.range("uuid", 5000L, 6000L)).get.counts
    assert(kept0 == 0)
    val none = store.pruned("log", Prune.range("uuid", 5000L, 6000L)).get.read.get
    assert(none.count() == 0 && none.columns.toSeq == Seq("uuid", "val", "m"))
  }

  test("bucketed upsert: per-generation stats, carried forward by reference, equality holds") {
    val root = tmpDir("graft_skip_up_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("m"))
    store.upsert("tgt", rows(0 until 200, "v1"), "uuid")
    // second upsert touches a narrow key slice: untouched buckets keep
    // their g0 dirs AND their g0 stats lines by reference
    store.upsert("tgt", rows(198 until 203, "v2"), "uuid")
    // mid-range predicate: hash bucketing scatters keys, so EVERY
    // bucket's m-range intersects — all kept, result still equal
    val pruned = store.pruned("tgt", Prune.range("m", 100.0, 120.0)).get.read.get
      .orderBy("uuid").collect().toSeq
    val full = store.read("tgt").get
      .filter($"m" >= 100.0 && $"m" <= 120.0).orderBy("uuid").collect().toSeq
    assert(pruned == full && full.nonEmpty)
    // a range only the v2 upsert reaches (m >= 297 ⇔ uuid >= 198):
    // untouched g0 buckets top out at 1.5·197 — only the few touched
    // g1 generations survive the stats check
    val (kept, totalAll) = store.pruned("tgt", Prune.range("m", 297.0, 310.0)).get.counts
    assert(totalAll == 8 && kept < totalAll && kept <= 6,
      s"only touched generations must survive: $kept/$totalAll")
    val hi = store.pruned("tgt", Prune.range("m", 297.0, 310.0)).get.read.get
      .orderBy("uuid").collect().toSeq
    val hiFull = store.read("tgt").get
      .filter($"m" >= 297.0 && $"m" <= 310.0).orderBy("uuid").collect().toSeq
    assert(hi == hiFull && hi.map(_.getLong(0)) == (198L to 202L))
    // keyed delete keeps the contract
    store.delete("tgt", "uuid", Seq(105L, 199L).toDF("uuid"))
    val pruned2 = store.pruned("tgt", Prune.range("m", 100.0, 400.0)).get.read.get
      .orderBy("uuid").collect().toSeq
    val full2 = store.read("tgt").get
      .filter($"m" >= 100.0 && $"m" <= 400.0).orderBy("uuid").collect().toSeq
    assert(pruned2 == full2 && !pruned2.exists(_.getLong(0) == 105L))
  }

  test("stats ride the manifest rename: a crash publishes neither dir nor stats") {
    val root = tmpDir("graft_skip_crash_")
    implicit val s = spark
    val store = new CrashingStore(root, Seq("uuid"))
    store.append("log", rows(0 until 100, "v1"))
    store.crashNext = true
    intercept[RuntimeException] { store.append("log", rows(100 until 200, "v2")) }
    // pre-crash snapshot: the 100..200 generation is invisible to BOTH
    // the stats index and the reader — no torn state where a stats
    // line references an uncommitted dir or vice versa
    assert(store.pruned("log", Prune.range("uuid", 150L, 160L)).get.counts == ((0, 1)))
    assert(store.pruned("log", Prune.range("uuid", 150L, 160L)).get.read.get.count() == 0)
    // retry lands data + stats in one rename
    store.append("log", rows(100 until 200, "v2"))
    assert(store.pruned("log", Prune.range("uuid", 150L, 160L)).get.counts == ((1, 2)))
    assert(store.pruned("log", Prune.range("uuid", 150L, 160L)).get.read.get.count() == 11)
  }

  test("non-numeric and all-null stats columns degrade to conservative keeps") {
    val root = tmpDir("graft_skip_null_")
    implicit val s = spark
    // 'val' is a string (not stat-typed), 'opt' is all-null in gen 0
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("val", "opt"))
    val g0 = Seq((1L, "a", None: Option[Long]), (2L, "b", None))
      .toDF("uuid", "val", "opt")
    val g1 = Seq((3L, "c", Some(10L)), (4L, "d", Some(20L)))
      .toDF("uuid", "val", "opt")
    store.append("log", g0)
    store.append("log", g1)
    // no stats for gen 0's opt (all null) → it is kept, not skipped;
    // gen 1 has real bounds and prunes normally
    assert(store.pruned("log", Prune.range("opt", 100L, 200L)).get.counts == ((1, 2)))
    val got = store.pruned("log", Prune.range("opt", 5L, 15L)).get.read.get.collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(3L))
    // a predicate on the string column keeps everything (no stats at
    // all) and still filters correctly
    assert(store.pruned("log", Prune.range("uuid", 3L, 3L)).isDefined)
  }

  test("conjunctive multi-column pruning is strictly tighter than either single column") {
    val root = tmpDir("graft_skip_multi_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("uuid", "m"))
    // two interleaved commit families: even generations carry low ids
    // with HIGH m, odd generations high ids with LOW m — so a (uuid,m)
    // conjunction disjoint in one column per family prunes dirs
    // either single-column stat must keep
    implicit val sq = spark
    import sq.implicits._
    (0 until 4).foreach { g =>
      store.append("log", (0 until 50).map(i =>
        (g * 1000L + i, s"g$g", if (g % 2 == 0) 9000.0 + i else i * 1.0))
        .toDF("uuid", "val", "m"))
    }
    // uuid in [0, 1500] keeps g0+g1; m in [8000, 10000] keeps g0+g2;
    // the conjunction keeps ONLY g0
    val (kU, tot) = store.pruned("log", Prune.range("uuid", 0L, 1500L)).get.counts
    val (kM, _) = store.pruned("log", Prune.range("m", 8000.0, 10000.0)).get.counts
    val (kBoth, _) = store.pruned("log",
      Prune.Ranges(Seq(("uuid", 0L, 1500L), ("m", 8000.0, 10000.0)))).get.counts
    assert(tot == 4 && kU == 2 && kM == 2 && kBoth == 1,
      s"intersection must be strictly tighter: uuid=$kU m=$kM both=$kBoth/$tot")
    val pruned = store.pruned("log",
      Prune.Ranges(Seq(("uuid", 0L, 1500L), ("m", 8000.0, 10000.0)))).get.read.get
      .orderBy("uuid").collect().toSeq
    val full = store.read("log").get
      .filter($"uuid".between(0L, 1500L) && $"m".between(8000.0, 10000.0))
      .orderBy("uuid").collect().toSeq
    assert(pruned == full && full.size == 50)
    // a conjunct on an unstatted column degrades to keep — the OTHER
    // conjunct still prunes
    val (kVal, _) = store.pruned("log",
      Prune.Ranges(Seq(("uuid", 0L, 500L), ("m", 0.0, 99999.0)))).get.counts
    assert(kVal == 1, s"uuid conjunct must still prune alone: $kVal")
    // fully-disjoint conjunction: zero dirs, empty result, schema kept
    val none = store.pruned("log",
      Prune.Ranges(Seq(("uuid", 0L, 500L), ("m", 100.0, 200.0)))).get.read.get
    assert(none.count() == 0 && none.columns.toSeq == Seq("uuid", "val", "m"))
  }

  test("compactLogs and replace recompute stats for the merged generation") {
    val root = tmpDir("graft_skip_comp_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("uuid"))
    (0 until 4).foreach(g => store.append("log", rows(g * 10 until (g + 1) * 10, s"g$g")))
    assert(store.pruned("log", Prune.range("uuid", 35L, 39L)).get.counts == ((1, 4)))
    assert(store.compactLogs("log"))
    // one merged dir now; its stats cover the whole range
    assert(store.pruned("log", Prune.range("uuid", 35L, 39L)).get.counts == ((1, 1)))
    assert(store.pruned("log", Prune.range("uuid", 35L, 39L)).get.read.get.count() == 5)
    assert(store.pruned("log", Prune.range("uuid", 500L, 600L)).get.counts == ((0, 1)))
    store.replace("log", rows(1000 until 1010, "r"))
    assert(store.pruned("log", Prune.range("uuid", 0L, 999L)).get.counts == ((0, 1)))
    assert(store.pruned("log", Prune.range("uuid", 1000L, 2000L)).get.read.get.count() == 10)
  }

  test("pre-versioning (v1) manifests widen float stat bounds — no skip inside the string gap") {
    // a manifest written before the float→double stat promotion holds
    // float-shortest strings ("1.1" for 1.1f whose double promotion is
    // 1.100000023841858...). A double probe INSIDE that gap must still
    // scan the dir: v1 manifests (no statsver line) widen bounds by a
    // relative epsilon at read time. Simulated by rewriting a fresh
    // manifest into the legacy form.
    val root = tmpDir("graft_skip_v1_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Seq("score"))
    Seq((1L, 1.1f)).toDF("uuid", "score")
      .select($"uuid", $"score".cast("float").as("score"))
      .write.mode("overwrite").parquet(s"$root/seed")
    store.append("t", spark.read.parquet(s"$root/seed"))
    val mf = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.txt")).maxBy(_.getName)
    val txt = scala.io.Source.fromFile(mf, "UTF-8").mkString
    // strip the version line and replace the (double-promoted) stat
    // strings with the float-shortest legacy form
    val legacy = txt.linesIterator
      .filterNot(_.startsWith("statsver:"))
      .map(l => if (l.startsWith("stats:"))
        l.replaceAll("score:[^:,]+:[^:,]+", "score:1.1:1.1") else l)
      .mkString("", "\n", "\n")
    val w = new java.io.PrintWriter(mf, "UTF-8"); w.write(legacy); w.close()
    // the true double promotion of 1.1f sits above the string "1.1" —
    // a v1 reader that trusted the string would skip the dir
    val lo = 1.1f.toDouble // 1.1000000238...
    assert(store.pruned("t", Prune.range("score", lo, 2.0)).get.counts == ((1, 1)),
      "v1 stats must widen: the probe inside the float-string gap keeps the dir")
    assert(store.pruned("t", Prune.range("score", lo, 2.0)).get.read.get.count() == 1)
    // a CURRENT manifest (statsver:2) does not widen: provably
    // disjoint probes still skip
    val store2root = tmpDir("graft_skip_v2_")
    val store2 = new SnapshotBucketedStore(store2root, 8, "parquet", Seq("score"))
    store2.append("t", spark.read.parquet(s"$root/seed"))
    assert(store2.pruned("t", Prune.range("score", 1.2, 2.0)).get.counts == ((0, 1)))
    assert(store2.pruned("t", Prune.range("score", lo, 2.0)).get.read.get.count() == 1,
      "v2 records the double-promoted bound exactly — the in-gap probe matches")
  }
}
