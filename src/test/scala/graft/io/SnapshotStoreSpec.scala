package graft.io

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.5)).toDF("uuid", "val", "m")

  /** Crash-injection store: dies at the protocol's widest window —
    * after every data dir has landed, just before the manifest
    * rename that IS the commit. */
  private final class CrashingStore(root: String, buckets: Int)(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, buckets) {
    var crashNext = false
    override protected def beforeCommit(): Unit =
      if (crashNext) { crashNext = false; throw new RuntimeException("injected crash") }
  }

  test("upsert round trip with O(batch) manifest-level pruning") {
    val root = tmpDir("graft_snap_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 8)
    store.upsert("tgt", rows(0 until 200, "v1"), "uuid")
    assert(store.read("tgt").get.count() == 200)
    store.upsert("tgt", rows(198 until 203, "v2"), "uuid")
    val table = store.read("tgt").get
    assert(table.count() == 203)
    assert(table.filter($"uuid" === 199L).select("val").as[String].head() == "v2")
    assert(table.filter($"uuid" === 0L).select("val").as[String].head() == "v1")
    // generation layout: v1 dirs survive for untouched buckets, and the
    // second manifest reuses them by reference (no copy)
    val dataDirs = new File(s"$root/tgt/data").listFiles().map(_.getName).toSet
    assert(dataDirs.exists(_.endsWith("-g0")) && dataDirs.exists(_.endsWith("-g1")))
    assert(dataDirs.count(_.endsWith("-g1")) < 8, "only touched buckets got a new generation")
  }

  test("rebuild: atomic full swap survives a crash, drops absent rows, and keeps taking upserts") {
    val root = tmpDir("graft_snap_rb_")
    implicit val s = spark
    val store = new CrashingStore(root, 8)
    store.upsert("tgt", rows(0 until 100, "v1"), "uuid")
    val before = store.read("tgt").get.orderBy("uuid").collect()
    // crash after all buckets staged, before the manifest swap: the
    // old snapshot serves, not a half-rebuilt mix
    store.crashNext = true
    intercept[RuntimeException] {
      store.rebuild("tgt", rows(50 until 120, "v2"), "uuid")
    }
    assert(store.read("tgt").get.orderBy("uuid").collect().toSeq == before.toSeq)
    // retry: the new snapshot is EXACTLY the rebuilt frame — rows
    // absent from it are gone (full-replace semantics, bucketed form)
    store.rebuild("tgt", rows(50 until 120, "v2"), "uuid")
    assert(store.read("tgt").get.count() == 70)
    assert(store.read("tgt").get.filter($"uuid" < 50).count() == 0)
    // ...and unlike replace's append-log generation, the table still
    // accepts keyed upserts (reindex-then-keep-streaming)
    store.upsert("tgt", rows(118 until 125, "v3"), "uuid")
    assert(store.read("tgt").get.count() == 75)
    // the superseded snapshot stays time-travel readable
    assert(store.readAt("tgt", 0).get.orderBy("uuid").collect().toSeq
      == before.toSeq)
  }

  test("a crash between data landing and commit leaves the OLD snapshot readable") {
    val root = tmpDir("graft_snap_crash_")
    implicit val s = spark
    val store = new CrashingStore(root, 8)
    store.upsert("tgt", rows(0 until 100, "v1"), "uuid")
    val before = store.read("tgt").get.orderBy("uuid").collect()

    store.crashNext = true
    intercept[RuntimeException] {
      store.upsert("tgt", rows(0 until 100, "v2"), "uuid")
    }
    // every row of the old snapshot, not a mix — the manifest never moved
    val after = store.read("tgt").get.orderBy("uuid").collect()
    assert(after.toSeq == before.toSeq, "reader must see the pre-crash snapshot")
    assert(store.read("tgt").get.filter($"val" === "v2").count() == 0)

    // recovery: the writer simply retries; vacuum clears the orphans
    store.upsert("tgt", rows(0 until 100, "v2"), "uuid")
    assert(store.read("tgt").get.filter($"val" === "v2").count() == 100)
    store.vacuum("tgt")
    val live = new File(s"$root/tgt/data").listFiles().map(_.getName).toSet
    assert(live.forall(d => !d.startsWith("log-")), s"unexpected: $live")
    val manifests = new File(s"$root/tgt").listFiles().map(_.getName)
      .filter(_.startsWith("manifest-"))
    assert(manifests.length == 1 && manifests.head.endsWith(".txt"))
  }

  test("append log generations commit atomically and refuse upsert") {
    val root = tmpDir("graft_snap_log_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.append("raw", rows(0 until 10, "a"))
    store.append("raw", rows(10 until 25, "b"))
    assert(store.read("raw").get.count() == 25)
    val e = intercept[IllegalArgumentException] {
      store.upsert("raw", rows(0 until 5, "c"), "uuid")
    }
    assert(e.getMessage.contains("upsert-only"))
  }

  test("replace supersedes everything and self-overwrite is layout-safe") {
    val root = tmpDir("graft_snap_rep_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 50, "a"), "uuid")
    // replace with a frame computed FROM the current table contents
    val halved = store.read("t").get.filter($"uuid" < 25)
    store.replace("t", halved)
    assert(store.read("t").get.count() == 25)
    store.vacuum("t")
    assert(store.read("t").get.count() == 25)
  }

  test("keyed delete rewrites only touched buckets, commits atomically, vacuums away") {
    val root = tmpDir("graft_snap_del_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 8)
    store.upsert("t", rows(0 until 200, "a"), "uuid")
    val doomed = Seq(5L, 17L, 99L).toDF("uuid")
    store.delete("t", "uuid", doomed)
    val left = store.read("t").get
    assert(left.count() == 197)
    assert(left.filter($"uuid".isin(5L, 17L, 99L)).count() == 0)
    // untouched buckets kept their g0 generation (no full rewrite)
    val dataDirs = new File(s"$root/t/data").listFiles().map(_.getName).toSet
    assert(dataDirs.exists(_.endsWith("-g0")) && dataDirs.exists(_.endsWith("-g1")))
    assert(dataDirs.count(_.endsWith("-g1")) < 8, s"delete must not rewrite all buckets: $dataDirs")
    // physical erasure after vacuum: no superseded generation remains
    store.vacuum("t")
    val after = new File(s"$root/t/data").listFiles().map(_.getName).toSet
    assert(after.size == 8, s"one live dir per bucket expected: $after")
    assert(store.read("t").get.count() == 197)
    // deleting every row of some bucket drops it from the manifest
    store.delete("t", "uuid", (0 until 200).map(_.toLong).toDF("uuid"))
    assert(store.read("t").isEmpty || store.read("t").get.count() == 0)
  }

  test("schema widening: a batch adding a column upserts and reads across generations") {
    val root = tmpDir("graft_snap_evo_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 50, "a"), "uuid")
    // widened batch: adds a `src` column, touches a few keys
    val widened = (48 until 53)
      .map(i => (i.toLong, "b", i * 1.5, "feed-2")).toDF("uuid", "val", "m", "src")
    store.upsert("t", widened, "uuid")
    val table = store.read("t").get
    assert(table.columns.contains("src"))
    assert(table.count() == 53)
    // new rows carry the new column; untouched old-generation rows read null
    assert(table.filter($"uuid" === 50L).select("src").as[String].head() == "feed-2")
    assert(table.filter($"uuid" === 0L).select("src").head().isNullAt(0))
  }

  test("delete after a widening upsert preserves the widened column (mergeSchema)") {
    val root = tmpDir("graft_snap_wdel_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 50, "a"), "uuid")
    val widened = (48 until 53)
      .map(i => (i.toLong, "b", i * 1.5, "feed-2")).toDF("uuid", "val", "m", "src")
    store.upsert("t", widened, "uuid")
    // delete keys chosen to touch buckets holding BOTH generations —
    // with 4 buckets and 53 keys every bucket holds old-gen rows, so
    // any delete that rewrites a bucket with a widened row exercises
    // the mixed-schema read
    store.delete("t", "uuid", Seq(0L, 25L, 49L).toDF("uuid"))
    val table = store.read("t").get
    assert(table.count() == 50)
    assert(table.columns.contains("src"), "delete dropped the widened column")
    assert(table.filter($"uuid" === 50L).select("src").as[String].head() == "feed-2",
      "widened value lost by delete's bucket rewrite")
  }

  test("append refuses a bucketed upsert target (role split, both directions)") {
    val root = tmpDir("graft_snap_guard_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 20, "a"), "uuid")
    val e = intercept[IllegalArgumentException] {
      store.append("t", rows(20 until 30, "b"))
    }
    assert(e.getMessage.contains("log tables only"))
    // table still works as an upsert target afterwards
    store.upsert("t", rows(18 until 22, "c"), "uuid")
    assert(store.read("t").get.count() == 22)
  }

  test("appendIfNew skips a replayed streaming batch (marker commits with the data)") {
    val root = tmpDir("graft_snap_once_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    assert(store.appendIfNew("raw", rows(0 until 10, "b0"), 0L))
    assert(store.appendIfNew("raw", rows(10 until 20, "b1"), 1L))
    // crash-replay of epoch 1: recognized and skipped
    assert(!store.appendIfNew("raw", rows(10 until 20, "b1"), 1L))
    assert(store.read("raw").get.count() == 20)
    // progress resumes with the next epoch
    assert(store.appendIfNew("raw", rows(20 until 25, "b2"), 2L))
    assert(store.read("raw").get.count() == 25)
    // plain append still works on the same log table and preserves the mark
    store.append("raw", rows(25 until 30, "x"))
    assert(!store.appendIfNew("raw", rows(10 until 20, "b1"), 2L))
    assert(store.read("raw").get.count() == 30)
    // the mark SURVIVES a replace (compaction between streaming
    // commits): a replayed old epoch must still be recognized
    store.replace("raw", store.read("raw").get)
    assert(!store.appendIfNew("raw", rows(10 until 20, "b2"), 2L),
      "replace must not reset the streaming high-water mark")
    assert(store.appendIfNew("raw", rows(30 until 35, "b3"), 3L))
    assert(store.read("raw").get.count() == 35)
  }

  test("compactLogs folds append generations into one, read-equivalent, mark preserved") {
    val root = tmpDir("graft_snap_cpt_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    assert(store.appendIfNew("raw", rows(0 until 10, "b0"), 0L))
    assert(store.appendIfNew("raw", rows(10 until 20, "b1"), 1L))
    assert(store.appendIfNew("raw", rows(20 until 30, "b2"), 2L))
    val before = store.read("raw").get.orderBy("uuid").collect().toSeq
    assert(store.compactLogs("raw"))
    assert(store.read("raw").get.orderBy("uuid").collect().toSeq == before,
      "compaction must be read-equivalent")
    store.vacuum("raw")
    val live = new File(s"$root/raw/data").listFiles().map(_.getName).filter(_.startsWith("log-"))
    assert(live.length == 1, s"expected one live log dir after compact+vacuum: ${live.toSeq}")
    // exactly-once survives compact-then-replay: epoch 2 is still fenced
    assert(!store.appendIfNew("raw", rows(20 until 30, "b2"), 2L),
      "compaction must not reset the streaming high-water mark")
    assert(store.appendIfNew("raw", rows(30 until 35, "b3"), 3L))
    assert(store.read("raw").get.count() == 35)
    // idempotent / already-compact fast path
    assert(store.compactLogs("missing"))
  }

  test("compactLogs refuses a bucketed upsert target") {
    val root = tmpDir("graft_snap_cptg_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 20, "a"), "uuid")
    val e = intercept[IllegalArgumentException] { store.compactLogs("t") }
    assert(e.getMessage.contains("append-log tables"))
  }

  /** Race-injection store: the first commit after arming performs a
    * competing streaming append through a plain handle on the same
    * table — landing BETWEEN compactLogs' read and its commit rename,
    * the exact window the CAS must cover. */
  private final class RacingStore(root: String, buckets: Int)(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, buckets) {
    var raceNext: Option[() => Unit] = None
    override protected def beforeCommit(): Unit =
      raceNext match {
        case Some(r) => raceNext = None; r()
        case None => ()
      }
  }

  test("a drain landing mid-compact is never dropped: CAS fails, retry folds it in") {
    val root = tmpDir("graft_snap_race_")
    implicit val s = spark
    val store = new RacingStore(root, 4)
    val plain = new SnapshotBucketedStore(root, 4)
    assert(store.appendIfNew("raw", rows(0 until 10, "b0"), 0L))
    assert(store.appendIfNew("raw", rows(10 until 20, "b1"), 1L))
    store.raceNext = Some(() =>
      assert(plain.appendIfNew("raw", rows(90 until 95, "raced"), 7L)))
    assert(store.compactLogs("raw"), "compaction should succeed on retry")
    val table = store.read("raw").get
    assert(table.count() == 25, "the raced generation must survive compaction")
    assert(table.filter($"val" === "raced").count() == 5)
    // the raced batch's mark survived too: its replay is fenced
    assert(!store.appendIfNew("raw", rows(90 until 95, "raced"), 7L))
    store.vacuum("raw")
    val live = new File(s"$root/raw/data").listFiles().map(_.getName).filter(_.startsWith("log-"))
    assert(live.length == 1, s"retry should still fully fold: ${live.toSeq}")
    assert(store.read("raw").get.count() == 25)
  }

  test("vacuum retention window protects recent snapshots") {
    val root = tmpDir("graft_snap_ret_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 40, "a"), "uuid")   // v0
    store.upsert("t", rows(0 until 10, "b"), "uuid")   // v1
    store.upsert("t", rows(10 until 20, "c"), "uuid")  // v2
    store.vacuum("t", retainSnapshots = 2)
    val manifests = new File(s"$root/t").listFiles().map(_.getName)
      .filter(_.startsWith("manifest-")).sorted
    assert(manifests.toSeq == Seq("manifest-1.txt", "manifest-2.txt"), manifests.toSeq)
    // v1's generations survive even where v2 superseded them
    assert(store.read("t").get.count() == 40)
    store.vacuum("t") // default: current only
    assert(new File(s"$root/t").listFiles().map(_.getName)
      .count(_.startsWith("manifest-")) == 1)
    assert(store.read("t").get.count() == 40)
  }

  test("missing table reads as None") {
    val root = tmpDir("graft_snap_none_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    assert(store.read("nope").isEmpty)
  }

  /** Link-refusing store: every hard-link publish fails the way some
    * network mounts fail (FileSystemException), so every commit runs
    * the degraded exists+rename path — the branch a local test FS
    * never exercises on its own because local links always work. */
  private final class LinkRefusingStore(root: String, buckets: Int)(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, buckets) {
    var raceNext: Option[() => Unit] = None
    override protected def createLink(
        dst: java.nio.file.Path, src: java.nio.file.Path): Unit =
      throw new java.nio.file.FileSystemException(
        dst.toString, src.toString, "Operation not permitted")
    override protected def beforeCommit(): Unit =
      raceNext match {
        case Some(r) => raceNext = None; r()
        case None => ()
      }
  }

  test("rename-CAS fallback: commits land when hard links are refused") {
    val root = tmpDir("graft_snap_fb_")
    implicit val s = spark
    val store = new LinkRefusingStore(root, 4)
    store.upsert("tgt", rows(0 until 50, "v1"), "uuid")
    store.upsert("tgt", rows(48 until 55, "v2"), "uuid")
    val table = store.read("tgt").get
    assert(table.count() == 55)
    assert(table.filter($"uuid" === 49L).select("val").as[String].head() == "v2")
    // no staged .tmp leaked: the fallback renames the staged text away
    val leftover = new File(s"$root/tgt").listFiles().map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty, s"staged manifests leaked: ${leftover.toSeq}")
  }

  test("rename-CAS fallback still refuses a lost same-version race loudly") {
    val root = tmpDir("graft_snap_fbrace_")
    implicit val s = spark
    val store = new LinkRefusingStore(root, 4)
    val plain = new SnapshotBucketedStore(root, 4)
    store.append("raw", rows(0 until 10, "a"))
    // a competing writer lands the SAME next version between our data
    // write and our publish — the exists probe must catch it
    store.raceNext = Some(() => plain.append("raw", rows(90 until 95, "raced")))
    intercept[ConcurrentCommitException] {
      store.append("raw", rows(10 until 20, "lost"))
    }
    // the winner's commit is intact; the loser's rows never surfaced
    val table = store.read("raw").get
    assert(table.filter($"val" === "raced").count() == 5)
    assert(table.filter($"val" === "lost").count() == 0)
  }

  test("time travel: snapshots list, readAt, diff, and restore-as-new-commit") {
    val root = tmpDir("graft_snap_tt_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 30, "a"), "uuid")  // v0
    store.upsert("t", rows(28 until 35, "b"), "uuid") // v1
    store.delete("t", "uuid", Seq(3L, 4L).toDF("uuid")) // v2
    assert(store.snapshots("t") == Seq(0, 1, 2))

    // superseded snapshots read exactly as committed
    assert(store.readAt("t", 0).get.count() == 30)
    assert(store.readAt("t", 1).get.count() == 35)
    assert(store.readAt("t", 0).get.filter($"val" === "b").count() == 0)
    assert(store.read("t").get.count() == 33)
    assert(store.readAt("t", 9).isEmpty)

    // diff two versions relationally
    val added = store.readAt("t", 1).get.exceptAll(store.readAt("t", 0).get)
    assert(added.count() == 7, "v1 upserted rows 28-34 (28/29 rewritten)")

    // restore v0: a NEW commit referencing v0's dirs — never in place
    store.restore("t", 0)
    assert(store.snapshots("t") == Seq(0, 1, 2, 3))
    val restored = store.read("t").get
    assert(restored.count() == 30)
    assert(restored.filter($"val" === "b").count() == 0)
    // the restore survives vacuum: the dirs it references are live in
    // the NEWEST manifest even though they were committed at v0
    store.vacuum("t")
    assert(store.read("t").get.count() == 30)
    // and it is itself revertible
    intercept[java.util.NoSuchElementException] { store.restore("t", 1) } // vacuumed away
  }

  test("restore keeps the streaming high-water mark of the CURRENT snapshot") {
    val root = tmpDir("graft_snap_ttm_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    assert(store.appendIfNew("raw", rows(0 until 10, "b0"), 0L)) // v0
    assert(store.appendIfNew("raw", rows(10 until 20, "b1"), 1L)) // v1
    store.restore("raw", 0) // v2: data of v0
    assert(store.read("raw").get.count() == 10)
    // epoch 1's data was rolled away, but its MARK survives: a replay
    // of epoch 1 after the restore must stay fenced (monotonic epochs)
    assert(!store.appendIfNew("raw", rows(10 until 20, "b1"), 1L),
      "restore must not resurrect pre-restore epochs")
    assert(store.appendIfNew("raw", rows(20 until 25, "b2"), 2L))
    assert(store.read("raw").get.count() == 15)
  }

  /** Data files per generation dir written at version `v`. */
  private def filesAt(root: String, t: String, v: Int): Map[String, Int] =
    new File(s"$root/$t/data").listFiles().filter(_.getName.endsWith(s"-g$v"))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  test("bucketed stages write each touched bucket as one file") {
    val root = tmpDir("graft_onefile_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 8)
    def oneEach(what: String): Unit = {
      val files = filesAt(root, "t", store.snapshots("t").last)
      assert(files.nonEmpty && files.values.forall(_ == 1), s"$what: $files")
    }
    // inputs spread over more partitions than there are write tasks
    store.upsert("t", rows(0 until 2000, "a").repartition(7), "uuid")
    oneEach("first upsert")
    store.upsert("t", rows(1000 until 3000, "b").repartition(5), "uuid")
    oneEach("merging upsert")
    store.delete("t", "uuid", (0L until 500L).toDF("k"))
    oneEach("delete")
    store.applyDelta("t", rows(2500 until 3500, "c").repartition(3),
      (600L until 700L).toDF("k"), "uuid")
    oneEach("applyDelta")
    val got = store.read("t").get
    assert(got.count() == 3500 - 500 - 100)
    assert(got.filter($"uuid" >= 2500).select("val").distinct().as[String].collect().toSeq == Seq("c"))
    store.rebuild("t", rows(0 until 1500, "d").repartition(6), "uuid")
    oneEach("rebuild")
    assert(store.read("t").get.count() == 1500)
  }

  test("a bucket above the advisory partition size splits into several files") {
    val root = tmpDir("graft_split_")
    implicit val s = spark
    // AQE sizes partitions by the advisory size, without the 1 MB
    // coalescing floor (which would merge this small test's partitions)
    val conf = Map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k")
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val store = new SnapshotBucketedStore(root, numBuckets = 2)
    def split(what: String): Unit = {
      val files = filesAt(root, "t", store.snapshots("t").last)
      assert(files.size == 2 && files.values.forall(_ > 1), s"$what: $files")
    }
    store.upsert("t", rows(0 until 4000, "a"), "uuid")
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      // a merge too large for one task keeps last over the shuffle
      // partitions
      store.upsert("t", rows(3000 until 5000, "b").repartition(4), "uuid")
      split("merge")
      val got = store.read("t").get
      assert(got.count() == 5000)
      assert(got.filter($"uuid" >= 3000).select("val").distinct().as[String].collect().toSeq == Seq("b"))
      assert(got.filter($"uuid" < 3000).select("val").distinct().as[String].collect().toSeq == Seq("a"))
      // a rebuild rebalances: AQE splits each bucket by its shuffle bytes
      store.rebuild("t", rows(0 until 4000, "c").repartition(4), "uuid")
      split("rebuild")
      assert(store.read("t").get.count() == 4000)
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a truncated manifest line raises a named error") {
    val root = tmpDir("graft_badmf_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 10, "a"), "uuid")
    val mf = new File(s"$root/t/manifest-0.txt")
    val text = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    val bucketLine = text.linesIterator.find(_.startsWith("bucket:")).get
    val cut = bucketLine.take(bucketLine.indexOf('='))
    java.nio.file.Files.write(mf.toPath,
      text.replace(bucketLine, cut).getBytes("UTF-8"))
    val e = intercept[CorruptManifestException](store.read("t"))
    assert(e.table == "t" && e.version == 0 && e.line == cut, e.getMessage)
    assert(e.getMessage.contains("'t'") && e.getMessage.contains("v0") &&
      e.getMessage.contains(cut), e.getMessage)
  }
}
