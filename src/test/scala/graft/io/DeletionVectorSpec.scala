package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletes (X234 — SnapshotBucketedStore.deleteLazy /
  * applyDeletes): the deletion-vector tier. Pins the contract the
  * scaladoc states: lazy ≡ eager bit-for-bit on every read family,
  * O(tombstone) commit cost (no bucket rewrite), resurrection via
  * re-upsert, physical erasure via applyDeletes + vacuum, honest
  * metadata degrades while tombstones are outstanding, and
  * tombstone-aware time travel / restore / diff / clone. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range, tag: String = "x") =
    r.map(i => (i.toLong, i * 2L, tag)).toDF("uuid", "v", "tag")

  private def newStore(root: String) = {
    implicit val s = spark
    new SnapshotBucketedStore(root, numBuckets = 8, "parquet",
      statsColumns = Seq("v"), keyColumns = Seq("uuid"),
      ndvColumns = Seq("tag"), quantileColumns = Seq("v"))
  }

  private def dataDirs(root: String, table: String): Set[String] = {
    val d = new java.io.File(s"$root/$table/data")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
  }

  test("lazy delete ≡ eager delete bit-for-bit, at O(tombstone) commit cost") {
    implicit val s = spark
    val rootL = tmpDir("dv_lazy_"); val rootE = tmpDir("dv_eager_")
    val lazyS = newStore(rootL); val eagerS = newStore(rootE)
    lazyS.upsert("t", rows(0 until 400), "uuid")
    eagerS.upsert("t", rows(0 until 400), "uuid")
    val doomed = (0 until 400 by 13).map(_.toLong).toDF("uuid")

    val dirsBefore = dataDirs(rootL, "t")
    lazyS.deleteLazy("t", "uuid", doomed)
    eagerS.delete("t", "uuid", doomed)

    // O(tombstone): the lazy commit added ONE sidecar dir and
    // rewrote NOTHING — every pre-delete generation dir is untouched
    val dirsAfter = dataDirs(rootL, "t")
    val added = dirsAfter -- dirsBefore
    assert(added.forall(_.startsWith("tomb-")), s"added: $added")
    assert(dirsBefore.subsetOf(dirsAfter), "no data dir may be rewritten")

    // bit-for-bit read equality with the eager path
    val l = lazyS.read("t").get.orderBy("uuid").collect().toSeq
    val e = eagerS.read("t").get.orderBy("uuid").collect().toSeq
    assert(l == e)
    assert(l.size == 400 - (0 until 400 by 13).size)

    // the pruned read families agree too
    val lEq = lazyS.pruned("t", Prune.Eq("uuid", 26L)).get.read.get.collect().toSeq
    assert(lEq.isEmpty, "a tombstoned key must not read back")
    val live = lazyS.pruned("t", Prune.Eq("uuid", 27L)).get.read.get.collect().toSeq
    assert(live.map(_.getLong(0)) == Seq(27L))
    val lRange = lazyS.pruned("t", Prune.range("v", 0L, 100L)).get.read.get
      .orderBy("uuid").collect().toSeq
    val eRange = eagerS.pruned("t", Prune.range("v", 0L, 100L)).get.read.get
      .orderBy("uuid").collect().toSeq
    assert(lRange == eRange)
  }

  test("re-upsert resurrects a tombstoned key; further lazy deletes stack") {
    implicit val s = spark
    val store = newStore(tmpDir("dv_res_"))
    store.upsert("t", rows(0 until 100), "uuid")
    store.deleteLazy("t", "uuid", Seq(10L, 20L).toDF("uuid"))
    assert(store.read("t").get.filter($"uuid" === 10L).count() == 0)
    // the new row lands in a fresh generation carrying no tombstone
    store.upsert("t", rows(10 until 11, tag = "back"), "uuid")
    val back = store.read("t").get.filter($"uuid" === 10L)
      .select("tag").as[String].collect().toSeq
    assert(back == Seq("back"))
    assert(store.read("t").get.filter($"uuid" === 20L).count() == 0,
      "the sibling tombstone must survive the unrelated upsert")
    // a second lazy delete stacks on dirs the first already tombstoned
    store.deleteLazy("t", "uuid", Seq(21L).toDF("uuid"))
    assert(store.read("t").get.filter($"uuid".isin(20L, 21L)).count() == 0)
    // net: 100 − {20, 21} with key 10 resurrected
    assert(store.read("t").get.count() == 98)
  }

  test("applyDeletes physically erases, then vacuum reclaims; reads unchanged") {
    implicit val s = spark
    val root = tmpDir("dv_apply_")
    val store = newStore(root)
    store.upsert("t", rows(0 until 300), "uuid")
    store.deleteLazy("t", "uuid", (0 until 300 by 7).map(_.toLong).toDF("uuid"))
    val before = store.read("t").get.orderBy("uuid").collect().toSeq
    val rewritten = store.applyDeletes("t")
    assert(rewritten > 0)
    assert(store.applyDeletes("t") == 0, "idempotent once clear")
    val after = store.read("t").get.orderBy("uuid").collect().toSeq
    assert(before == after, "apply must not change the logical table")
    store.vacuum("t")
    // PHYSICAL erasure: no surviving parquet file holds a doomed key
    val raw = spark.read.parquet(s"$root/t/data/*")
    assert(raw.filter($"uuid" % 7 === 0).count() == 0)
    assert(dataDirs(root, "t").forall(!_.startsWith("tomb-")),
      "sidecars are garbage once applied")
  }

  test("metadata serves refuse honestly while tombstones are outstanding") {
    implicit val s = spark
    val store = newStore(tmpDir("dv_meta_"))
    store.upsert("t", rows(0 until 200), "uuid")
    assert(store.served("t").flatMap(_.count).contains(200L))
    assert(store.served("t").flatMap(_.minMax("v")).isDefined)
    assert(store.served("t").flatMap(_.approxDistinct("tag")).isDefined)
    assert(store.served("t").flatMap(_.quantiles("v", Seq(0.5))).isDefined)
    assert(store.served("t").flatMap(_.rangeCount("v", 0.0, 100.0)).isDefined)
    store.deleteLazy("t", "uuid", Seq(5L).toDF("uuid"))
    assert(store.served("t").flatMap(_.count).isEmpty, "COUNT must not over-count")
    assert(store.served("t").flatMap(_.minMax("v")).isEmpty)
    assert(store.served("t").flatMap(_.approxDistinct("tag")).isEmpty)
    assert(store.served("t").flatMap(_.quantiles("v", Seq(0.5))).isEmpty)
    assert(store.served("t").flatMap(_.rangeCount("v", 0.0, 100.0)).isEmpty)
    assert(store.history("t").get.filter($"row_count".isNull).count() >= 1)
    store.applyDeletes("t")
    assert(store.served("t").flatMap(_.count).contains(199L), "serving resumes once applied")
  }

  test("time travel, restore, diff, and clone are all tombstone-aware") {
    implicit val s = spark
    val root = tmpDir("dv_tt_")
    val store = newStore(root)
    store.upsert("t", rows(0 until 120), "uuid") // v0
    store.deleteLazy("t", "uuid", Seq(7L, 8L).toDF("uuid")) // v1
    // time travel: v0 still has the keys, v1 does not
    assert(store.readAt("t", 0).get.filter($"uuid".isin(7L, 8L)).count() == 2)
    assert(store.readAt("t", 1).get.filter($"uuid".isin(7L, 8L)).count() == 0)
    // diff sees the lazy delete even though no dir ref changed
    val diff = store.diffVersions("t", 0, 1, "uuid").get
    assert(diff.filter($"change" === "removed").select("uuid")
      .as[Long].collect().toSet == Set(7L, 8L))
    // changesSince carries it as removed too
    val cdc = store.changesSince("t", 0, "uuid").get
    assert(cdc.filter($"change" === "removed").count() == 2)
    // restore back to v0 resurrects; restore forward to v1 re-deletes
    store.restore("t", 0) // v2
    assert(store.read("t").get.filter($"uuid" === 7L).count() == 1)
    store.restore("t", 1) // v3: the restored version's tombstones ride along
    assert(store.read("t").get.filter($"uuid" === 7L).count() == 0)
    // a zero-copy clone of the tombstoned version sees the deletion
    store.cloneTable("t", "fork", version = Some(1))
    assert(store.read("fork").get.filter($"uuid".isin(7L, 8L)).count() == 0)
    assert(store.read("fork").get.count() == 118)
    // and vacuum on the owner must not break the fork's sidecar refs
    store.vacuum("t")
    assert(store.read("fork").get.count() == 118)
  }

  test("SQL-shaped delete on a later-added column never bricks pre-column generations") {
    implicit val s = spark
    val root = tmpDir("dv_precol_")
    val store = newStore(root)
    // gen A predates the `extra` column entirely
    store.upsert("t", rows(0 until 60), "uuid")
    val dirsA = dataDirs(root, "t")
    // gen B adds `extra` on fresh keys (add-column upsert)
    store.upsert("t",
      (100 until 160).map(i => (i.toLong, i * 2L, "x", s"e$i"))
        .toDF("uuid", "v", "tag", "extra"), "uuid")
    // conservative all-bucket DELETE on the later-added column: the
    // footer probe must skip attaching tombstones to pre-column dirs
    store.deleteLazy("t", "extra", Seq("e100", "e101").toDF("extra"),
      targetByKeyHash = false)
    val manifest = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.txt"))
      .maxBy(_.getName.stripPrefix("manifest-").stripSuffix(".txt").toInt)
    val tombLines = scala.io.Source.fromFile(manifest).getLines()
      .filter(_.startsWith("tomb:")).toSeq
    assert(tombLines.forall(l => !dirsA.exists(d => l.contains(d))),
      s"tombstones attached to pre-column dirs: $tombLines vs $dirsA")
    // reads work (the old read-path threw AnalysisException here) and
    // are exact: only the two matching rows are gone
    val got = store.read("t").get.select("uuid").as[Long].collect().toSet
    assert(got == ((0L until 60L) ++ (102L until 160L)).toSet)
    // applyDeletes clears without touching pre-column dirs
    store.applyDeletes("t")
    assert(store.read("t").get.count() == 118)
    assert(dirsA.subsetOf(dataDirs(root, "t")),
      "pre-column generations must survive apply untouched")
  }

  test("a delete that empties a bucket drops it from the manifest on apply") {
    implicit val s = spark
    val root = tmpDir("dv_empty_")
    val store = newStore(root)
    store.upsert("t", rows(0 until 64), "uuid")
    // doom EVERY key: all buckets rewrite to zero rows
    store.deleteLazy("t", "uuid", (0 until 64).map(_.toLong).toDF("uuid"))
    assert(store.applyDeletes("t") > 0)
    assert(store.read("t").isEmpty,
      "an all-deleted table must read as absent (no live dirs), not as " +
        "retained footer-only generations")
    store.vacuum("t")
    assert(dataDirs(root, "t").isEmpty, s"dead dirs retained: ${dataDirs(root, "t")}")
    // and the table comes back on the next upsert
    store.upsert("t", rows(0 until 5), "uuid")
    assert(store.read("t").get.count() == 5)
  }

  test("applyDelta: upserts + deletes land in ONE commit, tombstone-aware, buckets drop") {
    implicit val s = spark
    val root = tmpDir("dv_delta_")
    val store = newStore(root)
    store.upsert("t", rows(0 until 200), "uuid") // v0
    // an OUTSTANDING tombstone on a dir the delta will touch: the
    // rewrite must apply it en passant, never resurrect key 4
    store.deleteLazy("t", "uuid", Seq(4L).toDF("uuid")) // v1
    val vBefore = store.snapshots("t").size
    val upserts = ((0 until 3).map(i => (i.toLong, -1L, "upd")) ++
      Seq((500L, 500L, "new"))).toDF("uuid", "v", "tag")
    val deletes = Seq(7L, 8L).toDF("uuid")
    store.applyDelta("t", upserts, deletes, "uuid")
    assert(store.snapshots("t").size == vBefore + 1, "one delta = one commit")
    val got = store.read("t").get.orderBy("uuid").as[(Long, Long, String)]
      .collect().toSeq
    val expect = ((0L until 200L).filterNot(Set(4L, 7L, 8L))
      .map(i => if (i < 3) (i, -1L, "upd") else (i, i * 2, "x")) :+
      ((500L, 500L, "new"))).sortBy(_._1)
    assert(got == expect)
    // a delta that DELETES every key of some bucket drops the bucket
    store.applyDelta("t",
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        upserts.schema),
      (0 until 501).map(_.toLong).toDF("uuid"), "uuid")
    assert(store.read("t").isEmpty, "all keys doomed → no live dirs")
    // log tables refuse the row-level path loudly
    store.append("logt", rows(0 until 5))
    val e = intercept[IllegalArgumentException](
      store.applyDelta("logt", upserts, deletes, "uuid"))
    assert(e.getMessage.contains("append-log"), e.getMessage)
  }

  test("applyDelta crash-injection: a death before the rename leaves the old snapshot; retry lands once") {
    implicit val s = spark
    val root = tmpDir("dv_delta_crash_")
    class CrashingStore extends SnapshotBucketedStore(root, 8, "parquet",
      statsColumns = Seq("v"), keyColumns = Seq("uuid")) {
      var crashNext = false
      override protected def beforeCommit(): Unit =
        if (crashNext) { crashNext = false; throw new RuntimeException("injected crash") }
    }
    val store = new CrashingStore
    store.upsert("t", rows(0 until 100), "uuid")
    val before = store.read("t").get.orderBy("uuid").collect().toSeq
    val upserts = Seq((1L, -1L, "upd"), (300L, 300L, "new")).toDF("uuid", "v", "tag")
    val deletes = Seq(5L, 6L).toDF("uuid")
    // die at the widest window: every staged bucket landed, manifest not
    store.crashNext = true
    intercept[RuntimeException](store.applyDelta("t", upserts, deletes, "uuid"))
    assert(store.read("t").get.orderBy("uuid").collect().toSeq == before,
      "a crashed merge must leave the previous snapshot byte-identical")
    // the retry commits the WHOLE delta exactly once
    store.applyDelta("t", upserts, deletes, "uuid")
    val got = store.read("t").get.orderBy("uuid").as[(Long, Long, String)]
      .collect().toSeq
    val expect = ((0L until 100L).filterNot(Set(5L, 6L))
      .map(i => if (i == 1L) (i, -1L, "upd") else (i, i * 2, "x")) :+
      ((300L, 300L, "new"))).sortBy(_._1)
    assert(got == expect)
    // and vacuum clears the crash debris (orphaned staged generations)
    store.vacuum("t")
    assert(store.read("t").get.count() == 99)
  }

  test("lazy deletes on DIFFERENT columns stack per-sidecar; log tables refuse") {
    implicit val s = spark
    val store = newStore(tmpDir("dv_guard_"))
    store.upsert("t",
      rows(0 until 50).withColumn("tag",
        when($"uuid" < 5, "doom").otherwise($"tag")), "uuid")
    store.deleteLazy("t", "uuid", Seq(10L).toDF("uuid"))
    // a second lazy delete keyed on a NON-key column (the SQL DELETE
    // shape): conservative all-bucket targeting, sidecar carries its
    // own key column, both anti-joins compose at read
    store.deleteLazy("t", "tag", Seq("doom").toDF("tag"),
      targetByKeyHash = false)
    val left = store.read("t").get.select("uuid").as[Long].collect().toSet
    assert(left == (0L until 50L).toSet -- Set(10L) -- (0L until 5L).toSet,
      s"got $left")
    // apply clears both sidecar families
    assert(store.applyDeletes("t") > 0)
    assert(store.read("t").get.count() == 44)
    assert(store.served("t").flatMap(_.count).contains(44L))
    store.append("log", rows(0 until 10))
    val l = intercept[IllegalArgumentException] {
      store.deleteLazy("log", "uuid", Seq(1L).toDF("uuid"))
    }
    assert(l.getMessage.contains("append-log"), l.getMessage)
  }
}
