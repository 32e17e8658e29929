package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Zero-copy table clone (X221 — shallow-clone semantics): the clone
  * is one manifest referencing the source's dirs (no bytes copied),
  * reads identically, diverges copy-on-write in BOTH directions, and
  * the vacuum keep-scan protects shared dirs until no manifest
  * anywhere references them. */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range, tag: String = "x") =
    r.map(i => (i.toLong, i * 3L, tag)).toDF("uuid", "v", "tag")

  private def dataFilesUnder(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val d = new java.io.File(path)
    if (d.exists()) walk(d) else Nil
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
    df.select("uuid", "v", "tag").as[(Long, Long, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap

  test("clone is metadata-only, reads identically, and serves metadata stats") {
    val root = tmpDir("graft_clone_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"),
      ndvColumns = Seq("tag"), quantileColumns = Seq("v"))
    store.upsert("src", rows(0 until 300), "uuid")
    store.cloneTable("src", "dst")
    // zero-copy: the clone owns NO data files
    assert(dataFilesUnder(s"$root/dst/data").isEmpty, "clone must copy no bytes")
    assert(asMap(store.read("dst").get) == asMap(store.read("src").get))
    // the recorded stats travel with the refs: metadata tiers all serve
    assert(store.served("dst").flatMap(_.count).contains(300L))
    assert(store.served("dst").flatMap(_.minMax("v")).contains((BigDecimal(0), BigDecimal(897))))
    assert(store.served("dst").flatMap(_.approxDistinct("tag")).contains(1L))
    assert(store.served("dst").flatMap(_.quantiles("v", Seq(0.0))).isDefined)
    // Bloom point-lookup prunes through refs too
    assert(asMap(store.pruned("dst", Prune.Eq("uuid", 7L)).get.read.get
      .filter(col("uuid") === 7L)).contains(7L))
  }

  test("divergence is copy-on-write in both directions") {
    val root = tmpDir("graft_clone_cow_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("src", rows(0 until 200), "uuid")
    store.cloneTable("src", "dst")
    // write to the CLONE: revise some keys, add new ones
    store.upsert("dst", rows(150 until 250, tag = "dst"), "uuid")
    // write to the SOURCE: delete a disjoint slice
    store.delete("src", "uuid", (0L until 50L).toDF("uuid"))
    val srcM = asMap(store.read("src").get)
    val dstM = asMap(store.read("dst").get)
    // source: 50..199 original, no dst revisions
    assert(srcM.keySet == (50L until 200L).toSet)
    assert(srcM.values.forall(_._2 == "x"))
    // clone: 0..249, 150+ revised, the source's delete invisible
    assert(dstM.keySet == (0L until 250L).toSet)
    assert(dstM(0L)._2 == "x" && dstM(160L)._2 == "dst" && dstM(240L)._2 == "dst")
  }

  test("vacuum on the source keeps dirs a clone still references") {
    val root = tmpDir("graft_clone_vac_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("src", rows(0 until 200), "uuid")
    store.cloneTable("src", "dst")
    // source evolves away from every original dir (all buckets touched),
    // then vacuums hard — the clone's refs must survive the sweep
    store.upsert("src", rows(0 until 200, tag = "v2"), "uuid")
    store.vacuum("src", retainSnapshots = 1)
    val dstM = asMap(store.read("dst").get)
    assert(dstM.size == 200 && dstM.values.forall(_._2 == "x"),
      "vacuum(src) reclaimed dirs the clone still references")
    // and once the clone ALSO evolves away, the shared dirs become
    // reclaimable: both sides fully rewritten → src vacuum drops them
    store.upsert("dst", rows(0 until 200, tag = "d2"), "uuid")
    store.vacuum("dst", retainSnapshots = 1)
    store.vacuum("src", retainSnapshots = 1)
    // both tables still read correctly from their own rewritten dirs
    assert(asMap(store.read("src").get).values.forall(_._2 == "v2"))
    assert(asMap(store.read("dst").get).values.forall(_._2 == "d2"))
  }

  test("historic-version clone; clone-of-clone points at the original owner") {
    val root = tmpDir("graft_clone_tt_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("src", rows(0 until 100), "uuid")
    val v1 = store.snapshots("src").max
    store.upsert("src", rows(0 until 100, tag = "new"), "uuid")
    store.cloneTable("src", "old", version = Some(v1))
    assert(asMap(store.read("old").get).values.forall(_._2 == "x"),
      "historic clone must see the v1 rows")
    // clone the clone, then vacuum the middle table away from its refs:
    // the grandchild must survive because its refs name the ORIGINAL
    store.cloneTable("old", "older")
    store.upsert("old", rows(0 until 100, tag = "mid"), "uuid")
    store.vacuum("old", retainSnapshots = 1)
    store.vacuum("src", retainSnapshots = 1)
    assert(asMap(store.read("older").get).values.forall(_._2 == "x"))
  }

  test("a clone copies the dropped-column marker; a pre-drop clone serves it") {
    val root = tmpDir("graft_clone_drop_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("src", rows(0 until 20), "uuid")
    val preDrop = store.snapshots("src").last
    store.dropColumns("src", Seq("tag"))

    // clone of HEAD shows the source's logical (narrowed) schema over
    // the same borrowed bytes, and keeps the retirement rule
    store.cloneTable("src", "dst")
    assert(store.read("dst").get.columns.toSeq == Seq("uuid", "v"))
    val e = intercept[IllegalArgumentException](
      store.upsert("dst", Seq((1L, 1L, "zz")).toDF("uuid", "v", "tag"), "uuid"))
    assert(e.getMessage.contains("retired"), e.getMessage)

    // a clone pinned to the PRE-drop version serves the full schema
    // (the marker is snapshot state, cloned with the snapshot)
    store.cloneTable("src", "old", version = Some(preDrop))
    assert(store.read("old").get.columns.toSeq == Seq("uuid", "v", "tag"))
    assert(store.read("old").get.count() == 20)
  }

  test("contracts: existing target, self-clone, missing source refuse") {
    val root = tmpDir("graft_clone_err_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("src", rows(0 until 10), "uuid")
    store.cloneTable("src", "dst")
    intercept[IllegalArgumentException] { store.cloneTable("src", "dst") }
    intercept[IllegalArgumentException] { store.cloneTable("src", "src") }
    intercept[java.util.NoSuchElementException] {
      store.cloneTable("ghost", "g2")
    }
    intercept[java.util.NoSuchElementException] {
      store.cloneTable("src", "g3", version = Some(99))
    }
  }
}
