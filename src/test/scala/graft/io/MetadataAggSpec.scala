package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only aggregates (X214): COUNT(*)/MIN/MAX served from the
  * manifest alone — proven metadata-only by answering AFTER the data
  * files are gone; counts track every commit family (upsert, delete,
  * append, replace, compact, range delete); legacy manifests without
  * row lines degrade to None; min/max refuses when any non-empty dir
  * lacks the column's stats. */
class MetadataAggSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range) =
    r.map(i => (i.toLong, i * 2L, s"v$i")).toDF("uuid", "num", "val")

  test("count and min/max track upserts and deletes exactly") {
    val root = tmpDir("graft_meta_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("num"))
    store.upsert("t", rows(0 until 100), "uuid")
    assert(store.served("t").flatMap(_.count).contains(100L))
    assert(store.served("t").flatMap(_.minMax("num"))
      .contains((BigDecimal(0), BigDecimal(198))))
    // upsert: 5 replaced + 2 new
    store.upsert("t", rows(98 until 105), "uuid")
    assert(store.served("t").flatMap(_.count).contains(105L))
    assert(store.served("t").flatMap(_.minMax("num"))
      .contains((BigDecimal(0), BigDecimal(208))))
    // keyed delete, including the current max
    store.delete("t", "uuid", Seq(104L, 0L).toDF("uuid"))
    assert(store.served("t").flatMap(_.count).contains(103L))
    assert(store.served("t").flatMap(_.minMax("num"))
      .contains((BigDecimal(2), BigDecimal(206))))
    // the scan agrees
    val (c, mn, mx) = (store.read("t").get.count(),
      store.read("t").get.agg(min("num")).head.getLong(0),
      store.read("t").get.agg(max("num")).head.getLong(0))
    assert(c == 103L && mn == 2L && mx == 206L)
  }

  test("the answer really is metadata-only: serves after data files vanish") {
    val root = tmpDir("graft_meta_gone_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("num"))
    store.upsert("t", rows(0 until 50), "uuid")
    // destroy every data file; keep the manifest
    val data = new java.io.File(s"$root/t/data")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(data)
    assert(store.served("t").flatMap(_.count).contains(50L))
    assert(store.served("t").flatMap(_.minMax("num"))
      .contains((BigDecimal(0), BigDecimal(98))))
  }

  test("append, replace, and compact record counts; range delete maintains them") {
    val root = tmpDir("graft_meta_log_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("num"))
    store.append("log", rows(0 until 30))
    store.append("log", rows(30 until 45))
    assert(store.served("log").flatMap(_.count).contains(45L))
    assert(store.compactLogs("log"))
    assert(store.served("log").flatMap(_.count).contains(45L))
    store.replace("log", rows(0 until 20))
    assert(store.served("log").flatMap(_.count).contains(20L))
    // range delete: num in [0, 18] drops 10 rows (num even, 0..38)
    store.deleteRange("log", "num", 0L, 18L)
    assert(store.served("log").flatMap(_.count).contains(10L))
    assert(store.served("log").flatMap(_.minMax("num"))
      .contains((BigDecimal(20), BigDecimal(38))))
  }

  test("a manifest without row lines degrades to None (legacy fallback)") {
    val root = tmpDir("graft_meta_legacy_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 10), "uuid")
    // simulate a legacy manifest: strip the rows: lines in place
    val dir = new java.io.File(s"$root/t")
    val mf = dir.listFiles().filter(_.getName.matches("manifest-\\d+\\.txt"))
      .maxBy(_.getName)
    val txt = scala.io.Source.fromFile(mf).mkString
    val stripped = txt.linesIterator.filterNot(_.startsWith("rows:"))
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(mf.toPath, stripped)
    assert(store.served("t").flatMap(_.count).isEmpty)
    // and the data path still reads fine
    assert(store.read("t").get.count() == 10L)
  }

  test("min/max refuses when a non-empty dir lacks the column's stats") {
    val root = tmpDir("graft_meta_nostats_")
    implicit val s = spark
    // no statsColumns declared: counts serve, min/max cannot
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 10), "uuid")
    assert(store.served("t").flatMap(_.count).contains(10L))
    assert(store.served("t").flatMap(_.minMax("num")).isEmpty)
  }
}
