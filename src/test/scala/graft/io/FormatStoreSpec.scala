package graft.io

import graft.SparkSpec

class FormatStoreSpec extends SparkSpec {
  import spark.implicits._

  test("ORC store: roundtrip, append, replace, keyed upsert") {
    implicit val s = spark
    val store = new FileDirStore(tmpDir("graft_orc_"), "orc")
    val df = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("uuid", "v")
    assert(store.read("t").isEmpty)
    store.append("t", df)
    assert(store.read("t").get.count() == 50)
    store.append("t", df.filter($"uuid" < 10))
    assert(store.read("t").get.count() == 60)
    store.replace("t", df.filter($"uuid" < 5))
    assert(store.read("t").get.count() == 5)
    // default (reference-semantics) upsert works through any format
    store.upsert("t", (3 until 8).map(i => (i.toLong, "new")).toDF("uuid", "v"), "uuid")
    val after = store.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 8)
    assert(after(3L) == "new" && after(0L) == "v0")
    // files really are ORC
    val files = new java.io.File(store.read("t").get.inputFiles.head
      .stripPrefix("file:")).getName
    assert(files.endsWith(".orc"), files)
  }

  test("snapshot protocol runs unchanged on ORC: commit, widen, delete, vacuum, compact") {
    implicit val s = spark
    val root = tmpDir("graft_orc_snap_")
    val store = new SnapshotBucketedStore(root, numBuckets = 4, fmt = "orc")
    val rows = (0 until 50).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("uuid", "v", "m")
    store.upsert("t", rows, "uuid")
    assert(store.read("t").get.count() == 50)
    assert(store.read("t").get.inputFiles.head.endsWith(".orc"),
      "generation files must be ORC")
    // widening upsert + mergeSchema read across mixed-schema generations
    val widened = (48 until 53)
      .map(i => (i.toLong, "w", i * 1.5, "feed")).toDF("uuid", "v", "m", "src")
    store.upsert("t", widened, "uuid")
    val table = store.read("t").get
    assert(table.count() == 53 && table.columns.contains("src"))
    assert(table.filter($"uuid" === 50L).select("src").as[String].head() == "feed")
    assert(table.filter($"uuid" === 0L).select("src").head().isNullAt(0))
    // keyed delete + vacuum (the GDPR path) stays available to ORC
    store.delete("t", "uuid", Seq(5L, 17L).toDF("uuid"))
    assert(store.read("t").get.count() == 51)
    store.vacuum("t")
    assert(store.read("t").get.count() == 51)
    assert(store.read("t").get.filter($"uuid".isin(5L, 17L)).count() == 0)
    // append-log role: exactly-once marks + CAS compaction
    val log = rows.select($"uuid", $"v")
    assert(store.appendIfNew("raw", log, 0L))
    assert(store.appendIfNew("raw", log, 1L))
    assert(!store.appendIfNew("raw", log, 1L))
    assert(store.compactLogs("raw"))
    assert(store.read("raw").get.count() == 100)
    assert(!store.appendIfNew("raw", log, 1L),
      "compaction must preserve the streaming high-water mark")
  }

  test("Avro store: roundtrip, append, replace, keyed upsert") {
    implicit val s = spark
    val avroRoot = tmpDir("graft_avro_store_")
    val store = new AvroDirStore(avroRoot)
    val df = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("uuid", "v")
    assert(store.read("t").isEmpty)
    store.append("t", df)
    assert(store.read("t").get.count() == 50)
    store.append("t", df.filter($"uuid" < 10))
    assert(store.read("t").get.count() == 60)
    store.replace("t", df.filter($"uuid" < 5))
    assert(store.read("t").get.count() == 5)
    store.upsert("t", (3 until 8).map(i => (i.toLong, "new")).toDF("uuid", "v"), "uuid")
    val after = store.read("t").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 8)
    assert(after(3L) == "new" && after(0L) == "v0")
    // files really are avro containers (the frame is RDD-backed, so
    // check the table directory itself)
    val names = new java.io.File(avroRoot, "t").listFiles().map(_.getName)
      // hadoop-local CRC sidecars + the job-commit marker
      .filter(n => !n.startsWith(".") && n != "_SUCCESS")
    assert(names.nonEmpty && names.forall(_.endsWith(".avro")), names.toSeq)
  }

  test("pipeline runs unchanged on an Avro warehouse") {
    implicit val s = spark
    val root = tmpDir("graft_avro_pipe_")
    val store = new AvroDirStore(s"$root/warehouse")
    val raw = s"$root/in.csv"
    graft.TestSales.writeCsv(raw, 15)
    val result = new graft.pipeline.SalesPipeline(
      store, s"$root/lake", graft.pipeline.Notifier.Noop).run(spark, raw)
    assert(result.isInstanceOf[graft.pipeline.PipelineResult.Success], result)
    assert(store.read("sales_tgt").get.count() == 15)
  }

  test("pipeline runs unchanged on an ORC warehouse") {
    implicit val s = spark
    val root = tmpDir("graft_orc_pipe_")
    val store = new FileDirStore(s"$root/warehouse", "orc")
    val raw = s"$root/in.csv"
    graft.TestSales.writeCsv(raw, 15)
    val result = new graft.pipeline.SalesPipeline(
      store, s"$root/lake", graft.pipeline.Notifier.Noop).run(spark, raw)
    assert(result.isInstanceOf[graft.pipeline.PipelineResult.Success], result)
    assert(store.read("sales_tgt").get.count() == 15)
  }
}
