package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Maintenance SQL (X251): `CALL cat.system.*` stored procedures over
  * the snapshot store — each delegates to the store op that owns the
  * semantics and returns a one-row summary; unknown names refuse
  * loudly; Spark's own binder type-checks arguments and serves
  * SHOW/DESCRIBE for free. */
class GraftProceduresSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range, tag: String = "x") =
    r.map(i => (i.toLong, i * 2L, tag)).toDF("uuid", "v", "tag")

  private def register(root: String): String = {
    val name = "proc" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.keycolumns", "uuid")
    name
  }

  test("apply_deletes drains tombstones and re-enables the metadata tier") {
    val root = tmpDir("graft_proc_ad_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    store.upsert("t", rows(0 until 100), "uuid")
    store.deleteLazy("t", "uuid", Seq(1L, 2L, 3L).toDF("uuid"))
    assert(store.served("t").flatMap(_.count).isEmpty, "tombstones must gate the metadata tier")
    val cat = register(root)

    val out = spark.sql(s"CALL $cat.system.apply_deletes('t')").collect()
    assert(out.length == 1 && out.head.getString(0) == "t")
    assert(out.head.getInt(1) >= 1, s"dirs rewritten: ${out.head.getInt(1)}")
    assert(store.served("t").flatMap(_.count).contains(97L),
      "after apply_deletes the manifest serves the logical count")
  }

  test("vacuum honors retention and reports the retained window; named args bind") {
    val root = tmpDir("graft_proc_vac_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    (0 until 4).foreach(g => store.append("t", rows(g * 10 until (g + 1) * 10)))
    assert(store.snapshots("t").size == 4)
    val cat = register(root)

    val out = spark.sql(
      s"CALL $cat.system.vacuum(`table` => 't', retain_snapshots => 2)").collect()
    assert(out.head.getString(0) == "t" && out.head.getInt(1) == 2,
      s"retained: ${out.head.getInt(1)}")
    assert(store.snapshots("t").size == 2)
    assert(store.read("t").get.count() == 40, "the live snapshot is untouched")
  }

  test("compact_logs folds an append-log table to one generation") {
    val root = tmpDir("graft_proc_cl_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    (0 until 5).foreach(g => store.append("logs", rows(g * 10 until (g + 1) * 10)))
    val cat = register(root)
    val out = spark.sql(s"CALL $cat.system.compact_logs('logs')").collect()
    assert(out.head.getBoolean(1), "compaction must succeed")
    assert(store.tableKind("logs").contains((0, 1)), "one log generation after")
    assert(store.read("logs").get.count() == 50)
  }

  test("restore rolls back by committing forward; the result names both versions") {
    val root = tmpDir("graft_proc_rs_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    store.upsert("t", rows(0 until 20), "uuid")
    val v0 = store.snapshots("t").last
    store.upsert("t", rows(0 until 20, tag = "changed"), "uuid")
    val cat = register(root)

    val out = spark.sql(s"CALL $cat.system.restore('t', $v0)").collect()
    assert(out.head.getInt(1) == v0)
    assert(out.head.getInt(2) > v0, "restore commits a NEW version")
    val tags = store.read("t").get.select("tag").distinct()
      .as[String].collect().toSeq
    assert(tags == Seq("x"), s"content must be the restored snapshot's: $tags")
  }

  test("rebuild converts a log table to keyed buckets; duplicate keys refuse") {
    val root = tmpDir("graft_proc_rb_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    store.append("t", rows(0 until 30))
    store.append("t", rows(30 until 50)) // disjoint keys: rebuild is exact
    val cat = register(root)
    val out = spark.sql(s"CALL $cat.system.rebuild('t', 'uuid')").collect()
    assert(out.head.getString(0) == "t")
    val (b, l) = store.tableKind("t").get
    assert(b > 0 && l == 0, s"keyed bucketed after rebuild: ($b, $l)")
    assert(store.read("t").get.count() == 50)

    // duplicate keys: rebuild would silently keep both under one key —
    // the procedure refuses, naming the dedup the caller must choose
    store.append("dup", rows(0 until 10))
    store.append("dup", rows(0 until 10, tag = "again"))
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.system.rebuild('dup', 'uuid')").collect())
    assert(causeChain(e).exists(_.contains("duplicate")), causeChain(e).mkString("\n"))
  }

  /** Spark wraps procedure-load/run failures (FAILED_TO_LOAD_ROUTINE
    * etc.) — the refusal text lives in the cause chain. */
  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("clone_table zero-copy clones through SQL") {
    val root = tmpDir("graft_proc_cn_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    store.upsert("src", rows(0 until 25), "uuid")
    val cat = register(root)
    spark.sql(s"CALL $cat.system.clone_table('src', 'dev')").collect()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dev").head.getLong(0) == 25L)
  }

  test("unknown procedure / wrong namespace / missing table refuse loudly") {
    val root = tmpDir("graft_proc_err_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.append("t", rows(0 until 5))
    val cat = register(root)

    val e1 = intercept[Exception](
      spark.sql(s"CALL $cat.system.frobnicate('t')").collect())
    assert(causeChain(e1).exists(m => m.contains("known:") &&
      m.contains("system.apply_deletes")), causeChain(e1).mkString("\n"))

    val e2 = intercept[Exception](
      spark.sql(s"CALL $cat.apply_deletes('t')").collect())
    assert(causeChain(e2).exists(_.contains("system")),
      causeChain(e2).mkString("\n"))

    val e3 = intercept[Exception](
      spark.sql(s"CALL $cat.system.apply_deletes('nope')").collect())
    assert(causeChain(e3).exists(_.contains("nope")),
      causeChain(e3).mkString("\n"))
  }

  test("SHOW PROCEDURES enumerates the maintenance surface") {
    val root = tmpDir("graft_proc_show_")
    implicit val s = spark
    new SnapshotBucketedStore(root, numBuckets = 4).append("t", rows(0 until 3))
    val cat = register(root)
    val shown = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .collect().map(_.mkString("|")).mkString("\n")
    GraftProcedures.names.foreach(n =>
      assert(shown.contains(n), s"missing $n in:\n$shown"))
  }
}
