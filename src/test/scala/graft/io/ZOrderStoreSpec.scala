package graft.io

import graft.SparkSpec

/** Z-order clustering rewrite (X253): `CALL cat.system.zorder` lays an
  * append-log table out as Morton-curve slab generations, so the
  * recorded per-slab min/max boxes are narrow in EVERY listed
  * dimension and stats pruning fires for predicates on any of them —
  * where the ingest order (row-major here) pruned only one. Content
  * is bit-identical; history rewrite refuses streaming capture across
  * it like compaction does. */
class ZOrderStoreSpec extends SparkSpec {
  import spark.implicits._

  private def register(root: String): String = {
    val name = "lakez" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.statscolumns", "a,b")
    name
  }

  /** 64×64 grid appended in row-major chunks: each generation holds 8
    * consecutive `a` values × all of `b` — so linear layout prunes on
    * `a` and NOT AT ALL on `b`. */
  private def grid(root: String): SnapshotBucketedStore = {
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("a", "b"))
    (0 until 8).foreach { chunk =>
      val rows = for {
        a <- (chunk * 8) until ((chunk + 1) * 8)
        b <- 0 until 64
      } yield (a.toLong, b.toLong, a.toLong * 64 + b)
      store.append("t", rows.toDF("a", "b", "payload"))
    }
    store
  }

  test("zorder makes BOTH dimensions prune; rows are bit-identical") {
    val root = tmpDir("graft_zs_")
    val store = grid(root)
    val before = store.read("t").get.orderBy("payload")
      .collect().map(_.toSeq).toSeq

    // ingest order: a prunes hard, b not at all
    val (aKept0, total0) = store.pruned("t", Prune.range("a", 0L, 7L)).get.counts
    val (bKept0, _) = store.pruned("t", Prune.range("b", 0L, 7L)).get.counts
    assert(total0 == 8 && aKept0 == 1, s"linear a-prune: $aKept0/$total0")
    assert(bKept0 == 8, s"linear layout cannot prune b: $bKept0")

    val cat = register(root)
    val out = spark.sql(s"CALL $cat.system.zorder('t', 'a,b', 8)").collect()
    assert(out.head.getInt(1) == 8, s"slabs written: ${out.head.getInt(1)}")

    val (aKept1, total1) = store.pruned("t", Prune.range("a", 0L, 7L)).get.counts
    val (bKept1, _) = store.pruned("t", Prune.range("b", 0L, 7L)).get.counts
    assert(total1 == 8)
    assert(aKept1 <= 5, s"z-layout must still prune a: $aKept1/8")
    assert(bKept1 <= 5, s"z-layout must NOW prune b: $bKept1/8")

    val after = store.read("t").get.orderBy("payload")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "clustering must not change one row")

    // and the SQL box query through the catalog is exact + pruned
    val box = spark.sql(s"SELECT SUM(payload) AS s FROM $cat.t " +
      "WHERE b >= 0 AND b <= 7").head.getLong(0)
    val expect = (for { a <- 0 until 64; b <- 0 until 8 }
      yield a.toLong * 64 + b).sum
    assert(box == expect)
    val (kept, total) = GraftSource.lastPrune.get
    assert(total == 8 && kept <= 5, s"catalog scan must ride the boxes: $kept/$total")
  }

  test("refusals: non-stats column, keyed table, too few slabs") {
    val root = tmpDir("graft_zs_ref_")
    val store = grid(root)
    implicit val s = spark

    val e1 = intercept[IllegalArgumentException](
      store.rewriteClustered("t", Seq("payload")))
    assert(e1.getMessage.contains("stats columns"), e1.getMessage)

    val e2 = intercept[IllegalArgumentException](
      store.rewriteClustered("t", Seq("a", "b"), slabs = 1))
    assert(e2.getMessage.contains("slabs"), e2.getMessage)

    val keyed = new SnapshotBucketedStore(tmpDir("graft_zs_k_"),
      numBuckets = 4, statsColumns = Seq("a"), keyColumns = Seq("a"))
    keyed.upsert("k", Seq((1L, 2L)).toDF("a", "b"), "a")
    val e3 = intercept[IllegalArgumentException](
      keyed.rewriteClustered("k", Seq("a")))
    assert(e3.getMessage.contains("append-log"), e3.getMessage)
  }

  test("history rewrite refuses dir-level streaming capture across it") {
    val root = tmpDir("graft_zs_cap_")
    val store = grid(root)
    val e = intercept[IllegalArgumentException] {
      store.rewriteClustered("t", Seq("a", "b"), slabs = 4)
      store.appendDirsSince("t", 3, store.snapshots("t").last)
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
  }
}
