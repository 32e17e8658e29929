package graft.io

import graft.SparkSpec

/** ANALYZE (X257): backfilling the metadata tier for generations
  * written before the stats shape was declared — one metadata-only
  * commit turns on pruning, manifest aggregates, and CBO figures for
  * a legacy table; re-analyzing a covered table is a no-op. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range) =
    r.map(i => (i.toLong, i * 2L, s"t$i")).toDF("uuid", "v", "tag")

  test("analyze turns on pruning, metadata aggregates, NDV and CBO figures") {
    val root = tmpDir("graft_an_")
    implicit val s = spark
    // written by a shape-less store: no stats, no Blooms, no NDV
    val bare = new SnapshotBucketedStore(root, numBuckets = 4)
    (0 until 4).foreach(g => bare.append("t", rows(g * 50 until (g + 1) * 50)))

    // reopened with the declared shape: everything refuses pre-analyze
    val shaped = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"), ndvColumns = Seq("v"))
    assert(shaped.pruned("t", Prune.range("v", 0L, 50L)).get.counts._1 == 4,
      "no recorded stats → nothing prunes")
    assert(shaped.served("t").flatMap(_.minMax("v")).isEmpty)
    assert(shaped.served("t").flatMap(_.approxDistinct("v")).isEmpty)
    assert(shaped.served("t").get.columnStats.isEmpty)

    val cat = "lakean" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.statscolumns", "v")
    spark.conf.set(s"spark.sql.catalog.$cat.keycolumns", "uuid")
    spark.conf.set(s"spark.sql.catalog.$cat.ndvcolumns", "v")
    val out = spark.sql(s"CALL $cat.system.analyze('t', false)").collect()
    assert(out.head.getInt(1) == 4, s"dirs analyzed: ${out.head.getInt(1)}")

    // every tier now serves, and the rows never moved
    assert(shaped.pruned("t", Prune.range("v", 0L, 50L)).get.counts._1 <= 1,
      "range pruning must fire after analyze")
    assert(shaped.pruned("t", Prune.Eq("uuid", 7L)).get.counts._1 <= 2,
      "Bloom pruning must fire after analyze")
    assert(shaped.served("t").flatMap(_.minMax("v")).contains(
      (BigDecimal(0), BigDecimal(398))))
    assert(shaped.served("t").flatMap(_.count).contains(200L))
    assert(shaped.served("t").flatMap(_.approxDistinct("v")).exists(n => n > 180 && n < 220))
    assert(shaped.served("t").get.columnStats.nonEmpty)
    assert(shaped.read("t").get.count() == 200)

    // covered table: analyze is a no-op, no version minted
    val vBefore = shaped.snapshots("t").last
    val again = spark.sql(s"CALL $cat.system.analyze('t', false)").collect()
    assert(again.head.getInt(1) == 0)
    assert(shaped.snapshots("t").last == vBefore, "no-op must not mint history")
  }

  test("full recompute upgrades a partially-covered table in one pass") {
    val root = tmpDir("graft_an_full_")
    implicit val s = spark
    val shaped = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"))
    shaped.append("t", rows(0 until 30)) // this one records stats
    val bare = new SnapshotBucketedStore(root, numBuckets = 4)
    bare.append("t", rows(30 until 60)) // this one doesn't
    assert(shaped.served("t").flatMap(_.minMax("v")).isEmpty, "one unstatted dir blocks")
    assert(shaped.analyzeTable("t") == 1, "only the missing dir recomputes")
    assert(shaped.served("t").flatMap(_.minMax("v")).contains(
      (BigDecimal(0), BigDecimal(118))))
  }

  test("full recompute REPLACES stale entries for redeclared stats columns") {
    val root = tmpDir("graft_an_stale_")
    implicit val s = spark
    // written under statscolumns=v: every dir records v bounds
    val oldShape = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"))
    (0 until 3).foreach(g => oldShape.append("t", rows(g * 20 until (g + 1) * 20)))
    assert(oldShape.pruned("t", Prune.range("v", -100L, -50L)).get.counts._1 == 0,
      "v is statted: an out-of-range probe prunes every dir")

    // the shape is REDECLARED to uuid; a full recompute must DROP the
    // old v entries — a merge would keep them under the upgraded
    // stats version, where survives() skips the legacy widening and
    // could wrongly prune on stale bounds
    val newShape = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("uuid"))
    assert(newShape.analyzeTable("t", onlyMissing = false) == 3)
    assert(newShape.pruned("t", Prune.range("uuid", 0L, 5L)).get.counts._1 <= 1,
      "the redeclared column prunes")
    assert(newShape.pruned("t", Prune.range("v", -100L, -50L)).get.counts._1 == 3,
      "stale v entries must be gone: with no recorded stats every dir " +
        "is conservatively kept")
  }

  /** The exact per-dir metadata lines of the latest manifest. */
  private def exactMeta(root: String, t: String): Set[String] = {
    val mf = new java.io.File(s"$root/$t").listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.txt"))
      .maxBy(_.getName.stripPrefix("manifest-").stripSuffix(".txt").toInt)
    val src = scala.io.Source.fromFile(mf, "UTF-8")
    try src.getLines().filter(l => Seq("rows:", "stats:", "keys:").exists(l.startsWith)).toSet
    finally src.close()
  }

  test("every commit family records the metadata analyze recomputes from its data") {
    val root = tmpDir("graft_an_obs_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v", "uuid"), keyColumns = Seq("uuid"),
      ndvColumns = Seq("v"), quantileColumns = Seq("v"))
    // rows, min/max and Bloom bytes match exactly; NDV and quantile
    // sketches within their error (KLL compaction flips coins, so the
    // two quantile sets are each held to the exact ranks of the data)
    def agrees(t: String, what: String): Unit = {
      val exact = exactMeta(root, t)
      val ndv = store.served(t).flatMap(_.approxDistinct("v"))
      val probs = Seq(0.1, 0.5, 0.9)
      val qs = store.served(t).flatMap(_.quantiles("v", probs))
      store.analyzeTable(t, onlyMissing = false)
      assert(exactMeta(root, t) == exact, s"$what: rows/stats/keys")
      (ndv, store.served(t).flatMap(_.approxDistinct("v"))) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) <= 0.05 * b + 2, s"$what: ndv $a vs $b")
        case (a, b) => assert(a == b, s"$what: ndv $a vs $b")
      }
      val vs = store.read(t).get.select("v").as[Long].collect().sorted
      def rankOk(q: Seq[Double]) = probs.zip(q).forall { case (p, x) =>
        math.abs(vs.count(_ <= x).toDouble / vs.length - p) <= 0.03 + 1.0 / vs.length
      }
      val recomputed = store.served(t).flatMap(_.quantiles("v", probs))
      assert(qs.isDefined == recomputed.isDefined, s"$what: quantiles $qs vs $recomputed")
      assert((qs ++ recomputed).forall(rankOk), s"$what: quantiles $qs vs $recomputed")
    }
    def keys(r: Range) = r.map(_.toLong).toDF("k")

    store.upsert("k", rows(0 until 300), "uuid"); agrees("k", "upsert")
    store.upsertWithBatch("k", rows(200 until 400), "uuid", 1L); agrees("k", "upsertWithBatch")
    store.upsertWithBatch("k", rows(0 until 0), "uuid", 2L); agrees("k", "empty upsertWithBatch")
    assert(store.lastAppliedBatch("k").contains(2L), "an empty delta still commits its mark")
    store.delete("k", "uuid", keys(0 until 50)); agrees("k", "delete")
    store.applyDelta("k", rows(350 until 450), keys(60 until 80), "uuid"); agrees("k", "applyDelta")
    store.deleteLazy("k", "uuid", keys(100 until 120))
    assert(store.applyDeletes("k") > 0); agrees("k", "applyDeletes")
    store.deleteRange("k", "v", 400L, 500L); agrees("k", "deleteRange (bucketed)")
    store.addColumns("k", Seq(org.apache.spark.sql.types.StructField(
      "extra", org.apache.spark.sql.types.StringType))); agrees("k", "addColumns")
    store.rebuild("k", rows(0 until 200), "uuid"); agrees("k", "rebuild")
    assert(store.read("k").get.count() == 200)

    (0 until 3).foreach(g => store.append("l", rows(g * 100 until (g + 1) * 100)))
    agrees("l", "append")
    assert(store.appendIfNew("l", rows(300 until 350), 5L)); agrees("l", "appendIfNew")
    assert(store.compactLogs("l")); agrees("l", "compactLogs")
    assert(store.rewriteClustered("l", Seq("v"), slabs = 4) > 1); agrees("l", "rewriteClustered")
    store.deleteRange("l", "v", 0L, 99L); agrees("l", "deleteRange (log)")
    store.replace("l", rows(0 until 80)); agrees("l", "replace")
    store.replaceWithBatch("l", rows(0 until 0), 6L); agrees("l", "zero-row replaceWithBatch")
    assert(exactMeta(root, "l").exists(_.matches("keys:.*=uuid:.+")),
      "a zero-row generation records an empty Bloom")
  }
}
