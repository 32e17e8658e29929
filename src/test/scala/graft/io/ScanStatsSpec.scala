package graft.io

import graft.SparkSpec

/** Manifest-served planning statistics (X250): the catalog scan
  * reports row count + file bytes of the dirs its pruning keeps, so
  * Spark's join planner auto-broadcasts the small side of a SQL join
  * over catalog tables — the V1-bridge default ("unknown" = huge)
  * made every catalog join sort-merge both sides. Degrades to
  * "unknown", never to an understated size. */
class ScanStatsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range, tag: String = "x") =
    r.map(i => (i.toLong, i * 2L, tag)).toDF("uuid", "v", "tag")

  private def register(root: String): String = {
    val name = "lake" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.statscolumns", "v")
    spark.conf.set(s"spark.sql.catalog.$name.keycolumns", "uuid")
    name
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Table-dir listings (one per manifest lookup) while a resolved
    * query reports its statistics, plans and runs. */
  private def tableListings(df: org.apache.spark.sql.DataFrame, dir: String): Int = {
    df.queryExecution.analyzed
    CountingFileSystem.reset()
    df.queryExecution.optimizedPlan.stats
    df.collect()
    CountingFileSystem.count("listStatus", dir)
  }

  test("pruned(...).estimate: exact rows, positive bytes, scoped to surviving dirs") {
    val root = tmpDir("graft_stats_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    (0 until 8).foreach(g => store.append("t", rows(g * 100 until (g + 1) * 100)))

    val (fullRows, fullBytes) = store.pruned("t", Prune.All).get.estimate
    assert(fullRows.contains(800L), s"full estimate: $fullRows")
    assert(fullBytes.exists(_ > 0L))

    // a closed range keeps ~2 of 8 generations: rows estimate follows
    val ranged = store.pruned("t", Prune.range("v", 100L, 198L)).get.estimate
    assert(ranged._1.exists(r => r >= 50L && r <= 200L),
      s"range estimate must cover only surviving dirs: ${ranged._1}")
    assert(ranged._2.exists(b => b > 0L && b < fullBytes.get))

    // an equality probe targets the dirs whose Bloom might hold it
    val eq = store.pruned("t", Prune.Eq("uuid", 123L)).get.estimate
    assert(eq._1.exists(_ <= 200L), s"eq estimate: ${eq._1}")
  }

  test("physical rows stay an upper bound under outstanding tombstones") {
    val root = tmpDir("graft_stats_tomb_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    store.upsert("t", rows(0 until 100), "uuid")
    store.deleteLazy("t", "uuid", Seq(1L, 2L, 3L).toDF("uuid"))
    val (r, b) = store.pruned("t", Prune.All).get.estimate
    // logical rows = 97; the estimate reports the physical 100 — an
    // overestimate, the safe planning direction
    assert(r.contains(100L), s"tombstoned estimate: $r")
    assert(b.exists(_ > 0L))
  }

  test("optimized-plan stats carry the manifest figures") {
    val root = tmpDir("graft_stats_plan_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    (0 until 4).foreach(g => store.append("t", rows(g * 50 until (g + 1) * 50)))
    val cat = register(root)

    val plan = spark.table(s"$cat.t").queryExecution.optimizedPlan
    val stats = plan.stats
    assert(stats.rowCount.contains(BigInt(200)),
      s"rowCount must come from the manifest: ${stats.rowCount}")
    val expectBytes = store.pruned("t", Prune.All).get.estimate._2.get
    assert(stats.sizeInBytes == BigInt(expectBytes),
      s"sizeInBytes must be the manifest file bytes: ${stats.sizeInBytes} vs $expectBytes")
  }

  test("a small catalog dim auto-broadcasts against a catalog fact (static planning)") {
    val root = tmpDir("graft_stats_bcast_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    (0 until 8).foreach(g => store.append("fact", rows(g * 100 until (g + 1) * 100)))
    store.append("dim", rows(0 until 10, tag = "d"))
    val cat = register(root)

    val q = s"SELECT f.uuid, d.tag FROM $cat.fact f JOIN $cat.dim d ON f.uuid = d.uuid"
    // AQE off: this pins the STATIC planner's decision — AQE could
    // rescue an unknown-stats plan at runtime, masking the regression
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val bcast = spark.sql(q).queryExecution.sparkPlan.toString
      assert(bcast.contains("BroadcastHashJoin"),
        "manifest stats must let the 10-row dim broadcast:\n" + bcast.take(1200))

      // with a 1-byte threshold the same stats REFUSE the broadcast —
      // proof the decision rides a real reported size, not a zero
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
        val smj = spark.sql(q).queryExecution.sparkPlan.toString
        assert(!smj.contains("BroadcastHashJoin"),
          "a 1-byte threshold must reject the reported size:\n" + smj.take(1200))
      }
    }
  }

  test("CBO tier: column min/max/NDV reach attributeStats under cbo.enabled") {
    val root = tmpDir("graft_stats_cbo_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"),
      ndvColumns = Seq("v"))
    (0 until 4).foreach(g => store.append("t", rows(g * 50 until (g + 1) * 50)))

    // the serve itself: exact bounds, HLL estimate near the truth
    val served = store.served("t").get.columnStats
    val (mm, nd) = served("v")
    assert(mm.contains((BigDecimal(0), BigDecimal(398))), s"v bounds: $mm")
    assert(nd.exists(n => n > 180 && n < 220), s"v ndv ~200: $nd")

    val cat = register(root)
    withConf("spark.sql.cbo.enabled" -> "true") {
      val stats = spark.table(s"$cat.t").queryExecution.optimizedPlan.stats
      val vAttr = stats.attributeStats.toSeq.map { case (a, cs) => a.name -> cs }.toMap
      val vs = vAttr.get("v").getOrElse(fail(s"no column stats for v: $vAttr"))
      assert(vs.min.map(_.toString).contains("0"), s"min: ${vs.min}")
      assert(vs.max.map(_.toString).contains("398"), s"max: ${vs.max}")
      assert(vs.distinctCount.exists(n => n > 180 && n < 220),
        s"ndv: ${vs.distinctCount}")
    }
    // default sessions never pay the column-stat fold
    val cold = spark.table(s"$cat.t").queryExecution.optimizedPlan.stats
    assert(cold.attributeStats.isEmpty, "no CBO opt-in → no column stats")
  }

  test("column stats refuse under outstanding tombstones") {
    val root = tmpDir("graft_stats_cbo_tomb_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"), ndvColumns = Seq("v"))
    store.upsert("t", rows(0 until 100), "uuid")
    assert(store.served("t").get.columnStats.nonEmpty)
    store.deleteLazy("t", "uuid", Seq(1L).toDF("uuid"))
    assert(store.served("t").get.columnStats.isEmpty,
      "physical-row figures must not describe a logically-deleted snapshot")
  }

  test("byte sizing is a manifest fold: zero data-dir listings at plan time") {
    val local = tmpDir("graft_stats_fold_")
    val root = "cntfs:" + local
    implicit val s = spark
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    (0 until 4).foreach(g => store.append("t", rows(g * 50 until (g + 1) * 50)))
    store.upsert("kt", rows(0 until 80), "uuid")

    // truth: what a direct listing of every live dir sums to
    def listedBytes(table: String): Long = {
      val dataRoot = java.nio.file.Paths.get(local, table, "data")
      val out = new java.util.ArrayList[java.nio.file.Path]()
      java.nio.file.Files.walk(dataRoot).forEach(p => { out.add(p); () })
      import scala.jdk.CollectionConverters._
      out.asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
        .map(java.nio.file.Files.size(_)).sum
    }

    CountingFileSystem.reset()
    val est = store.pruned("t", Prune.All).get.estimate
    val estK = store.pruned("kt", Prune.All).get.estimate
    assert(CountingFileSystem.dataDirListings.isEmpty,
      "a bytes-covered table must size its scan from the manifest " +
        s"alone; listed: ${CountingFileSystem.dataDirListings}")
    assert(est._2.contains(listedBytes("t")),
      s"manifest bytes must equal the listing truth: ${est._2}")
    assert(estK._2.contains(listedBytes("kt")), s"keyed: ${estK._2}")

    // LEGACY manifest (no bytes: lines): estimate still serves — by
    // paying the per-dir listing, the honest degrade
    val mPath = java.nio.file.Paths.get(local, "t",
      s"manifest-${store.snapshots("t").last}.txt")
    val stripped = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
      .linesIterator.filterNot(_.startsWith("bytes:")).mkString("", "\n", "\n")
    java.nio.file.Files.write(mPath, stripped.getBytes("UTF-8"))
    CountingFileSystem.reset()
    val legacy = store.pruned("t", Prune.All).get.estimate
    assert(legacy._2.contains(listedBytes("t")))
    assert(CountingFileSystem.dataDirListings.nonEmpty,
      "a bytes-less manifest must fall back to listing")

    // one ANALYZE backfills the record; sizing goes listing-free again
    assert(store.analyzeTable("t") == 0) // nothing to recompute, bytes only
    CountingFileSystem.reset()
    val back = store.pruned("t", Prune.All).get.estimate
    assert(back._2.contains(listedBytes("t")))
    assert(CountingFileSystem.dataDirListings.isEmpty,
      "analyze must backfill byte records: " +
        s"${CountingFileSystem.dataDirListings}")
  }

  test("CBO decimal bounds are served as Catalyst Decimal, and estimate") {
    val root = tmpDir("graft_stats_dec_")
    implicit val s = spark
    // decimals sketch NDV through their canonical string form
    // (hll_sketch_agg takes int/long/string/binary natively)
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("d"), ndvColumns = Seq("d"))
    val df = (0 until 100)
      .map(i => (i.toLong, BigDecimal(i).setScale(2) * BigDecimal("0.25")))
      .toDF("uuid", "d")
      .selectExpr("uuid", "CAST(d AS DECIMAL(10,2)) AS d")
    store.append("t", df)
    val cat = "lakedec" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.statscolumns", "d")
    spark.conf.set(s"spark.sql.catalog.$cat.ndvcolumns", "d")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val stats = spark.table(s"$cat.t").queryExecution.optimizedPlan.stats
      val dStats = stats.attributeStats.toSeq
        .collectFirst { case (a, cs) if a.name == "d" => cs }
        .getOrElse(fail(s"no column stats for d: ${stats.attributeStats}"))
      // the ColumnStat contract stores min/max as CATALYST values:
      // a decimal bound must be types.Decimal, never java BigDecimal
      // (estimation's toDouble would throw on the external type)
      assert(dStats.min.exists(_.isInstanceOf[org.apache.spark.sql.types.Decimal]),
        s"min must be Catalyst Decimal: ${dStats.min.map(_.getClass)}")
      assert(dStats.max.exists(_.isInstanceOf[org.apache.spark.sql.types.Decimal]),
        s"max must be Catalyst Decimal: ${dStats.max.map(_.getClass)}")
      // NDV through the canonical-string sketch reaches distinctCount
      assert(dStats.distinctCount.exists(n => n > 80 && n < 120),
        s"decimal NDV ~100 via string sketch: ${dStats.distinctCount}")
      // and JoinEstimation runs end-to-end over the decimal bounds
      // (interval intersection + NDV math on the served stats) — the
      // estimated inner-join cardinality is defined and finite. A
      // filter can't exercise this: pushed filters empty the scan's
      // served column stats by design (whole-table bounds under a
      // filter-scoped row count would skew selectivity).
      val jn = spark.table(s"$cat.t").as("a")
        .join(spark.table(s"$cat.t").as("b"), "d")
        .queryExecution.optimizedPlan.stats
      assert(jn.rowCount.exists(rc => rc > BigInt(0) && rc <= BigInt(10000)),
        s"CBO join estimate over decimal stats: ${jn.rowCount}")
    }
  }

  test("version-pinned scans estimate from their own snapshot") {
    val root = tmpDir("graft_stats_ver_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    store.append("t", rows(0 until 50))
    val v1 = store.snapshots("t").last
    store.append("t", rows(50 until 300))
    val pinned = store.pruned("t", Prune.All, Some(v1)).get.estimate
    val head = store.pruned("t", Prune.All).get.estimate
    assert(pinned._1.contains(50L), s"pinned: ${pinned._1}")
    assert(head._1.contains(300L), s"head: ${head._1}")
    assert(pinned._2.get < head._2.get)
  }

  test("a filtered SQL scan takes rows, skip metric and estimate from one manifest read") {
    val local = tmpDir("graft_stats_once_")
    val root = "cntfs:" + local
    implicit val s = spark
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    (0 until 8).foreach(g => store.append("t", rows(g * 100 until (g + 1) * 100)))
    val cat = register(root)
    val v1 = spark.read.format("graft").option("root", root).option("table", "t").load()
    def v2(where: String) = spark.sql(s"SELECT * FROM $cat.t WHERE $where")
    def tableListings(df: org.apache.spark.sql.DataFrame): Int =
      ScanStatsSpec.this.tableListings(df, s"$local/t")
    // unpruned baselines: V1 sizes the relation (1) and scans (1); the
    // V2 table resolved its schema and shape at analysis, so only the
    // scan reads, serving statistics and rows (1)
    assert(tableListings(v1.where("tag = 'q' OR v > 0")) == 2)
    assert(tableListings(v2("tag = 'q' OR v > 0")) == 1)
    Seq(
      "v >= 100 AND v <= 198" -> Prune.range("v", 100L, 198L),
      "uuid = 420" -> Prune.Eq("uuid", 420L),
      "uuid IN (5, 505)" -> Prune.EqAny("uuid", Seq(5L, 505L))).foreach { case (where, p) =>
      val expected = store.pruned("t", p).get.counts
      assert(expected._1 < expected._2, s"$where must prune: $expected")
      // a pruning filter adds no manifest read to either surface
      assert(tableListings(v1.where(where)) == 2, s"V1 $where")
      assert(GraftSource.lastPrune.contains(expected), s"V1 $where")
      assert(tableListings(v2(where)) == 1, s"V2 $where")
      assert(GraftSource.lastPrune.contains(expected), s"V2 $where")
    }
  }

  /** An 8-log-dir table on the counting filesystem, registered in a
    * catalog, shared by the reads-touch-only-kept-dirs tests below. */
  private lazy val eightDirs: (String, String, SnapshotBucketedStore) = {
    val local = tmpDir("graft_stats_kept_")
    val root = "cntfs:" + local
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))(spark)
    (0 until 8).foreach(g => store.append("t", rows(g * 100 until (g + 1) * 100)))
    (local, register(root), store)
  }

  test("a point lookup lists and opens only the dir its Bloom keeps") {
    val (local, _, store) = eightDirs
    val kept = s"$local/t/data/log-4"
    CountingFileSystem.reset()
    val scan = store.pruned("t", Prune.Eq("uuid", 420L)).get
    assert(scan.read.get.collect().map(_.getLong(0)).toSeq == Seq(420L))
    assert(CountingFileSystem.dataDirListings == Seq(kept),
      s"listed: ${CountingFileSystem.dataDirListings}")
    val opened = CountingFileSystem.log.collect { case ("open", f) if f.contains("/data/") => f }
    assert(opened.nonEmpty && opened.forall(_.startsWith(kept + "/")), s"opened: $opened")
  }

  test("a filtered SQL SELECT lists no data dir at plan time") {
    val (_, cat, _) = eightDirs
    CountingFileSystem.reset()
    spark.sql(s"SELECT * FROM $cat.t WHERE uuid = 420").queryExecution.optimizedPlan
    assert(CountingFileSystem.dataDirListings.isEmpty,
      s"listed: ${CountingFileSystem.dataDirListings}")
  }

  test("SQL ADD COLUMNS writes no data dir") {
    val (local, cat, _) = eightDirs
    def dataDirs = new java.io.File(local, "t/data").list().toSet
    val before = dataDirs
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (note STRING)")
    assert(dataDirs == before, s"new dirs: ${dataDirs -- before}")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("uuid", "v", "tag", "note"))
  }

  test("a SQL COUNT/MIN/MAX pushdown and CBO column stats each read one manifest") {
    val local = tmpDir("graft_stats_agg_once_")
    val root = "cntfs:" + local
    implicit val s = spark
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"), ndvColumns = Seq("v"))
    (0 until 4).foreach(g => store.append("t", rows(g * 50 until (g + 1) * 50)))
    val cat = register(root)
    spark.conf.set(s"spark.sql.catalog.$cat.ndvcolumns", "v")

    // COUNT, MIN and MAX come from one snapshot in one manifest read
    val agg = spark.sql(s"SELECT COUNT(*), MIN(v), MAX(v) FROM $cat.t")
    assert(tableListings(agg, s"$local/t") == 1)
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggServe"),
      agg.queryExecution.executedPlan.toString)
    import org.apache.spark.sql.functions.{count, lit, max, min}
    assert(agg.collect().toSeq ==
      store.read("t").get.agg(count(lit(1)), min("v"), max("v")).collect().toSeq)

    // an unfiltered scan's column stats, estimate and rows share one read
    withConf("spark.sql.cbo.enabled" -> "true") {
      val all = spark.sql(s"SELECT * FROM $cat.t")
      assert(tableListings(all, s"$local/t") == 1)
      val stats = all.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(200)), s"rowCount: ${stats.rowCount}")
      assert(stats.attributeStats.exists(_._1.name == "v"),
        s"column stats for v: ${stats.attributeStats}")
    }
  }
}
