package graft

import org.apache.spark.sql.functions._

import graft.io.{ParquetDirStore, Readers, SnapshotBucketedStore}
import graft.pipeline.{Notifier, PipelineResult, SalesPipeline}
import graft.schema.SalesSchema

class PipelineSpec extends SparkSpec {

  import spark.implicits._

  /** The DEFAULT construction ([[SalesPipeline.apply]]): snapshot
    * store — what a user gets without choosing a layout. */
  private def newPipeline(root: String) = {
    implicit val s = spark
    (SalesPipeline(s"$root/warehouse", s"$root/lake", Notifier.Noop),
      new SnapshotBucketedStore(s"$root/warehouse"))
  }

  test("happy path: csv → lake parquet + 3 tables, raw deleted") {
    val root = tmpDir("pipe")
    val raw = TestSales.writeCsv(s"$root/batch1.csv", 40)
    val (pipe, store) = newPipeline(root)

    pipe.run(spark, raw) match {
      case PipelineResult.Success(processed, rows) =>
        assert(rows == 40)
        assert(spark.read.parquet(processed).count() == 40)
      case other => fail(s"expected success, got $other")
    }
    assert(!new java.io.File(raw).exists(), "raw file must be deleted (K6)")
    assert(store.read("sales").get.count() == 40)
    assert(store.read("sales_tgt").get.count() == 40)
    val summary = store.read("sales_summary").get
    assert(summary.columns.toSet ==
      Set("Country", "max_units_sold", "average_total_revenue",
        "average_total_cost", "average_total_profit"))
    assert(summary.count() == 5) // 5 distinct countries in TestSales
    // dates stored as yyyy-MM-dd strings, as the reference does (P1)
    val d = store.read("sales_tgt").get.select("OrderDate").as[String].head()
    assert(d.matches("""\d{4}-\d{2}-\d{2}"""), d)
  }

  test("a throwing notifier cannot un-decide a committed run (at-most-once contract)") {
    val root = tmpDir("pipe_notif")
    val raw = TestSales.writeCsv(s"$root/batch1.csv", 12)
    implicit val s = spark
    var calls = 0
    val bomb = new Notifier {
      def success(m: String): Unit = { calls += 1; sys.error("SNS down") }
      def failure(m: String): Unit = { calls += 1; sys.error("SNS down") }
    }
    val store = new SnapshotBucketedStore(s"$root/warehouse")
    val pipe = new SalesPipeline(store, s"$root/lake", bomb)
    // the run COMMITTED everything; the side channel's failure is
    // logged and swallowed, never reported as a pipeline failure
    pipe.run(spark, raw) match {
      case PipelineResult.Success(_, rows) => assert(rows == 12)
      case other => fail(s"notifier failure must not mask success: $other")
    }
    assert(calls == 1)
    assert(store.read("sales_tgt").get.count() == 12)
    // and on a genuinely failing run, the ORIGINAL error survives a
    // throwing failure-notifier
    pipe.run(spark, s"$root/nope.csv") match {
      case PipelineResult.Failed(err) => assert(!err.contains("SNS down"), err)
      case other => fail(s"expected failure, got $other")
    }
    assert(calls == 2)
  }

  test("re-uploading the same content does not duplicate sales_tgt (upsert invariant)") {
    val root = tmpDir("pipe")
    val (pipe, store) = newPipeline(root)
    TestSales.writeCsv(s"$root/b.csv", 25)
    assert(pipe.run(spark, s"$root/b.csv").isInstanceOf[PipelineResult.Success])
    TestSales.writeCsv(s"$root/b.csv", 25) // same content again
    assert(pipe.run(spark, s"$root/b.csv").isInstanceOf[PipelineResult.Success])
    assert(store.read("sales_tgt").get.count() == 25, "tgt deduped by uuid")
    assert(store.read("sales").get.count() == 50, "raw log appends (reference semantics)")
  }

  test("second batch updates colliding keys and adds new ones") {
    val root = tmpDir("pipe")
    val (pipe, store) = newPipeline(root)
    TestSales.writeCsv(s"$root/b1.csv", 30)
    pipe.run(spark, s"$root/b1.csv")
    // batch 2: uuids 100000020..100000049 (overlap 20..29), UnitsSold shifted
    val rows = (20 until 50).map(i => TestSales.csvRow(i).split(",")
      .updated(8, "999999").mkString(","))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/b2.csv"),
      (TestSales.header +: rows).mkString("\n").getBytes)
    pipe.run(spark, s"$root/b2.csv")
    val tgt = store.read("sales_tgt").get
    assert(tgt.count() == 50)
    // every overlapping key took the incoming row
    assert(tgt.filter($"UnitsSold" === "999999").count() == 30)
  }

  test("validation failure quarantines the file, tables untouched") {
    val root = tmpDir("pipe")
    val raw = TestSales.writeCsv(s"$root/bad.csv", 10,
      mutate = r => r.replace("/2016", "/banana"))
    val (pipe, store) = newPipeline(root)
    pipe.run(spark, raw) match {
      case PipelineResult.Quarantined(reasons, dest) =>
        assert(reasons.exists(_.contains("date")))
        assert(dest.isDefined)
        assert(new java.io.File(new java.net.URI(dest.get).getPath).exists()
          || new java.io.File(dest.get.stripPrefix("file:")).exists())
      case other => fail(s"expected quarantine, got $other")
    }
    assert(!new java.io.File(raw).exists(), "raw moved away")
    assert(store.read("sales").isEmpty && store.read("sales_tgt").isEmpty)
  }

  test("NDJSON and array-of-records JSON both ingest") {
    val root = tmpDir("pipe")
    val (pipe, store) = newPipeline(root)
    TestSales.writeNdjson(s"$root/nd.json", 15)
    TestSales.writeJsonArray(s"$root/arr.json", 15)
    assert(pipe.run(spark, s"$root/nd.json").isInstanceOf[PipelineResult.Success])
    assert(pipe.run(spark, s"$root/arr.json").isInstanceOf[PipelineResult.Success])
    assert(store.read("sales_tgt").get.count() == 15, "same uuids → deduped")
    assert(store.read("sales").get.count() == 30)
  }

  test("unsupported extension fails without side effects") {
    val root = tmpDir("pipe")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/x.xml"), "<x/>".getBytes)
    val (pipe, store) = newPipeline(root)
    pipe.run(spark, s"$root/x.xml") match {
      case PipelineResult.Failed(err) => assert(err.contains("Unsupported"))
      case other => fail(s"expected failure, got $other")
    }
    assert(store.read("sales").isEmpty)
  }

  test("plain-layout compatibility: the pipeline still runs over ParquetDirStore") {
    implicit val s = spark
    val root = tmpDir("pipe_compat")
    val raw = TestSales.writeCsv(s"$root/batch1.csv", 12)
    val pipe = new SalesPipeline(
      new ParquetDirStore(s"$root/warehouse"), s"$root/lake", Notifier.Noop)
    assert(pipe.run(spark, raw).isInstanceOf[PipelineResult.Success])
    val store = new ParquetDirStore(s"$root/warehouse")
    assert(store.read("sales_tgt").get.count() == 12)
  }

  test("crash mid-upsert on the default store leaves the previous snapshot serving") {
    implicit val s = spark
    val root = tmpDir("pipe_crash")
    // a store whose manifest commit can be killed right before the
    // rename — the largest window the protocol must survive
    var crash = false
    val store = new SnapshotBucketedStore(s"$root/warehouse") {
      override protected def beforeCommit(): Unit =
        if (crash) throw new RuntimeException("injected crash before manifest rename")
    }
    val pipe = new SalesPipeline(store, s"$root/lake", Notifier.Noop)
    TestSales.writeCsv(s"$root/b1.csv", 30)
    assert(pipe.run(spark, s"$root/b1.csv").isInstanceOf[PipelineResult.Success])
    val before = store.read("sales_tgt").get.orderBy("uuid").collect().toSeq
    // second batch dies before ANY table's commit point
    crash = true
    TestSales.writeCsv(s"$root/b2.csv", 45)
    assert(pipe.run(spark, s"$root/b2.csv").isInstanceOf[PipelineResult.Failed])
    crash = false
    assert(store.read("sales_tgt").get.orderBy("uuid").collect().toSeq == before,
      "interrupted upsert must not surface a mixed snapshot")
    assert(store.read("sales").get.count() == 30, "raw log snapshot intact")
    // the rerun converges: same batch applies cleanly after the crash
    TestSales.writeCsv(s"$root/b2.csv", 45)
    assert(pipe.run(spark, s"$root/b2.csv").isInstanceOf[PipelineResult.Success])
    assert(store.read("sales_tgt").get.count() == 45)
  }

  test("format sniffing routes array vs ndjson correctly") {
    val root = tmpDir("fmt")
    TestSales.writeNdjson(s"$root/a.json", 3)
    TestSales.writeJsonArray(s"$root/b.json", 3)
    assert(Readers.formatOf(spark, s"$root/a.json") == Readers.JsonLines)
    assert(Readers.formatOf(spark, s"$root/b.json") == Readers.JsonRecords)
    assert(Readers.formatOf(spark, s"$root/c.csv") == Readers.Csv)
    assert(Readers.formatOf(spark, s"$root/d.xml").isInstanceOf[Readers.Unsupported])
    val nd = Readers.read(spark, s"$root/a.json", SalesSchema.rawStructType)
    val arr = Readers.read(spark, s"$root/b.json", SalesSchema.rawStructType)
    assert(nd.count() == 3 && arr.count() == 3)
    assert(nd.select("uuid").collect().toSet == arr.select("uuid").collect().toSet)
  }

  test("a warm run of a 1k-row file runs a pinned number of Spark jobs") {
    val root = tmpDir("pipe_jobs")
    val (pipe, _) = newPipeline(root)
    TestSales.writeCsv(s"$root/warm.csv", 1000)
    assert(pipe.run(spark, s"$root/warm.csv").isInstanceOf[PipelineResult.Success])
    // job starts of one group, flushed by a marker job: the listener
    // bus delivers in order, so once the marker is seen every job of
    // the measured run has been counted
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("pinned-run") => jobs.incrementAndGet()
          case Some("pinned-marker") => marker.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      TestSales.writeCsv(s"$root/b.csv", 1000, r => r.replace("Atlantis", "Lemuria"))
      sc.setJobGroup("pinned-run", "measured run")
      assert(pipe.run(spark, s"$root/b.csv").isInstanceOf[PipelineResult.Success])
      sc.setJobGroup("pinned-marker", "listener flush")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // every store commit observes its metadata on its own write pass;
    // a read-back job creeping back into a commit shows up here
    assert(jobs.get == PinnedWarmJobs, s"jobs of a warm 1k-row run: ${jobs.get}")
  }

  /** Jobs of one warm 1k-row run (read, validate, lake write, append,
    * upsert, summary replace). A change that moves it must say why. */
  private val PinnedWarmJobs = 14
}
