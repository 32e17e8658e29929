package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.io.{SnapshotBucketedStore, TableStore}
import graft.pipeline.{Notifier, PipelineResult, SalesPipeline}

/** One benchmark run in one JVM, driven by a JSON plan that `run.py`
  * writes: set up the session, run one cold pass over the workload's
  * units, dump their outputs for the checker, then run warm passes until
  * the measuring time is spent. One closed-loop client: one unit (a
  * query or an input file) at a time. The raw samples go to the plan's
  * `result` file; `run.py` turns them into metrics.
  *
  * The untimed dump sits between the cold and the warm passes: for the
  * queries it runs every unit once more, which lets JIT compilation
  * settle before warm timing starts (warm pass times still fell by a
  * fifth over the first three passes without it).
  *
  * Usage: Harness <plan.json> */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Sample(pass: Int, traced: Boolean, name: String, seconds: Double,
      error: Option[String], rows: Long, trace: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readValue(new File(args(0)), classOf[java.util.Map[String, Object]]).asScala.toMap
    def str(k: String) = plan(k).toString
    def num(k: String) = plan(k).toString.toDouble
    val workload = str("workload")
    val units = plan("units").asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq
    val traced = plan("trace") == java.lang.Boolean.TRUE
    val cores = num("cores").toInt

    val catalog = SparkEntry.queries
    val isSales = workload == "sales_ingest"
    val missing = if (isSales) Nil else units.filterNot(catalog.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${missing.mkString(", ")}")
      sys.exit(2)
    }

    // set-up: from JVM start until the session is ready and warmed up
    val spark = session(plan, cores, traced)
    val setupSeconds = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val heap = new HeapWatch
    heap.sample()
    val calib = calibrate(spark, cores)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val work = Paths.get(str("work"))
    val data = str("data")
    val samples = mutable.ArrayBuffer[Sample]()
    val order = new scala.util.Random(num("seed").toLong)
    val rowsOf: Map[String, Long] =
      if (isSales) plan("expect").asInstanceOf[java.util.Map[String, Object]].asScala.toMap
        .map { case (k, v) => k -> v.toString.toLong }
      else Map.empty

    var coldStore: Option[TableStore] = None
    def runPass(pass: Int, tracing: Boolean): Double = {
      val t = if (tracing) tracer else None
      t.foreach(_.attach())
      // untimed pass set-up: a fresh warehouse, lake and raw directory
      val pipeline = if (isSales) {
        val dir = work.resolve(s"pass$pass")
        val raw = dir.resolve("raw")
        Files.createDirectories(raw)
        units.foreach(f => Files.copy(Paths.get(str("inputs"), f), raw.resolve(f),
          StandardCopyOption.REPLACE_EXISTING))
        val inner = new SnapshotBucketedStore(dir.resolve("warehouse").toString)(spark)
        if (pass == 0) coldStore = Some(inner)
        val store = t.fold[TableStore](inner)(new TracedStore(inner, _))
        Some(new SalesPipeline(store, dir.resolve("lake").toString, Notifier.Noop))
      } else None
      // queries run in a seeded order per warm pass; files always
      // arrive in plan order, since keep-last depends on it
      val names = if (pass == 0 || isSales) units else order.shuffle(units)
      var wall = 0.0
      names.foreach { name =>
        t.foreach(_.begin())
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val (error, rows) = try pipeline match {
          case Some(p) =>
            val path = work.resolve(s"pass$pass").resolve("raw").resolve(name).toString
            val res = t.fold(p.run(spark, path))(_.span("pipeline")(p.run(spark, path)))
            (res, rowsOf(name)) match {
              case (PipelineResult.Success(_, n), want) if n == want => (None, n)
              case (PipelineResult.Quarantined(_, _), -1L) => (None, 0L)
              case (PipelineResult.Failed(msg), _) => (Some(s"PipelineResult.Failed: $msg"), 0L)
              case (other, want) => (Some(s"UnexpectedOutcome: $other, expected ${
                if (want < 0) "quarantine" else s"$want rows"}"), 0L)
            }
          case None =>
            val fn = catalog(name)
            val df: DataFrame = t.fold(fn(spark, data))(_.span("build")(fn(spark, data)))
            df.write.format("noop").mode("overwrite").save()
            (None, 0L)
        } catch {
          case NonFatal(e) => (Some(s"${e.getClass.getName}: ${firstLine(e.getMessage)}"), 0L)
        }
        val seconds = (System.nanoTime() - n0) / 1e9
        wall += seconds
        val rec = t.fold(Map.empty[String, Double])(_.take(Span("unit", t0, System.currentTimeMillis())).toMap)
        samples += Sample(pass, tracing, name, seconds, error, rows, rec)
        System.err.println(f"[perfbench] $workload pass $pass%d ${if (pass == 0) "cold" else "warm"}" +
          f"${if (tracing) " traced" else ""} $name ${seconds}%.3fs ${error.fold("ok")("FAILED " + _)}")
      }
      t.foreach(_.detach())
      wall
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    passes += Map("pass" -> 0, "traced" -> false, "seconds" -> runPass(0, tracing = false))
    heap.sample()

    // untimed output dump for the checker, from the cold pass
    val check = Paths.get(str("check"))
    val checkErrors = mutable.LinkedHashMap[String, String]()
    if (isSales) coldStore.foreach { store =>
      for (t <- Seq("sales_tgt", "sales_summary")) try
        store.read(t).get.coalesce(1).write.mode("overwrite").parquet(check.resolve(t).toString)
      catch { case NonFatal(e) => checkErrors(t) = s"${e.getClass.getName}: ${firstLine(e.getMessage)}" }
    } else {
      units.foreach { name =>
        try catalog(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(check.resolve(name).toString)
        catch { case NonFatal(e) => checkErrors(name) = s"${e.getClass.getName}: ${firstLine(e.getMessage)}" }
      }
      val oracle = SparkEntry.oracleSql
      Files.writeString(check.resolve("oracle_sql.json"),
        mapper.writeValueAsString(units.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    }
    heap.sample()
    val minWarm = num("min_warm_passes").toInt
    val minUnits = num("min_warm_units").toInt
    def warmSamples = samples.count(u => u.pass > 0 && !u.traced && u.error.isEmpty)
    var spent = 0.0
    var pass = 1
    // traced runs interleave untraced and traced warm passes as u t t u,
    // so the tracing overhead is measured in the same JVM without the
    // passes' own speed-up favouring either side
    while (spent < num("seconds") || pass <= minWarm || warmSamples < minUnits) {
      val tracing = traced && pass % 4 >= 2
      val s = runPass(pass, tracing)
      spent += s
      passes += Map("pass" -> pass, "traced" -> tracing, "seconds" -> s)
      pass += 1
    }

    spark.stop()

    val result = Map(
      "setup_s" -> setupSeconds,
      "calib_s" -> calib,
      "peak_heap_mb" -> heap.peakMb,
      "cores" -> cores,
      "passes" -> passes,
      "units" -> samples.map(u => Map("pass" -> u.pass, "traced" -> u.traced, "name" -> u.name,
        "seconds" -> u.seconds, "error" -> u.error.orNull, "rows" -> u.rows, "trace" -> u.trace)),
      "check_errors" -> checkErrors,
    )
    Files.writeString(Paths.get(str("result")), mapper.writeValueAsString(result))
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("").take(300)).getOrElse("")

  /** A local session configured as the engine's own mains configure
    * theirs, plus an untimed warm-up so session plumbing (codegen,
    * parquet reader, committer) is not charged to the first unit. */
  def session(plan: Map[String, Object], cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", plan("work").toString + "/spark-local")
      .config("spark.sql.warehouse.dir", plan("work").toString + "/spark-warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val warm = plan("work").toString + "/warm-up"
    spark.range(0, 1000, 1, cores).selectExpr("id % 5 AS k", "id AS v")
      .write.mode("overwrite").parquet(warm)
    spark.read.parquet(warm).groupBy("k").count().write.format("noop").mode("overwrite").save()
    spark
  }

  /** The box-speed canary: a fixed CPU loop and a fixed Spark job. Its
    * time moves only when the machine does, not the engine. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    var h = 1L
    var i = 0
    while (i < 200000000) { h = h * 6364136223846793005L + i; i += 1 }
    spark.range(0, 4000000, 1, cores).selectExpr("sum(hash(id) % 1000)").collect()
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42) System.err.println("") // keeps the loop from being optimised away
    s
  }
}

/** The largest live heap: heap in use right after a full collection,
  * taken after set-up, after the cold pass and after the output dump,
  * outside the timed region. These points run the units in a fixed
  * order; after a warm pass, what stays live depends on which query
  * ran last (seen: 83 or 152 MiB on the same code). Sampling the heap
  * mid-run would mostly report how full the young generation happened
  * to be. The second collection runs after Spark's ContextCleaner has
  * had time to drop what the first one found unreachable. */
final class HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
