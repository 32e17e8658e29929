package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.TableStore

/** The local filesystem with a call counter per operation kind. The
  * harness registers it as `fs.file.impl`, so every `file:` access the
  * engine makes, while planning or inside a task, is counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { statuses.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { opens.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { deletes.incrementAndGet(); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  val lists, statuses, opens, creates, renames, deletes = new AtomicLong
  private def all = Seq("fs_list" -> lists, "fs_status" -> statuses, "fs_open" -> opens,
    "fs_create" -> creates, "fs_rename" -> renames, "fs_delete" -> deletes)
  /** Counts since the last call, by name. */
  def take(): Seq[(String, Double)] = all.map { case (k, c) => k -> c.getAndSet(0).toDouble }
}

/** A named interval of one unit, in epoch milliseconds. */
final case class Span(name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def covers(t: Long): Boolean = t >= startMs && t <= endMs
}

private final class Job(val startMs: Long, @volatile var endMs: Long)

/** Records spans from the harness, Spark jobs, stages and tasks from a
  * SparkListener, and Catalyst phase times from a QueryExecutionListener,
  * then folds them into one flat record per unit. Attached only while a
  * traced pass runs. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new AtomicLong
  private val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Long]]()
  private val spans = mutable.ArrayBuffer[Span]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Drops whatever was recorded before a unit starts. */
  def begin(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    jobs.clear(); stages.set(0); tasks.clear(); phases.clear(); spans.clear()
    CountingLocalFileSystem.take()
  }

  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally spans += Span(name, t0, System.currentTimeMillis())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, new Job(e.time, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add((m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit =
    phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })

  /** Folds everything recorded since the last call into one unit
    * record, then clears it. `unit` is the unit's own span. */
  def take(unit: Span): Seq[(String, Double)] = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val js = jobs.values.asScala.toSeq.sortBy(_.startMs)
    jobs.clear()
    def jobsIn(names: String*) = {
      val ss = spans.filter(s => names.contains(s.name))
      js.count(j => ss.exists(_.covers(j.startMs))).toDouble
    }
    def secondsIn(names: String*) = spans.filter(s => names.contains(s.name)).map(_.seconds).sum
    // time with at least one job running: the union of job intervals
    var busy, reach = 0L
    js.foreach { j =>
      val from = math.max(j.startMs, reach)
      if (j.endMs > from) { busy += j.endMs - from; reach = j.endMs }
    }
    val ts = Iterator.continually(tasks.poll()).takeWhile(_ != null).toSeq
    val ph = Iterator.continually(phases.poll()).takeWhile(_ != null).toSeq
    def phase(k: String) = ph.map(_.getOrElse(k, 0L)).sum / 1000.0
    val io = Seq("append", "upsert", "replace", "read").flatMap { op =>
      Seq(s"io.${op}_s" -> secondsIn(s"io.$op"), s"io.${op}_jobs" -> jobsIn(s"io.$op"))
    }
    val ioSeconds = Seq("append", "upsert", "replace", "read").map(op => secondsIn(s"io.$op")).sum
    val out = Seq(
      "queries.build_s" -> secondsIn("build"),
      "queries.build_jobs" -> jobsIn("build"),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.s" -> busy / 1000.0,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> stages.getAndSet(0).toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_s" -> ts.map(_._1).sum / 1000.0,
      "exec.gc_s" -> ts.map(_._2).sum / 1000.0,
      "exec.shuffle_bytes" -> ts.map(_._3).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_._4).sum.toDouble,
      "pipeline.self_s" -> (if (spans.exists(_.name == "pipeline")) unit.seconds - ioSeconds else 0.0),
    ) ++ io ++ CountingLocalFileSystem.take().map { case (k, v) => s"io.$k" -> v }
    spans.clear()
    out
  }
}

/** A [[TableStore]] that times each call the pipeline makes into the
  * store it wraps. */
final class TracedStore(inner: TableStore, tracer: Tracer) extends TableStore {
  def read(name: String): Option[DataFrame] = tracer.span("io.read")(inner.read(name))
  def append(name: String, df: DataFrame): Unit = tracer.span("io.append")(inner.append(name, df))
  def replace(name: String, df: DataFrame): Unit = tracer.span("io.replace")(inner.replace(name, df))
  override def upsert(name: String, incoming: DataFrame, key: String)(implicit s: SparkSession): Unit =
    tracer.span("io.upsert")(inner.upsert(name, incoming, key))
}
