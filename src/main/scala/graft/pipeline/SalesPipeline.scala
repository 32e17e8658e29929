package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{FileOps, Readers, TableStore}
import graft.ops.Summary
import graft.schema.SalesSchema
import graft.validate.Validator

/** Out-of-engine notification side channel (reference K7, SNS publish,
  * /root/reference/lambda.py:251-265).
  *
  * DELIVERY CONTRACT (stated, since the seam hides a network call in
  * production): notification is BEST-EFFORT, AT-MOST-ONCE, and
  * NON-TRANSACTIONAL with the data commits it describes — the
  * pipeline's state transitions (lake write, log append, upsert,
  * summary replace, raw delete) are decided by the store commits
  * alone, and a notifier that THROWS must not un-decide them, so
  * [[SalesPipeline]] invokes these AFTER the terminal state is
  * reached and swallows notifier failures into the log (the
  * reference behaves the same: a failed SNS publish does not roll
  * back the warehouse write, lambda.py:251-265). Implementations
  * wanting more (retry with backoff, DLQ, outbox) own it INSIDE
  * their impl; anything stronger than at-most-once needs an outbox
  * table written in the same store commit as the data — the seam
  * deliberately does not fake that. */
trait Notifier {
  def success(message: String): Unit
  def failure(message: String): Unit
}
object Notifier {
  /** Default: log-only (the sandbox has no SNS). */
  object Logging extends Notifier {
    def success(m: String): Unit = System.err.println(s"[graft:notify] SUCCESS $m")
    def failure(m: String): Unit = System.err.println(s"[graft:notify] FAILURE $m")
  }
  object Noop extends Notifier {
    def success(m: String): Unit = ()
    def failure(m: String): Unit = ()
  }
}

sealed trait PipelineResult
object PipelineResult {
  final case class Success(processedPath: String, rows: Long) extends PipelineResult
  final case class Quarantined(reasons: Seq[String], quarantinePath: Option[String]) extends PipelineResult
  final case class Failed(error: String) extends PipelineResult
}

/** The full reference pipeline, step-for-step
  * (/root/reference/lambda.py:204-266, SURVEY.md §3):
  *
  *   read → validate → [quarantine | parquet lake → append raw log →
  *   upsert target → replace summary] → delete raw → notify.
  *
  * Spark-first shape: the batch frame is cached once (it feeds four
  * sinks); every sink write is a distributed job; the only driver-side
  * work is control flow.
  */
final class SalesPipeline(
    store: TableStore,
    lake: String,
    notifier: Notifier = Notifier.Logging,
    summaryFromTarget: Boolean = false,
) {

  def run(spark: SparkSession, rawPath: String): PipelineResult =
    try {
      // STEP 1: read (S2–S5); strings-first so bad cells become
      // validation errors, not reader crashes.
      val raw = Readers.read(spark, rawPath, SalesSchema.rawStructType)
      process(spark, raw, rawPath)
    } catch {
      case e: Exception =>
        notify(notifier.failure(s"Processing of $rawPath failed: ${e.getMessage}"))
        PipelineResult.Failed(e.getMessage)
    }

  /** Steps 2–6 on an already-read raw frame — shared by the batch
    * entry ([[run]]) and the streaming `foreachBatch` fan-out
    * ([[graft.streaming.StreamingSalesPipeline]]), so both execution
    * models have literally the same per-file semantics. */
  def process(spark: SparkSession, raw: DataFrame, rawPath: String): PipelineResult = {
    val stamp = FileOps.runStamp()
    try {
      // STEP 2: validate (V1–V4) — errors as data + typed frame.
      val report = Validator.validate(raw)
      if (!report.isValid) {
        val dest = FileOps.quarantine(spark, rawPath, lake, stamp)
        // The reference does NOT notify on validation failure — only on
        // exceptions (SURVEY.md §3.2's asymmetry), reproduced here.
        return PipelineResult.Quarantined(report.errors, dest)
      }
      val batch = report.typed.cache()
      val rows = batch.count()

      // STEP 3: land the typed batch in the lake (K1).
      val processedPath = FileOps.writeProcessed(batch, lake, stamp, rawPath)

      // STEP 4: warehouse updates. Dates go back out as strings, as the
      // reference's MySQL layer stores them (lambda.py:167-169).
      val out = SalesSchema.dateColumns.foldLeft(batch) { (df, c) =>
        df.withColumn(c, date_format(col(c), SalesSchema.outputDateFormat))
      }
      store.append("sales", out) // K2 raw log
      // K3: keyed upsert — O(touched-buckets) with ONE-rename atomic
      // commits on the default [[SnapshotBucketedStore]]
      // ([[SalesPipeline.apply]]); the reference's full-rewrite
      // semantics survive behind any other [[TableStore]] a caller
      // passes explicitly (docs/SCALE.md §2).
      store.upsert("sales_tgt", out, SalesSchema.keyColumn)(spark)

      val summarySource =
        if (summaryFromTarget) store.readOrEmpty("sales_tgt", out.schema)(spark) else out
      store.replace("sales_summary", Summary.countrySummary(summarySource)) // K4

      // STEP 5: drop the raw file (K6; errors swallowed inside).
      FileOps.deleteRaw(spark, rawPath)

      // STEP 6: notify (K7). After this point the run's outcome is
      // decided by the commits above — the notifier cannot un-decide
      // it (the [[Notifier]] delivery contract).
      batch.unpersist()
      notify(notifier.success(
        s"Processed $rawPath ($rows rows) → $processedPath"))
      PipelineResult.Success(processedPath, rows)
    } catch {
      case e: Exception =>
        notify(notifier.failure(s"Processing of $rawPath failed: ${e.getMessage}"))
        PipelineResult.Failed(e.getMessage)
    }
  }

  /** The at-most-once guard of the [[Notifier]] contract: a throwing
    * notifier must never convert a COMMITTED run into a reported
    * failure (or mask the original error of a failed one) — the side
    * channel's own failure is logged and swallowed. */
  private def notify(f: => Unit): Unit =
    try f catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft:notify] notifier failed (swallowed): ${e.getMessage}")
    }
}

object SalesPipeline {

  /** The DEFAULT warehouse for a root path: the snapshot store —
    * every table commit (log append, keyed upsert, summary replace)
    * is ONE manifest rename, so a crash anywhere mid-run leaves the
    * previous complete snapshot serving, never a mixed state. The
    * plain-layout [[graft.io.ParquetDirStore]] remains constructible
    * explicitly for plain-directory layout compatibility — its
    * replace deletes the live dir before renaming the staged one in,
    * so it has no single commit point. */
  def defaultStore(warehouseRoot: String)(
      implicit spark: SparkSession): TableStore =
    new graft.io.SnapshotBucketedStore(warehouseRoot)

  /** Pipeline over the default (snapshot) warehouse at
    * `warehouseRoot` — the recommended construction; pass a
    * [[TableStore]] to the class constructor only when the layout
    * compatibility trade is deliberate. */
  def apply(warehouseRoot: String, lake: String,
      notifier: Notifier = Notifier.Logging,
      summaryFromTarget: Boolean = false)(
      implicit spark: SparkSession): SalesPipeline =
    new SalesPipeline(defaultStore(warehouseRoot), lake, notifier,
      summaryFromTarget)
}
