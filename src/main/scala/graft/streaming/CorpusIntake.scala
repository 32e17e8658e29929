package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.llm.TextOps

/** Streaming training-corpus intake — the LLM-side twin of
  * [[StreamingSalesPipeline]]: documents arrive continuously and each
  * micro-batch flows through
  *
  *   content-fingerprint dedup (watermark-bounded, first arrival
  *   wins — the at-least-once transport guard at the 60-bit content
  *   grain, so a re-sent or re-crawled identical document is dropped
  *   on intake)
  *     → PII scrub ([[TextOps.redactPii]])
  *     → quality gate ([[TextOps.qualityKeep]])
  *     → atomic append to a [[graft.io.TableStore]]
  *
  * Everything before the sink is map-side except the dedup's id-state
  * shuffle; with a [[graft.io.SnapshotBucketedStore]] sink each batch
  * commit is a single manifest rename, so a crash mid-drain leaves the
  * previous complete corpus snapshot. Intake dedup is TRANSPORT-level
  * (exact content, bounded state); the full-history batch operators
  * ([[graft.llm.Dedup]], [[graft.llm.Corpus]]) remain the periodic
  * compaction pass that catches near-dups and cross-watermark dups.
  */
object CorpusIntake {

  /** The pure streaming transform (source- and sink-agnostic; also
    * runs on batch frames via Spark's unified API — minus the
    * within-watermark dedup, which is streaming-only).
    *
    * `stripMarkup = true` prepends the X171 WET extraction
    * ([[TextOps.stripMarkup]]) — the crawl-intake order: markup goes
    * FIRST so the dedup fingerprint is taken over the PROSE (two
    * pages with identical text under different chrome are the same
    * document) and the PII scrub and quality gate see text, not
    * tags. Off by default: pre-extracted corpora must keep their
    * bytes untouched. */
  def transform(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      watermarkDelay: String = "1 hour",
      stripMarkup: Boolean = false,
  ): DataFrame = {
    val src =
      if (stripMarkup)
        docs.withColumn(textCol, TextOps.stripMarkup(col(textCol)))
      else docs
    src
      .withColumn("_fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .withColumn(textCol, TextOps.redactPii(col(textCol)))
      .filter(TextOps.qualityKeep(col(textCol)))
      .drop("_fp")
  }

  /** Drain everything currently available into `store` table `table`
    * (AvailableNow — the batch-drain run mode), committing per
    * micro-batch. Returns when the drain finishes. */
  def drainTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      checkpoint: String,
      tsCol: String = "ts",
      textCol: String = "text",
      watermarkDelay: String = "1 hour",
      stripMarkup: Boolean = false,
  ): Unit = {
    val q = transform(docs, tsCol, textCol, watermarkDelay, stripMarkup)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      // appendIfNew: a crash after the store's manifest commit but
      // before the streaming checkpoint commit replays this epoch —
      // the store recognizes the batch id and skips, keeping the
      // intake exactly-once (for SnapshotBucketedStore sinks; plain
      // stores degrade to at-least-once, caught by compaction dedup)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.appendIfNew(table, batch, batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** The persisted content-fingerprint column [[drainDedupedTo]]
    * stamps on every stored row. Part of that drain's table contract:
    * the history side of the dedup reads THIS column, never the text. */
  val FpCol = "_fp"

  /** [[drainTo]] with HISTORIC dedup: the watermark-bounded intake
    * dedup catches transport replays inside the delay window — a
    * re-crawl of the same document arriving DAYS later sails past it
    * and re-enters the corpus (state for its fingerprint was evicted
    * with the watermark). This drain additionally anti-joins each
    * micro-batch's content fingerprints against the fingerprints of
    * everything ALREADY IN the table — the corpus itself is the dedup
    * state, so there is no side fingerprint table to drift and the
    * exactly-once append stays a single atomic commit. Fingerprints
    * compare post-scrub on both sides (the stored text is the
    * scrubbed text; scrubbing is deterministic, so identical raw
    * inputs still collide).
    *
    * Scale: the fingerprint is MATERIALIZED as a stored [[FpCol]]
    * column at append time (one map-side projection on the new rows —
    * fingerprinting is deterministic, so append-side stamping costs
    * nothing it wouldn't cost at read), so the history side of every
    * later batch is a true 8-bytes-per-row columnar scan: parquet
    * prunes to the one fp column (spec-pinned via ReadSchema) and, on
    * a bucketed store, to live generations only — never a re-read of
    * the corpus text. In front of the exact anti-join sits a
    * [[graft.ops.Bloom]] prefilter built over the BATCH's
    * fingerprints (constant-size driver hop, like the IVF centroid
    * hop): history fps are probed MAP-SIDE during that columnar scan,
    * so the distinct+anti-join shuffle sees only fps that might match
    * the batch (≈ |batch| × fpp + true dups), not |corpus| rows.
    * False positives only cost unpruned rows; the anti-join stays
    * exact. Net per-batch cost: O(batch) compute + one fp-column
    * scan, versus the full text re-read + corpus-sized shuffle the
    * naive form pays.
    *
    * Schema discipline — a table is either stamped or not, NEVER
    * mixed (merged-schema reads would fill legacy rows' fp with null
    * and the anti-join would silently miss their dups): a fresh table
    * starts stamped; a legacy table (created by a pre-fp version of
    * this drain) keeps appending UNSTAMPED rows and pays the old
    * derive-from-text history read — correct, just slow — until a
    * one-time [[migrateFpColumn]] rewrite flips it to the fast path.
    * Don't mix this drain with [[drainTo]] on ONE table. */
  def drainDedupedTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      checkpoint: String,
      tsCol: String = "ts",
      textCol: String = "text",
      watermarkDelay: String = "1 hour",
      bloomExpectedItems: Long = 1000000L,
  ): Unit = {
    val q = transform(docs, tsCol, textCol, watermarkDelay).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // stamp iff the table is fresh or already stamped — one
        // schema lookup per batch (the snapshot store's is its
        // manifest's recorded schema)
        val existingCols = store.schema(table).map(_.fieldNames.toSeq)
        val tableStamped = existingCols.forall(_.contains(FpCol))
        val stamped = batch.withColumn(FpCol, TextOps.fingerprint(col(textCol)))
        // DIR-level prefilter (the tier ABOVE the map-side batch
        // Bloom): when the store records per-generation key Blooms
        // for the fp column (construct it with `keyColumns =
        // Seq(CorpusIntake.FpCol)`), probe them with THIS batch's
        // fingerprints first — generation dirs that provably never
        // saw any of them aren't even opened, so the history scan
        // touches ~the dirs that ever wrote a colliding fp instead
        // of every generation ever appended. Driver-bounded: a batch
        // with > 10000 distinct fps skips the probe (the map-side
        // Bloom below still prunes row-wise). Conservative by the
        // Bloom contract — a kept dir is a superset, the anti-join
        // stays exact, so admit/reject decisions are IDENTICAL with
        // the prefilter on or off (spec-pinned).
        val probeFps: Option[Seq[Any]] = store match {
          case _: graft.io.SnapshotBucketedStore if tableStamped =>
            val vals = stamped.select(FpCol).distinct().limit(10001)
              .collect().map(_.get(0)).toSeq
            if (vals.length > 10000) None else Some(vals)
          case _ => None
        }
        val deduped = historyFingerprints(store, table, textCol, probeFps) match {
          case Some(seen) =>
            // Bloom over the batch side (the small side): the filter
            // embeds as a literal in the history scan's filter, so
            // corpus fps are pruned map-side before they ever reach
            // the distinct/anti-join shuffle
            val bf = graft.ops.Bloom.buildKeyFilter(
              stamped.select(FpCol), FpCol, bloomExpectedItems)
            val candidates = seen
              .filter(graft.ops.Bloom.mightContain(bf, col(FpCol)))
              .distinct()
            stamped.join(candidates, Seq(FpCol), "left_anti")
          case None => stamped
        }
        val fresh = if (tableStamped) deduped else deduped.drop(FpCol)
        store.appendIfNew(table, fresh, batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** The history side of [[drainDedupedTo]]'s anti-join: one [[FpCol]]
    * column, straight from storage when the table carries it (the
    * 8-byte columnar scan), derived from the stored text only for
    * legacy tables written before the column existed. Factored out so
    * the scan shape is testable — the spec asserts the parquet
    * ReadSchema is the fp column alone. */
  def historyFingerprints(
      store: graft.io.TableStore,
      table: String,
      textCol: String,
      probeFps: Option[Seq[Any]] = None,
  ): Option[DataFrame] = {
    // with a probe set and a snapshot store, read only the generation
    // dirs whose recorded fp Bloom might contain ≥ 1 batch fp — a
    // conservative superset of the matchable history (the caller's
    // anti-join supplies exactness); stores without fp keyColumns (or
    // legacy unstamped tables) degrade to the full read through
    // Prune.EqAny's keep-all path
    val hist = (store, probeFps) match {
      case (s: graft.io.SnapshotBucketedStore, Some(fps)) =>
        s.pruned(table, graft.io.Prune.EqAny(FpCol, fps)).flatMap(_.read)
      case _ => store.read(table)
    }
    hist.map { existing =>
      if (existing.columns.contains(FpCol)) existing.select(col(FpCol))
      else existing.select(TextOps.fingerprint(col(textCol)).as(FpCol))
    }
  }

  /** One-time legacy-table migration to the stamped fast path: rewrite
    * the table with [[FpCol]] materialized (one full read + replace —
    * the cost one history scan of the slow path already pays, spent
    * once instead of every batch). No-op (false) when the table is
    * missing or already stamped. The store's replace keeps the
    * streaming batch mark, so an in-flight drain checkpoint stays
    * valid across the migration. */
  def migrateFpColumn(
      store: graft.io.TableStore,
      table: String,
      textCol: String = "text",
  ): Boolean =
    store.read(table) match {
      case Some(df) if !df.columns.contains(FpCol) =>
        store.replace(table,
          df.withColumn(FpCol, TextOps.fingerprint(col(textCol))))
        true
      case _ => false
    }

  /** [[drainTo]] with the MODEL-BASED quality gate in place of the
    * heuristic one: each micro-batch is scored against FROZEN
    * reference-corpus statistics ([[graft.llm.CorpusStats
    * .fitCorpusStats]] artifacts — fit once on the governed corpus,
    * served here) and only documents with
    * score ≥ `minScore` land. Scoring a batch against its own
    * statistics would let a junk-heavy drop redefine "rare" for
    * itself — the frozen split is what makes a PER-BATCH gate mean
    * the same thing as the batch-mode [[graft.llm.CorpusStats
    * .scoreFilter]]: every signal depends only on the document and
    * the artifacts, so the streamed corpus equals the one-shot
    * filtered corpus EXACTLY (spec-pinned), batch boundaries
    * invisible. Same exactly-once sink discipline as [[drainTo]].
    *
    * The artifacts are plain DataFrames (typically
    * `store.read("corpus_stats_*")`) — read once, reused across
    * batches; broadcastable when the reference vocabulary is. */
  def drainScoredTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      refFreq: DataFrame,
      refShared: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minScore: Double = graft.llm.CorpusStats.DefaultQualityThreshold,
      weights: Seq[(String, Double)] = graft.llm.CorpusStats.DefaultQualityWeights,
      bias: Double = graft.llm.CorpusStats.DefaultQualityBias,
  ): Unit = {
    import graft.llm.CorpusStats
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keepers = CorpusStats.qualityScore(
            CorpusStats.docSignalsFrozen(batch, refFreq, refShared,
              idCol, textCol),
            weights, bias)
          .filter(col("score") >= minScore)
          .select(col(idCol))
        store.appendIfNew(table,
          batch.join(keepers, Seq(idCol), "left_semi"), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** [[drainScoredTo]] with a FITTED model (X161) instead of hand-set
    * weights: each micro-batch's frozen-statistics signals are scored
    * by [[graft.llm.QualityFit.scoreDetScaled]] — the EXACT rational
    * decision ŷ ≥ thresholdNum/thresholdDen evaluated integer-only by
    * cross-multiplication (default ½: keep ⟺ 2·score_num ≥ den, the
    * q120 decision line), so the streamed gate is bit-identical to
    * the batch q120 decision, not merely close in doubles. The fit
    * itself must come from
    * [[graft.llm.QualityFit.fit]] over signals built against the SAME
    * frozen (refFreq, refShared) artifacts being served here — fit
    * and serve share one statistic source or the decision boundary
    * silently shifts (the X134 rule, stated loudly). Feature columns
    * the fit references must exist in the frozen signal matrix.
    * Same exactly-once discipline as [[drainTo]]; batch ≡ stream is
    * spec-pinned (CorpusIntakeSpec). */
  def drainFitGatedTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      refFreq: DataFrame,
      refShared: DataFrame,
      fit: graft.llm.QualityFit.Fit,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdNum: Long = 1L,
      thresholdDen: Long = 2L,
  ): Unit = {
    import graft.llm.{CorpusStats, QualityFit}
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sig = CorpusStats.docSignalsFrozen(batch, refFreq, refShared,
          idCol, textCol)
        val keepers = QualityFit
          .scoreDetScaled(sig, fit, idCol, thresholdNum, thresholdDen)
          .filter(col("keep"))
          .select(col(idCol))
        store.appendIfNew(table,
          batch.join(keepers, Seq(idCol), "left_semi"), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** [[drainTo]] with the TRIGRAM-LM PERPLEXITY BAND gate (X210 —
    * the CCNet middle-of-the-distribution keep rule, streamed): each
    * micro-batch is scored against a FROZEN Stupid Backoff model
    * ([[graft.llm.NgramLm.fit]] over the reference corpus — counts
    * localCheckpointed at fit, reused across batches) and a document
    * lands iff its mean score-bits sits in [lo, hi] — drop the
    * improbable tail (junk) and, with a finite hi, the too-probable
    * head (boilerplate). Frozen-model soundness, same argument as
    * [[drainScoredTo]]: every score depends only on the document and
    * the artifact (hashed gram counts + one total), so the streamed
    * corpus equals the one-shot batch [[graft.llm.NgramLm
    * .bandFilter]] BIT-FOR-BIT, batch boundaries invisible
    * (spec-pinned) — scoring a batch against its own counts would
    * let a junk-heavy drop redefine "probable" for itself. The score
    * is pure integer until one final IEEE division, so the gate
    * decision replays identically in both engines and across replays.
    * Same exactly-once sink discipline as [[drainTo]]. */
  def drainLmBandTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      model: graft.llm.NgramLmModel,
      lo: Double,
      hi: Double,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      penaltyBits: Int = 2,
  ): Unit = {
    require(lo <= hi, s"lo ($lo) must be <= hi ($hi)")
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keepers = graft.llm.NgramLm
          .docScores(batch, model, idCol, textCol, penaltyBits)
          .filter(col("mean_bits") >= lo && col("mean_bits") <= hi)
          .select(col(idCol))
        store.appendIfNew(table,
          batch.join(keepers, Seq(idCol), "left_semi"), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** [[drainTo]] with the FITTED-TOKENIZER gate (X162): each
    * micro-batch is segmented under a FROZEN unigram-LM model table
    * ([[graft.llm.UnigramLm.fit]] output, served by
    * [[graft.llm.UnigramLm.segment]]) and a document lands iff
    *
    *   n_pieces ≥ minPieces  AND
    *   total_cost · costDen ≤ costNum · n_pieces
    *
    * — the second clause is the exact-integer form of "mean bits per
    * piece ≤ costNum/costDen", the unigram-LM perplexity filter:
    * junk text segments into many rare, costly pieces, prose into
    * few cheap ones (CompressionSignalSpec's sibling signal, q130's
    * total_cost column thresholded). Cross-multiplied longs — no
    * doubles, so the stream gate is bit-identical to running the
    * same rule over the whole corpus in batch (spec-pinned: batch ≡
    * stream piece-fingerprint equality, batch boundaries invisible —
    * every quantity depends only on the document and the frozen
    * model). The model table collects ≤ vocabSize + |charset| rows
    * once on the driver and rides every batch's plan as a
    * constant-folded map literal; same exactly-once sink discipline
    * as [[drainTo]]. */
  /** The quarantine-side attribution column [[drainScreenedTo]]
    * stamps: the sorted distinct blocklist terms that blocked the
    * document — WHY a row was dropped, recorded where an auditor can
    * query it (the K5 quarantine discipline applied to content). */
  val BlockedTermsCol = "_blocked_terms"

  /** [[drainTo]] with the BLOCKLIST gate (X219 streamed — the
    * banned-term screen that runs FIRST over raw crawl): each
    * micro-batch's texts take ONE compiled Aho–Corasick pass
    * ([[graft.expr.BlocklistHits]] — O(|text| + hits) per row
    * regardless of blocklist size, the automaton built once per
    * executor from the broadcast term list); clean documents
    * (zero hits) append to `table`, hit documents are NOT silently
    * dropped — they land in `quarantineTable` with the matched terms
    * as [[BlockedTermsCol]], the drop-attribution an auditable
    * pipeline must keep (the reference's quarantine move,
    * lambda.py:131-139, at the content grain).
    *
    * Frozen-artifact soundness, the gate family's shared argument:
    * the decision depends only on the document and the frozen term
    * list, so the streamed split equals the one-shot batch split
    * BIT-FOR-BIT — batch boundaries invisible (spec-pinned). Match
    * semantics are [[graft.expr.BlocklistHits]]'s, stated there:
    * substring on code units, no folding (compose `lower`/normalize
    * upstream), overlaps all surface.
    *
    * Exactly-once across TWO tables: both appends share the epoch's
    * batchId and [[graft.io.TableStore.appendIfNew]] is idempotent
    * per (table, batchId) — a crash between the clean append and the
    * quarantine append replays the epoch, the clean table recognizes
    * the batch mark and skips, the quarantine table lands its half;
    * no row is ever double-counted on either side. */
  def drainScreenedTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      quarantineTable: String,
      terms: Seq[String],
      checkpoint: String,
      textCol: String = "text",
  ): Unit = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hits = batch.withColumn(BlockedTermsCol,
          graft.expr.BlocklistHits.blocklistHits(col(textCol), terms))
        store.appendIfNew(table,
          hits.filter(size(col(BlockedTermsCol)) === 0)
            .drop(BlockedTermsCol), batchId): Unit
        store.appendIfNew(quarantineTable,
          hits.filter(size(col(BlockedTermsCol)) > 0), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** The quarantine-side drift score [[drainDriftGatedTo]] stamps:
    * the batch's PSI against the frozen reference — WHY a whole
    * micro-batch was diverted, queryable by an auditor. */
  val BatchPsiCol = "_batch_psi"

  /** [[drainTo]] with the DISTRIBUTION-DRIFT gate (X222 streamed —
    * the PSI monitor as an intake circuit breaker, seventh member of
    * the gate family): each micro-batch sketches its `value` column
    * (one KLL aggregate — map-side mergeable, O(kB) driver hop) and
    * scores POPULATION STABILITY against a FROZEN reference sketch
    * image (recorded by [[graft.expr.KllSketchAgg.kllSketch]] over
    * the corpus the consumers were built on, or lifted from a store
    * manifest's qsk line); a batch within `maxPsi` lands, a shifted
    * batch is diverted WHOLE to `quarantineTable` with its PSI
    * stamped ([[BatchPsiCol]]) — the upstream-broke-something
    * circuit breaker (scraper regression, schema drift upstream, a
    * source gone spammy) that per-document gates can't see, because
    * every individual document looks fine.
    *
    * Deliberately BATCH-grain, stated loudly: unlike the per-document
    * gates, batch boundaries are SEMANTIC here (the batch IS the
    * monitored population), so there is no batch ≡ stream identity —
    * the spec pins the decision law (in-distribution lands, planted
    * shift diverts) instead. Small batches score noisier PSI (the
    * KLL band + sampling noise); set `maxPsi` with headroom (the
    * 0.25 "shifted" convention is calibrated for thousands of rows).
    * Rows with null value are invisible to the sketch (order
    * statistics, X218 rule) but flow with their batch. Empty batches
    * land (no distribution, no drift evidence). Exactly-once across
    * the two tables: the [[drainScreenedTo]] argument verbatim. */
  def drainDriftGatedTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      quarantineTable: String,
      referenceSketch: Array[Byte],
      value: Column,
      maxPsi: Double,
      checkpoint: String,
      buckets: Int = 10,
  ): Unit = {
    require(maxPsi > 0.0, s"maxPsi must be positive, got $maxPsi")
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val ref = KllDoublesSketch.heapify(Memory.wrap(referenceSketch))
    require(!ref.isEmpty, "reference sketch is empty — no distribution to gate against")
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val img = batch.agg(
          graft.expr.KllSketchAgg.kllSketch(value.cast("double")))
          .head().getAs[Array[Byte]](0)
        val cur = KllDoublesSketch.heapify(Memory.wrap(img))
        if (cur.isEmpty) // no values → no drift evidence: land
          store.appendIfNew(table, batch, batchId): Unit
        else {
          val psi = graft.expr.KllSketchAgg.psi(ref, cur, buckets)
          if (psi <= maxPsi)
            store.appendIfNew(table, batch, batchId): Unit
          else
            store.appendIfNew(quarantineTable,
              batch.withColumn(BatchPsiCol, lit(psi)), batchId): Unit
        }
      }
      .start()
    q.awaitTermination()
  }

  def drainTokenGatedTo(
      docs: DataFrame,
      store: graft.io.TableStore,
      table: String,
      model: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minPieces: Int = 1,
      costNum: Long = 8L,
      costDen: Long = 1L,
      maxLen: Int = 6,
  ): Unit = {
    require(costDen > 0, s"costDen must be > 0, got $costDen")
    // collect the bounded model ONCE — not per micro-batch
    val served = model.select(col("piece"), col("cnt"), col("cost"))
      .localCheckpoint()
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val seg = graft.llm.UnigramLm
          .segment(batch, served, textCol, maxLen)
        val kept = seg
          .filter(col("n_pieces") >= minPieces &&
            col("total_cost") * lit(costDen) <=
              lit(costNum) * col("n_pieces").cast("long"))
          .drop("pieces", "n_pieces", "total_cost")
        store.appendIfNew(table, kept, batchId): Unit
      }
      .start()
    q.awaitTermination()
  }
}
