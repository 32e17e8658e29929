package graft.streaming

import graft.SparkSpec
import graft.io.Prune
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

// top-level: a case class nested in the spec makes its encoder fall
// back from generated code to the interpreter
case class IntakeDoc(doc_id: Long, ts: Long, text: String)

class CorpusIntakeSpec extends SparkSpec {

  private val B = 1600000000000L // keep event times above the initial watermark
  private val good =
    "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while rain falls softly on green hills and wind moves through tall trees"

  test("intake dedups content, scrubs PII, gates quality, lands in the snapshot store") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    val input = MemoryStream[IntakeDoc]

    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    input.addData(
      IntakeDoc(1L, B, good),
      IntakeDoc(2L, B + 1000, good),                       // exact content dup → dropped on intake
      IntakeDoc(3L, B + 2000, s"$good contact admin@site.example.org now"),
      IntakeDoc(4L, B + 3000, "too short"),                // quality gate
    )
    CorpusIntake.drainTo(docs, store, "corpus", s"$root/ckpt")

    val out = store.read("corpus").get.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L), out.map(_._1).mkString(","))
    assert(out(1)._2.contains("[EMAIL]") && !out(1)._2.contains("@"), out(1)._2)

    // second drain: replayed content (at-least-once transport) within
    // the watermark is dropped; genuinely new content lands
    input.addData(
      IntakeDoc(5L, B + 4000, good),                       // same content resent → dropped
      IntakeDoc(6L, B + 5000, good.replace("fox", "wolf")))
    CorpusIntake.drainTo(docs, store, "corpus", s"$root/ckpt")
    val ids = store.read("corpus").get.select("doc_id")
      .as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L, 6L), ids.mkString(","))
  }

  test("markup-strip intake: prose fingerprint dedups across chrome, scrub sees text") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_html_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    input.addData(
      IntakeDoc(1L, B, s"<html><body><p>$good</p></body></html>"),
      // same PROSE, different chrome → same post-strip fingerprint →
      // dropped, which raw-byte fingerprinting could never do
      IntakeDoc(2L, B + 1000, s"<div class='x'><span>$good</span><br/></div>"),
      // entities decode before the PII scrub sees the address
      IntakeDoc(3L, B + 2000,
        s"<p>$good contact admin&#39;s desk at admin@site.example.org</p>"),
      // nav chrome only → stripped to junk → quality gate drops it
      IntakeDoc(4L, B + 3000, "<nav><a href='/'>home</a><a href='/x'>x</a></nav>"),
    )
    CorpusIntake.drainTo(docs, store, "corpus", s"$root/ckpt",
      stripMarkup = true)
    val out = store.read("corpus").get.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L), out.map(_._1).mkString(","))
    assert(out(0)._2 == good, out(0)._2) // tags fully gone
    assert(out(1)._2.contains("admin's desk at [EMAIL]"), out(1)._2)

    // batch ≡ stream: the same rows through the equivalent batch
    // chain (strip → scrub → gate; the within-watermark dedup is
    // streaming-only, so the batch side starts from the survivors)
    val bt = Seq(
      (1L, s"<html><body><p>$good</p></body></html>"),
      (3L, s"<p>$good contact admin&#39;s desk at admin@site.example.org</p>"),
      (4L, "<nav><a href='/'>home</a><a href='/x'>x</a></nav>"),
    ).toDF("doc_id", "text")
      .withColumn("text", graft.llm.TextOps.stripMarkup(col("text")))
      .withColumn("text", graft.llm.TextOps.redactPii(col("text")))
      .filter(graft.llm.TextOps.qualityKeep(col("text")))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(bt.toSeq == out.toSeq)
  }

  test("historic dedup catches the re-crawl the watermark window must miss") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_hist_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    val gap = 3L * 24 * 3600 * 1000 // 3 days: far beyond the 1h watermark
    val filler = good.replace("fox", "stork") // advances the watermark between drains

    // baseline gap: once the watermark passes a fingerprint's window,
    // its state evicts and the plain drain re-admits the re-crawl
    val plainStore = new graft.io.SnapshotBucketedStore(s"$root/plain", numBuckets = 4)
    val p = MemoryStream[IntakeDoc]
    val pDocs = p.toDF().withColumn("ts", timestamp_millis(col("ts")))
    p.addData(IntakeDoc(1L, B, good))
    CorpusIntake.drainTo(pDocs, plainStore, "c", s"$root/pckpt")
    p.addData(IntakeDoc(2L, B + gap, filler))
    CorpusIntake.drainTo(pDocs, plainStore, "c", s"$root/pckpt")
    p.addData(IntakeDoc(3L, B + gap + 1000, good)) // same content, days later
    CorpusIntake.drainTo(pDocs, plainStore, "c", s"$root/pckpt")
    assert(plainStore.read("c").get.count() == 3L,
      "watermark dedup alone must miss the late re-crawl (the gap this drain closes)")

    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    input.addData(IntakeDoc(1L, B, good))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    input.addData(IntakeDoc(2L, B + gap, filler))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    input.addData(
      IntakeDoc(3L, B + gap + 1000, good),                          // late re-crawl -> historic drop
      IntakeDoc(4L, B + gap + 2000, good.replace("fox", "lynx")))   // genuinely new
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    val ids = store.read("c").get.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 4L), ids.mkString(","))
  }

  test("deduped drain history side is an fp-column-only scan, Bloom-prefiltered") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_fp_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    input.addData(IntakeDoc(1L, B, good), IntakeDoc(2L, B + 1000, good.replace("fox", "wolf")))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")

    // the fingerprint is a persisted column, stamped post-scrub
    val stored = store.read("c").get
    assert(stored.columns.contains(CorpusIntake.FpCol), stored.columns.mkString(","))
    val fpOk = stored
      .filter(col(CorpusIntake.FpCol) ===
        graft.llm.TextOps.fingerprint(col("text")))
      .count()
    assert(fpOk == 2L, "stored fp must equal fingerprint(stored text)")

    // the history side reads ONLY the fp column: parquet ReadSchema
    // prunes the text (the 8-bytes-per-row contract)
    val hist = CorpusIntake.historyFingerprints(store, "c", "text").get
    assert(hist.columns.toSeq == Seq(CorpusIntake.FpCol))
    val plan = hist.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReadSchema: struct<_fp:bigint>"), plan)

    // and the dedup semantics hold on the stamped table
    input.addData(IntakeDoc(3L, B + 2000, good), IntakeDoc(4L, B + 3000, good.replace("fox", "lynx")))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    val ids = store.read("c").get.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 4L), ids.mkString(","))
  }

  test("manifest fp-Blooms dir-prune the history scan; admit/reject decisions identical") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_dirbloom_")
    implicit val s = spark
    // the store records per-generation key Blooms for the fp column —
    // the prefilter's substrate
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4,
      "parquet", Nil, Seq(CorpusIntake.FpCol))
    // a twin store WITHOUT fp Blooms: same drains, the control for
    // decision identity
    val plain = new graft.io.SnapshotBucketedStore(s"$root/plain", numBuckets = 4)
    def variant(i: Int) = good.replace("fox", s"beast$i")
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    val pinput = MemoryStream[IntakeDoc]
    val pdocs = pinput.toDF().withColumn("ts", timestamp_millis(col("ts")))
    // several generations of disjoint content
    (0 until 4).foreach { g =>
      input.addData(IntakeDoc(10L * g, B + g * 1000, variant(g)))
      CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
      pinput.addData(IntakeDoc(10L * g, B + g * 1000, variant(g)))
      CorpusIntake.drainDedupedTo(pdocs, plain, "c", s"$root/pckpt")
    }
    // the probing batch: one historic dup (variant 1) + one new doc
    input.addData(IntakeDoc(100L, B + 9000, variant(1)), IntakeDoc(101L, B + 9500, variant(99)))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    pinput.addData(IntakeDoc(100L, B + 9000, variant(1)), IntakeDoc(101L, B + 9500, variant(99)))
    CorpusIntake.drainDedupedTo(pdocs, plain, "c", s"$root/pckpt")
    // identical decisions with the prefilter on and off
    val ids = store.read("c").get.select("doc_id").as[Long].collect().sorted.toSeq
    val pids = plain.read("c").get.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == pids, s"prefilter changed decisions: $ids vs $pids")
    assert(ids == Seq(0L, 10L, 20L, 30L, 101L), ids.mkString(","))
    // the pruning metric (X75 discipline): the dup's fp probes ~its
    // own generation dir, not every generation ever appended
    val dupFp = Seq(good).toDF("text")
      .select(graft.llm.TextOps.fingerprint(
        lit(variant(1))).as("fp")).as[Long].head()
    val (kept, total) = store.pruned("c", Prune.EqAny(CorpusIntake.FpCol, Seq(dupFp))).get.counts
    assert(total >= 4 && kept * 2 <= total,
      s"fp Blooms must skip most generation dirs: kept $kept/$total")
    // an absent fp skips (nearly) everything
    val (keptNo, _) = store.pruned("c", Prune.EqAny(CorpusIntake.FpCol, Seq(123456789L))).get.counts
    assert(keptNo <= 1, s"absent fp kept $keptNo dirs")
  }

  test("legacy unstamped tables stay schema-consistent and migrate to the fast path once") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_mig_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)

    // a pre-fp table: text only, no stored fingerprint
    store.append("c", Seq((1L, new java.sql.Timestamp(B), good))
      .toDF("doc_id", "ts", "text"))

    // the fallback derives fps from text — correct, just not pruned
    val derived = CorpusIntake.historyFingerprints(store, "c", "text").get
      .as[Long].collect().toSeq
    assert(derived.nonEmpty)

    // draining onto the legacy table must NOT create a mixed schema:
    // appended rows stay unstamped, and the historic dedup still drops
    // the re-crawl via the derive-from-text path
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().withColumn("ts", timestamp_millis(col("ts")))
    input.addData(IntakeDoc(2L, B + 1000, good),                         // historic dup
      IntakeDoc(3L, B + 2000, good.replace("fox", "crow")))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    val afterDrain = store.read("c").get
    assert(!afterDrain.columns.contains(CorpusIntake.FpCol),
      s"legacy table must stay unstamped: ${afterDrain.columns.mkString(",")}")
    assert(afterDrain.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))

    // one-time migration flips the table to the stamped fast path
    assert(CorpusIntake.migrateFpColumn(store, "c"))
    assert(!CorpusIntake.migrateFpColumn(store, "c"), "second migrate must no-op")
    val migrated = CorpusIntake.historyFingerprints(store, "c", "text").get
    val plan = migrated.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReadSchema: struct<_fp:bigint>"), plan)
    // post-migration drains append stamped rows and keep dedup exact
    input.addData(IntakeDoc(4L, B + 3000, good),                         // historic dup again
      IntakeDoc(5L, B + 4000, good.replace("fox", "hawk")))
    CorpusIntake.drainDedupedTo(docs, store, "c", s"$root/ckpt")
    val ids = store.read("c").get.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L, 5L), ids.mkString(","))
  }

  test("scored drain against frozen stats equals the one-shot batch filter exactly") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_scored_")
    implicit val s = spark
    import graft.llm.CorpusStats
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)

    // frozen reference: clean prose only — junk scores against IT,
    // not against whatever batch it arrives in
    val ref = Seq(
      (100L, good),
      (101L, good.replace("fox", "wolf")),
    ).toDF("doc_id", "text")
    val (freq, shared) = CorpusStats.fitCorpusStats(ref, "doc_id", "text")

    val all = Seq(
      IntakeDoc(1L, B, good.replace("river", "stone")),
      IntakeDoc(2L, B + 1000, Seq.fill(30)("buy now").mkString(" ")), // junk
      IntakeDoc(3L, B + 2000, good.replace("dog", "cat")),
      IntakeDoc(4L, B + 3000, Seq.fill(40)("zz").mkString(" ")),      // junk
      // the edit must sit mid-text (position ≥ 12): a head-of-text
      // edit leaves most 8-windows shared with the reference and the
      // boilerplate penalty alone sinks the doc — itself correct
      // gate behavior
      IntakeDoc(5L, B + 4000, good.replace("while", "whilst")),
    )
    val (half1, half2) = all.splitAt(2)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    input.addData(half1: _*)
    CorpusIntake.drainScoredTo(docs, store, "corpus", freq, shared, s"$root/ckpt")
    input.addData(half2: _*)
    CorpusIntake.drainScoredTo(docs, store, "corpus", freq, shared, s"$root/ckpt")

    val streamed = store.read("corpus").get
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // the batch twin: same frozen artifacts, one shot over everything
    val batchDf = all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val keepers = CorpusStats.qualityScore(
        CorpusStats.docSignalsFrozen(batchDf, freq, shared, "doc_id", "text"))
      .filter(col("score") >= CorpusStats.DefaultQualityThreshold)
      .select(col("doc_id"))
    val batch = batchDf.join(keepers, Seq("doc_id"), "left_semi")
      .as[(Long, String)].collect().toSet
    assert(streamed == batch,
      s"batch boundaries must be invisible: $streamed vs $batch")
    // and the gate actually gated: junk out, prose in
    val kept = streamed.map(_._1)
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(5L), kept)
    assert(!kept.contains(2L) && !kept.contains(4L), kept)
  }

  test("fitted-model drain: exact integer gate, batch boundaries invisible") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_fitgate_")
    implicit val s = spark
    import graft.llm.{CorpusStats, QualityFit}
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)

    val ref = Seq(
      (100L, good),
      (101L, good.replace("fox", "wolf")),
    ).toDF("doc_id", "text")
    val (freq, shared) = CorpusStats.fitCorpusStats(ref, "doc_id", "text")

    // label exemplars: prose = 1, junk = 0; fit over frozen signals so
    // fit and serve share one statistic source
    val exemplars = Seq(
      (200L, good.replace("river", "brook"), 1L),
      (201L, good.replace("dog", "hen"), 1L),
      (202L, Seq.fill(25)("buy now").mkString(" "), 0L),
      (203L, Seq.fill(30)("yy").mkString(" "), 0L),
      (204L, good.replace("while", "as"), 1L),
      (205L, Seq.fill(20)("spam spam deal").mkString(" "), 0L),
    ).toDF("doc_id", "text", "y")
    val exSig = CorpusStats
      .docSignalsFrozen(exemplars.drop("y"), freq, shared, "doc_id", "text")
      .join(exemplars.select(col("doc_id"), col("y")), Seq("doc_id"))
    val fit = QualityFit.fit(exSig,
      Seq("dup_token_frac", "top_token_frac", "shared_frac"), "y")

    val all = Seq(
      IntakeDoc(1L, B, good.replace("river", "stone")),
      IntakeDoc(2L, B + 1000, Seq.fill(30)("buy now").mkString(" ")),
      IntakeDoc(3L, B + 2000, good.replace("dog", "cat")),
      IntakeDoc(4L, B + 3000, Seq.fill(40)("zz").mkString(" ")),
      IntakeDoc(5L, B + 4000, good.replace("while", "whilst")),
    )
    val (half1, half2) = all.splitAt(2)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    input.addData(half1: _*)
    CorpusIntake.drainFitGatedTo(docs, store, "corpus", freq, shared, fit,
      s"$root/ckpt")
    input.addData(half2: _*)
    CorpusIntake.drainFitGatedTo(docs, store, "corpus", freq, shared, fit,
      s"$root/ckpt")

    val streamed = store.read("corpus").get
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // batch twin: same frozen artifacts, same fit, one shot
    val batchDf = all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val sig = CorpusStats.docSignalsFrozen(batchDf, freq, shared,
      "doc_id", "text")
    val keepers = QualityFit.scoreDetScaled(sig, fit, "doc_id")
      .filter(col("keep")).select(col("doc_id"))
    val batch = batchDf.join(keepers, Seq("doc_id"), "left_semi")
      .as[(Long, String)].collect().toSet
    assert(streamed == batch,
      s"batch boundaries must be invisible: $streamed vs $batch")
    // the learned discriminator separates prose from junk
    val kept = streamed.map(_._1)
    assert(kept.contains(1L) && kept.contains(3L), kept)
    assert(!kept.contains(2L) && !kept.contains(4L), kept)
  }

  test("token-gated drain: frozen tokenizer, exact cost gate, batch ≡ stream") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_tokgate_")
    implicit val s = spark
    import graft.llm.UnigramLm
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)

    // frozen tokenizer fit on a prose reference corpus: its pieces are
    // cheap for prose-like text, expensive for out-of-vocabulary junk
    val ref = Seq(good, good.replace("fox", "wolf"),
      good.replace("dog", "cat"), good.replace("river", "brook"))
      .toDF("text")
    val model = UnigramLm.fit(ref, "text", vocabSize = 200, maxLen = 6,
      minSeedCount = 2L, iters = 2).localCheckpoint()

    val all = Seq(
      IntakeDoc(1L, B, good.replace("river", "stone")),
      IntakeDoc(2L, B + 1000, Seq.fill(12)("09183 475 2206").mkString(" ")),
      IntakeDoc(3L, B + 2000, good.replace("dog", "cat")),
      IntakeDoc(4L, B + 3000, Seq.fill(15)("$$##@@ %%&&").mkString(" ")),
      IntakeDoc(5L, B + 4000, good),
    )
    val (half1, half2) = all.splitAt(2)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    input.addData(half1: _*)
    CorpusIntake.drainTokenGatedTo(docs, store, "corpus", model,
      s"$root/ckpt", costNum = 8L, costDen = 1L)
    input.addData(half2: _*)
    CorpusIntake.drainTokenGatedTo(docs, store, "corpus", model,
      s"$root/ckpt", costNum = 8L, costDen = 1L)

    val streamed = store.read("corpus").get
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // batch twin: same frozen model, same integer rule, one shot
    val batchDf = all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val batch = UnigramLm.segment(batchDf, model, "text", maxLen = 6)
      .filter(col("n_pieces") >= 1 &&
        col("total_cost") * lit(1L) <= lit(8L) * col("n_pieces").cast("long"))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(streamed == batch,
      s"batch boundaries must be invisible: $streamed vs $batch")
    // the cost gate separates in-distribution prose from junk
    val kept = streamed.map(_._1)
    assert(kept.contains(3L) && kept.contains(5L), kept)
    assert(!kept.contains(2L) && !kept.contains(4L), kept)
  }

  test("blocklist-screened drain: clean/quarantine split, attribution, batch ≡ stream") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_screen_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    val terms = Seq("badger", "rm -rf", "lazy dog")

    val all = Seq(
      IntakeDoc(1L, B, good), // contains 'lazy dog' → quarantined
      IntakeDoc(2L, B + 1000, "a clean document about rivers and stones"),
      IntakeDoc(3L, B + 2000, "echo hi; rm -rf / # badger badger"), // two terms
      IntakeDoc(4L, B + 3000, "another clean one"),
      IntakeDoc(5L, B + 4000, "the badgers dig") // 'badger' inside 'badgers' hits
    )
    val (half1, half2) = all.splitAt(2)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    input.addData(half1: _*)
    CorpusIntake.drainScreenedTo(docs, store, "corpus", "blocked", terms,
      s"$root/ckpt")
    input.addData(half2: _*)
    CorpusIntake.drainScreenedTo(docs, store, "corpus", "blocked", terms,
      s"$root/ckpt")

    val clean = store.read("corpus").get
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 4L))
    val blocked = store.read("blocked").get
      .select(col("doc_id"), col(CorpusIntake.BlockedTermsCol))
      .as[(Long, Seq[String])].collect().toMap
    assert(blocked.keySet == Set(1L, 3L, 5L))
    assert(blocked(1L) == Seq("lazy dog"))
    assert(blocked(3L) == Seq("badger", "rm -rf")) // sorted, distinct
    assert(blocked(5L) == Seq("badger")) // substring semantics
    // batch twin: same frozen terms, one-shot split ≡ streamed split
    val batchDf = all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      .withColumn("h",
        graft.expr.BlocklistHits.blocklistHits(col("text"), terms))
    val batchClean = batchDf.filter(size(col("h")) === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == batchClean,
      s"batch boundaries must be invisible: $clean vs $batchClean")
    // no row lost or duplicated across the two tables
    assert(clean.size + blocked.size == all.size)
  }

  test("drift-gated drain: in-band batch lands, shifted batch diverts with PSI") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_drift_")
    implicit val s = spark
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)
    // frozen reference: doc lengths distributed like short prose
    val rnd = new scala.util.Random(3)
    val refDocs = (0 until 2000).map(_ => "w " * (20 + rnd.nextInt(30)))
    val refImg = refDocs.toDF("text")
      .agg(graft.expr.KllSketchAgg.kllSketch(length(col("text")).cast("double")))
      .head().getAs[Array[Byte]](0)

    // batch 1: same law as the reference → lands
    val okDocs = (0 until 300).map(i =>
      IntakeDoc(i.toLong, B + i, "w " * (20 + rnd.nextInt(30))))
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    def drain(): Unit = CorpusIntake.drainDriftGatedTo(docs, store,
      "corpus", "drifted", refImg, length(col("text")), maxPsi = 0.25,
      s"$root/ckpt")
    input.addData(okDocs: _*)
    drain()
    assert(store.read("corpus").get.count() == 300)
    assert(store.read("drifted").isEmpty)

    // batch 2: upstream broke — everything arrives 10× longer → diverts
    val longDocs = (1000 until 1200).map(i =>
      IntakeDoc(i.toLong, B + i, "w " * (300 + rnd.nextInt(100))))
    input.addData(longDocs: _*)
    drain()
    assert(store.read("corpus").get.count() == 300,
      "the drifted batch must not reach the corpus")
    val drifted = store.read("drifted").get
    assert(drifted.count() == 200)
    val psi = drifted.select(CorpusIntake.BatchPsiCol).head().getDouble(0)
    assert(psi > 0.25, s"stamped PSI must exceed the gate: $psi")
    // an empty epoch (no new data) is a no-op on both tables
    drain()
    assert(store.read("corpus").get.count() == 300)
    assert(store.read("drifted").get.count() == 200)
  }

  test("LM-band drain: frozen trigram model, batch boundaries invisible") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_intake_lm_")
    implicit val s = spark
    import graft.llm.NgramLm
    val store = new graft.io.SnapshotBucketedStore(s"$root/corpus", numBuckets = 4)

    // frozen reference: clean prose, repeated so its grams clear the
    // pruning threshold — junk scores against IT, never against the
    // batch it happens to arrive in
    val ref = Seq(
      (100L, good), (101L, good),
      (102L, good.replace("fox", "wolf")),
    ).toDF("doc_id", "text")
    val model = NgramLm.fit(ref, minCount = 2)

    val junkA = Seq.fill(25)("qqq www eee").mkString(" ")
    val junkB = (1 to 60).map(i => s"tok$i").mkString(" ")
    val all = Seq(
      IntakeDoc(1L, B, good),                                // in-distribution
      IntakeDoc(2L, B + 1000, junkA),                        // unseen-token junk
      IntakeDoc(3L, B + 2000, good.replace("dog", "cat")),   // near-reference
      IntakeDoc(4L, B + 3000, junkB),                        // all-unseen junk
    )
    val (half1, half2) = all.splitAt(2)
    val input = MemoryStream[IntakeDoc]
    val docs = input.toDF().select(col("doc_id"), col("text"))
    input.addData(half1: _*)
    CorpusIntake.drainLmBandTo(docs, store, "corpus", model,
      lo = -4.0, hi = 0.0, s"$root/ckpt")
    input.addData(half2: _*)
    CorpusIntake.drainLmBandTo(docs, store, "corpus", model,
      lo = -4.0, hi = 0.0, s"$root/ckpt")

    val streamed = store.read("corpus").get
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // batch twin: same frozen model, same band, one shot
    val batchDf = all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val batch = NgramLm.bandFilter(batchDf, model, lo = -4.0, hi = 0.0)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(streamed == batch,
      s"batch boundaries must be invisible: $streamed vs $batch")
    // the band actually separates: reference prose in, unseen junk out
    val kept = streamed.map(_._1)
    assert(kept.contains(1L) && kept.contains(3L), kept)
    assert(!kept.contains(2L) && !kept.contains(4L), kept)
  }
}
