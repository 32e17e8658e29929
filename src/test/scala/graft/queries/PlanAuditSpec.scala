package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale claims made in scaladoc (pushdown,
  * pruning, broadcast choice, no cartesian products, codegen) asserted
  * against the actual executed plans at sf0.001 — a plan regression
  * fails CI, not just the 100 TB deployment. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: GraftQuery): String =
    q.run(spark, sf).queryExecution.executedPlan.toString

  test("q05 scan prunes to the two referenced columns") {
    val p = plan(Catalog.dateProjection)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_orderdate"))
    assert(!readSchema.contains("o_totalprice") && !readSchema.contains("o_custkey"),
      readSchema)
  }

  test("filters reach the parquet scan as PushedFilters") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(l_quantity"), pushed)
  }

  test("q04 broadcasts the small dimensions and plans top-k without a global sort") {
    val p = plan(Catalog.topRevenueNations)
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
    assert(p.contains("TakeOrderedAndProject"), "limit+sort should fuse")
  }

  test("no cartesian products anywhere in the catalog") {
    Catalog.all.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"${q.name} has a cartesian product")
    }
  }

  test("aggregation queries keep whole-stage codegen spans") {
    // AQE finalizes (and shows codegen spans) only after execution
    val df = Catalog.pricingSummary.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with the "*(stageId)" marker
    assert(p.contains("*(1)") && p.contains("HashAggregate"), p.take(800))
  }

  test("q53 six-table join: one shuffle join only, dims broadcast, date filter pushed") {
    val df = Catalog.localSupplierVolume.run(spark, sf)
    df.collect() // final adaptive plan (runtime broadcast decisions included)
    val p = df.queryExecution.executedPlan.toString
    val broadcasts = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    val shuffles = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(broadcasts >= 4, s"supplier/nation/region/customer should broadcast:\n${p.take(900)}")
    assert(shuffles <= 1, s"only lineitem⋈orders may shuffle, found $shuffles")
    val pushed = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"),
      "date range must reach the orders scan")
  }

  test("q13 candidate generation is hash-join shaped (no nested-loop blowup)") {
    val p = plan(LlmCatalog.nearDupPairs)
    assert(!p.contains("BroadcastNestedLoopJoin") || !p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("HashAggregate"), "signature aggregation should hash-aggregate")
  }

  test("q37 subword counting is pure map-side: compiled expression, no aggregate") {
    val p = plan(LlmCatalog.subwordTokens)
    assert(p.contains("graft_subword_count"), "compiled expression should appear in the projection")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "token counting must not aggregate")
  }

  // The round-4 exchange-reuse work: multi-consumer subtrees (shingle
  // tables, kept-frames, CC adjacency) must be computed once and
  // replayed, not re-executed per consumer. AQE only shows reuse in
  // the final plan, so execute first.
  test("q48's bloom probe filters the fact side BELOW the join") {
    val p = plan(Catalog.bloomPrunedJoin)
    assert(p.contains("might_contain"), "bloom probe must survive into the physical plan")
    // the probe must sit on the lineitem scan side, not above the join:
    // in the tree string children print below their parent, so the
    // probe line must come after the OUTER join's line (the first Join)
    val lines = p.linesIterator.toSeq
    val joinDepth = lines.indexWhere(l => l.contains("Join"))
    val probeDepth = lines.indexWhere(_.contains("might_contain"))
    assert(joinDepth >= 0 && probeDepth > joinDepth,
      s"bloom probe (line $probeDepth) should be under the outer join (line $joinDepth)")
  }

  test("q46's sketch build keeps map-side partial aggregation") {
    val df = Catalog.heavyHittersQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the cell build must be partial-agg shaped: HashAggregate pairs,
    // never a raw value shuffle of the exploded (j, value) stream
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus/segment/CC queries reuse their shared exchanges") {
    Seq(LlmCatalog.cleanCorpus, LlmCatalog.cleanCorpusCC)
      .foreach { q =>
        val df = q.run(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        // AQE prints reuse either as an explicit Reused node or as the
        // same materialized query stage id referenced more than once
        val stageIds = "(?:Shuffle|Broadcast)QueryStage (\\d+)".r
          .findAllMatchIn(p).map(_.group(1)).toSeq
        val reused = p.contains("Reused") || stageIds.distinct.size < stageIds.size
        assert(reused, s"${q.name}: expected reused exchanges\n${p.take(500)}")
      }
  }

  test("q54 span removal: anti-join rebuild, explode-shaped expansion, no occurrence blowup") {
    // The suffix machinery's own joins (incl. the LeftSemi candidate
    // pruning) sit behind localCheckpoint lineage cuts and print as
    // Scan ExistingRDD here — their shapes are pinned by the SuffixRank
    // specs. This audits what the FINAL plan owns: the rewrite itself.
    val p = plan(LlmCatalog.spanRemoval)
    // covered-position removal is an anti-join, never a nested loop
    assert(p.contains("LeftAnti"), "covered-position removal should be an anti-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "span removal must stay equi-join shaped")
    // covered positions come from one explode (Generate), deduped by
    // aggregate — not a per-pair occurrence list
    assert(p.contains("Generate"), "span expansion should be a Generate (explode)")
  }

  test("q55/q57 packing computes the global prefix sum without a global window") {
    // the naive layout is SUM() OVER (ORDER BY id) — a single-partition
    // window that serializes the whole corpus through one task; the
    // distributed form must plan NO Window operator and NO
    // SinglePartition exchange anywhere
    Seq(LlmCatalog.sequencePacking, LlmCatalog.packedSequences).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} fell back to a window:\n${p.take(400)}")
      assert(!p.contains("SinglePartition"),
        s"${q.name} serializes through one partition:\n${p.take(400)}")
    }
  }

  test("q58 chunking is map-side: the only exchange is the output order") {
    val p = plan(LlmCatalog.docChunks)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"chunking must not shuffle (1 output sort expected):\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      "chunking is a projection — no window, no join")
  }

  test("q60 line dedup: equi-joins only, hash-keyed counting, no line text in exchanges") {
    val p = plan(LlmCatalog.lineDedup)
    assert(p.contains("LeftSemi"), "boilerplate marking should be a semi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "line dedup must stay equi-join shaped")
    // the distinct-doc count groups the 60-bit hash — its exchange
    // partitions on h, never on the line string
    assert(p.contains("hashpartitioning(h#"),
      s"counting should shuffle on the line hash:\n${p.take(600)}")
    assert(!p.contains("hashpartitioning(line#"),
      "no exchange may carry line text as its key")
  }

  test("q61 repetition profile: no window, no single-partition bottleneck") {
    val p = plan(LlmCatalog.repetitionProfileQ)
    assert(!p.contains("Window"), "profile is groupBy-shaped, not windowed")
    assert(!p.contains("SinglePartition"),
      s"profile must not serialize through one partition:\n${p.take(400)}")
    // both count shuffles key on (id, hash)
    assert(p.contains("hashpartitioning(id#"),
      "per-doc aggregation should partition on id")
  }

  test("q62 salient terms: hash joins only; q63 pair counts plan TakeOrdered top-k") {
    val p62 = plan(LlmCatalog.salientTermsQ)
    assert(!p62.contains("BroadcastNestedLoopJoin") && !p62.contains("CartesianProduct"),
      "tf⋈df must be an equi-join")
    // the top-k is the bounded-heap aggregate with a map-side partial
    // stage — NOT a row_number window (which sorts whole groups and
    // ships every row through the exchange)
    assert(p62.contains("partial_graft_top_k") && !p62.contains("Window"),
      s"top-k must be the partial-aggregating heap, not a window:\n${p62.take(600)}")
    val p63 = plan(LlmCatalog.bpePairsQ)
    assert(p63.contains("TakeOrderedAndProject"),
      s"top-k pairs should be TakeOrdered, not a global sort:\n${p63.take(400)}")
    assert(!p63.contains("Join"), "pair counting needs no join")
  }

  test("q64/q67/q68 stay equi-join shaped; q66 is one range exchange") {
    Seq(LlmCatalog.sourceOverlapQ, LlmCatalog.boilerplateDensityQ,
        LlmCatalog.semanticKeepersQ).foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"${q.name} must not plan a product join:\n${p.take(400)}")
    }
    // the deterministic shuffle is a projection + ONE range exchange
    // (the orderBy) — no hash exchange, no join, no aggregate
    val p66 = plan(LlmCatalog.deterministicShuffleQ)
    assert("Exchange rangepartitioning".r.findAllIn(p66).size == 1 &&
      !p66.contains("hashpartitioning"),
      s"q66 must be exactly one range exchange:\n${p66.take(400)}")
    assert(!p66.contains("Join") && !p66.contains("HashAggregate"))
  }

  test("q69 funnel: all stages replay ONE repartitioned event projection") {
    // the N-stage funnel hangs every stage aggregate/join off one
    // hash exchange of (user, ts, et) — without the reuse each stage
    // plans its own full scan of the event log
    val df = Catalog.funnelQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val stageIds = "(?:Shuffle|Broadcast)QueryStage (\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val reused = p.contains("Reused") || stageIds.distinct.size < stageIds.size
    assert(reused, s"q69: expected reused exchanges\n${p.take(600)}")
  }

  test("q84 signal fusion materializes the shared token table once; no text in exchange keys") {
    val p = plan(LlmCatalog.docSignalsQ)
    // the (id, hash, count) table feeds repetition, the corpus count,
    // and surprisal: those consumers are self-joins whose relation
    // dedup defeats ReuseExchange, so the table sits behind a lineage
    // cut — the plan must read the checkpointed rows, and the only
    // id-keyed REPARTITION exchange left is the bigram grain's own
    // token table (boilerplate's is h-keyed by design)
    assert(p.contains("Scan ExistingRDD"),
      s"the shared token table must be checkpointed, not re-derived:\n${p.take(600)}")
    val idRepartitions =
      "hashpartitioning\\(id#\\d+L?, \\d+\\), REPARTITION_BY_COL".r.findAllIn(p).size
    assert(idRepartitions <= 1,
      s"only the bigram table may plan its own id-keyed token exchange, found $idRepartitions:\n${p.take(600)}")
    assert(!p.contains("hashpartitioning(text#") && !p.contains("hashpartitioning(t#"),
      "no exchange may key on token or document text")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q72 ranked frame feeds whole-stage codegen (internal rows, no Row round-trip)") {
    // globalRank's output re-enters SQL as InternalRows: the phase
    // projection and output sort above the rank scan must carry the
    // "*(n)" codegen markers — a Row-based re-entry would interpose an
    // interpreted converter and fall out of codegen
    val df = Catalog.globalRankQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.indexWhere(_.contains("Scan ExistingRDD"))
    val codegenAbove = p.linesIterator.take(math.max(scanLine, 0))
      .exists(_.contains("*("))
    assert(scanLine >= 0 && codegenAbove,
      s"consumers of the ranked frame must stay codegen'd:\n${p.take(800)}")
  }

  test("q73 LOCF window is key-partitioned; q74/q75/q77 stay product-free; q75 plans TakeOrdered") {
    // every Window in the gap-fill plan must carry a partition spec —
    // a bare global window would be the single-partition cliff
    val p73 = plan(Catalog.gapFillQ)
    assert(!p73.contains("SinglePartition"),
      s"q73 must not serialize through one partition:\n${p73.take(400)}")
    Seq(Catalog.transitionsQ, Catalog.anomaliesQ, Catalog.funnelWindowedQ).foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"${q.name} must stay equi-join shaped:\n${p.take(400)}")
    }
    val p75 = plan(Catalog.anomaliesQ)
    assert(p75.contains("TakeOrderedAndProject"),
      s"q75 top-k should be TakeOrdered, not a global sort:\n${p75.take(400)}")
  }

  test("q93 normalized dedup: normalization stays in the map-side fingerprint projection") {
    val p = plan(LlmCatalog.normalizedDedupQ)
    // the normalize→md5 chain must be fused into the scan-side
    // projection: the only exchanges are the two fp-keyed aggregates
    // and the join shuffles — never an exchange keyed on text
    assert(p.contains("graft_unicode_normalize"),
      s"the compiled normalize node must appear in the plan:\n${p.take(600)}")
    assert(!p.contains("hashpartitioning(text#"),
      "document text must not be an exchange key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q94 quality score is one map-side projection over the signal aggregates") {
    // after collect() the adaptive plan string appends a duplicate
    // "== Initial Plan ==" dump — count exchanges in the final
    // section only, on both sides, so the comparison is like-for-like
    def finalSection(s: String) = s.split("== Initial Plan ==").head
    def exchanges(s: String) =
      finalSection(s).linesIterator.count(_.contains("Exchange"))
    def executed(q: GraftQuery): String = {
      val df = q.run(spark, sf); df.collect()
      df.queryExecution.executedPlan.toString
    }
    val p = executed(LlmCatalog.qualityScoresQ)
    // no extra exchange beyond q84's own: the score adds a Project,
    // nothing partition-shaped, and no join against a weight table
    val p84 = executed(LlmCatalog.docSignalsQ)
    assert(exchanges(p) <= exchanges(p84) + 1, // +1: the final ORDER BY range exchange
      s"score must not add partitioning work: ${exchanges(p)} vs ${exchanges(p84)}")
    assert(!finalSection(p).contains("SinglePartition"), p.take(400))
  }

  test("q98 pagerank: the edges exchange plans once and is reused across iterations") {
    val df = Catalog.pageRankQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // 3 iterations each join the same edges subplan — it must not
    // re-shuffle per iteration (the q69 funnel pattern)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"edges exchange should be reused:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q96 diff is one full-outer shuffle join — no product, no row-wide distinct") {
    val p = plan(Catalog.snapshotDiffQ)
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n${p.take(400)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("keys=[o_orderkey") && l.contains("o_totalprice")),
      "no distinct over payload columns")
  }

  test("q102/q103 digests and centroids: map-side partials, key-only exchanges") {
    val p102 = plan(Catalog.tableDigestQ)
    assert(p102.contains("partial_"), "digest must combine map-side")
    assert(p102.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(l_returnflag")) == 1,
      s"one key-only exchange expected:\n${p102.take(600)}")
    val p103 = plan(LlmCatalog.centroidsQ)
    assert(p103.contains("partial_"), "centroid sums must combine map-side")
    assert(!p103.contains("SinglePartition"), p103.take(400))
  }

  test("q101 systematic sample rides the checkpointed prefix-sum walk, no single partition") {
    val df = LlmCatalog.systematicSampleQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Scan ExistingRDD"),
      "the walk's checkpoint must feed the pick filter")
    assert(!p.contains("SinglePartition"), p.take(400))
  }

  test("q104 exemplar rank window is source-partitioned, never global") {
    val df = LlmCatalog.qualityExemplarsQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("source")),
      s"rank window must partition by source:\n${windows.mkString("\n")}")
    assert(!p.contains("SinglePartition"), p.take(400))
  }

  test("q95 PQ digest: compiled encode in a codegen'd scan projection, no joins at all") {
    val df = LlmCatalog.pqQuantization.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_pq_encode"),
      s"the compiled encoder must appear in the plan:\n${p.take(600)}")
    // the digest is scan → project → output sort: no join, no
    // aggregate exchange (the codebook rides the expression, not a
    // broadcast), and the projection stays inside codegen
    assert(!p.contains("Join"), s"no join expected:\n${p.take(600)}")
    assert(p.contains("*("), "projection must stay codegen'd")
  }

  test("q110 DSIR: the weight table broadcasts to the scoring join, counts combine map-side") {
    val df = LlmCatalog.dsirScoresQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"weights must broadcast into scoring:\n${p.take(600)}")
    assert(p.contains("partial_count"), "bucket histograms must combine map-side")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("q112 BM25: query terms broadcast (inverted-index pruning), top-k is the bounded heap") {
    val df = LlmCatalog.bm25Q.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"qterms must broadcast into the postings join:\n${p.take(600)}")
    // TopKAgg is an object aggregate with a partial mode — the
    // map-side k-reduction the scaladoc promises
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_graft_top_k"),
      s"bounded-heap top-k must combine map-side:\n${p.take(800)}")
  }

  test("q156 stored BM25 keeps q112's broadcast + bounded-heap shape on the pruned read") {
    val df = LlmCatalog.bm25StoredQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"qterms must broadcast into the stored-postings join:\n${p.take(600)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_graft_top_k"),
      s"bounded-heap top-k must combine map-side:\n${p.take(800)}")
    // the dir-level pruning proof lives in TextIndexSpec's
    // Prune.EqAny skip metric (kept < total for queried terms)
  }

  test("q157 stored hybrid: no cartesian, equi-join ANN stage, bounded-heap top-k everywhere") {
    val df = LlmCatalog.hybridStoredQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the probe-bucket residual reaches the PARQUET SCAN of the stored
    // docvecs — dir-level stats pruned the file list, and the In/range
    // predicates push into the footer filter (the only BNLJs in the
    // plan are the bounded 1-row totals broadcasts, same as q145/q147)
    assert(p.contains("In(bucket") || p.contains("EqualTo(bucket"),
      s"probe buckets must push into the docvec scan:\n${p.take(800)}")
    assert(p.contains("partial_graft_top_k"),
      s"per-ranker and fused top-k must map-side k-reduce:\n${p.take(800)}")
  }

  test("q113 personalized pagerank keeps the q98 exchange-reuse shape") {
    val df = Catalog.personalizedPageRankQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"edges exchange should be reused:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("q114/q117 graph ops: equi-joins only — no product, no nested loop") {
    for (q <- Seq(Catalog.triangleCountsQ, Catalog.kCoreQ)) {
      val df = q.run(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"${q.name}: wedge/peel joins must stay equi:\n${p.take(600)}")
    }
  }

  test("q116 MAD windows are type-partitioned; med/mad join back broadcast") {
    val df = Catalog.madOutliersQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("event_type")),
      s"rank windows must partition by event_type:\n${windows.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), "median/mad tables must broadcast back")
    assert(!p.contains("SinglePartition"), p.take(400))
  }

  test("q115 temperature mix: group weights broadcast, sampler keeps the checkpointed walk") {
    // the weight join sits UPSTREAM of the sampler's prefix-sum
    // checkpoint, so it must be audited on the weighted frame itself
    // (the final plan legitimately starts at the checkpoint scan)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("graft_n_"))
      .withColumn("graft_s_", graft.llm.Splits.isqrt(col("graft_n_") * lit(1000000L)))
      .withColumn("mix_weight", expr("(1000000 * graft_s_) div graft_n_"))
      .drop("graft_n_", "graft_s_")
    val joined = docs.join(broadcast(counts), Seq("lang"))
    joined.collect()
    val pj = joined.queryExecution.executedPlan.toString
    assert(pj.contains("BroadcastHashJoin"),
      s"the per-group weight table must broadcast:\n${pj.take(600)}")
    val df = LlmCatalog.temperatureMixQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Scan ExistingRDD"),
      "the prefix-sum walk's checkpoint must feed the pick filter")
    assert(!p.contains("SinglePartition"), p.take(400))
  }

  test("q119 quality fit: one Gram aggregate row, partial-combined map-side") {
    // the fit's distributed pass is the Gram/moment aggregate — it must
    // partial-aggregate before the exchange (one row of scalars crosses)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sig = graft.llm.CorpusStats.docSignals(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
        when(col("source") === "src0", 1L).otherwise(0L).as("y")),
        Seq("doc_id"))
    import org.apache.spark.sql.types.DecimalType
    val xs = Seq(lit(1L),
      graft.llm.QualityFit.scaledFeature(col("dup_token_frac")),
      graft.llm.QualityFit.scaledFeature(col("top_token_frac")))
    val agg = sig.agg(
      sum((xs(0) * xs(1)).cast(DecimalType(38, 0))).as("g01"),
      sum((xs(1) * xs(2)).cast(DecimalType(38, 0))).as("g12"),
      sum((xs(1) * col("y")).cast(DecimalType(38, 0))).as("m1"))
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("partial_sum"),
      s"Gram sums must combine map-side:\n${p.take(600)}")
    // serving compiles the weights into a plain projection laid
    // DIRECTLY over the signal frame (the joins below are the signal
    // frame's own assembly, not serving cost): the node above the
    // input must be a Project carrying the decimal literals
    val f = graft.llm.QualityFit.fit(sig,
      Seq("dup_token_frac", "top_token_frac"), "y")
    val served = graft.llm.QualityFit.scoreDetScaled(sig, f)
    val top = served.queryExecution.executedPlan.toString
      .linesIterator.drop(1).take(1).mkString
    assert(top.contains("Project") && top.contains("score_num"),
      s"serving must be one projection over the signal frame, got: $top")
  }

  test("q121 LPA: equi-joins only; vote counts combine map-side") {
    val df = Catalog.lpaQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the returned plan reads the last round's checkpoint — audit the
    // ROUND shape inline (the temperature-mix precedent): one
    // adjacency⋈labels equi-join + two partial-combined aggregates
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"label votes must move through equi-joins:\n${p.take(600)}")
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val labels = adj.select(col("node")).distinct()
      .withColumn("graft_lbl_", col("node"))
    val round = adj
      .join(labels.select(col("node").as("nbr"), col("graft_lbl_")), Seq("nbr"))
      .groupBy(col("node"), col("graft_lbl_"))
      .agg(count(lit(1)).as("graft_c_"))
      .groupBy(col("node"))
      .agg(min(struct((-col("graft_c_")).as("nc"),
        col("graft_lbl_").as("l"))).as("b"))
    round.collect()
    val pr = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pr.contains("partial_count") && pr.contains("partial_min"),
      s"vote counts and argmax must partial-aggregate:\n${pr.take(800)}")
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"), pr.take(400))
  }

  test("q122 k-means: centroids broadcast into assignment; means partial-combine") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.llm.KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val assigned = graft.llm.KMeans.assign(emb, model, "vec_id", "embedding")
    assigned.collect()
    val p = assigned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the k-row centroid table must broadcast:\n${p.take(600)}")
    val flat = graft.llm.KMeans.fitFlat(emb, "vec_id", "embedding", k = 4, iters = 1)
    val pf = flat.queryExecution.executedPlan.toString
    // fitFlat returns the checkpointed mean table — k·dim rows
    assert(pf.contains("Scan ExistingRDD"),
      s"the mean table must be the checkpointed artifact:\n${pf.take(400)}")
  }

  test("q128 maximin seeding: per-pass TakeOrdered argmax off a checkpointed distance column") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the per-seed argmax must plan as TakeOrdered (distributed top-1),
    // and the running min-distance column must come from a checkpoint
    // scan — pass t must not recompute rounds < t
    import org.apache.spark.sql.functions.{col, lit}
    val v = emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("e"))
    val c = v.orderBy(col("id")).limit(1).collect().head.getSeq[Double](1)
    val cl = lit(c.toArray)
    val minD = v.select(col("id"), col("e"),
      (graft.llm.Similarity.dot(col("e"), col("e")) -
        lit(2.0) * graft.llm.Similarity.dot(col("e"), cl) +
        graft.llm.Similarity.dot(cl, cl)).as("md"))
      .localCheckpoint()
    val pick = minD.orderBy(col("md").desc, col("id").asc).limit(1)
    pick.collect()
    val p = pick.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"seed argmax must be a distributed top-1:\n${p.take(400)}")
    assert(p.contains("Scan ExistingRDD"),
      s"distance column must feed from the checkpoint:\n${p.take(400)}")
  }

  test("q129 wcss: centroid rejoin broadcasts; decimal sums partial-combine") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.llm.KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val w = graft.llm.KMeans.wcssByCell(emb, model, "vec_id", "embedding")
    w.collect()
    val p = w.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastExchange"),
      s"the k-row centroid table must broadcast into the rejoin:\n${p.take(600)}")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-cell sums must combine map-side:\n${p.take(600)}")
  }

  test("q124 unigram seed: substring counts partial-aggregate before the shuffle") {
    val df = LlmCatalog.unigramSeedQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"piece counts must combine map-side:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("unigram vocab prune is a distributed TakeOrdered, not a raw collect") {
    implicit val s = spark
    import s.implicits._
    val docs = Seq("the cat sat on the mat", "a cat and the mat").toDF("text")
    val seed = graft.llm.UnigramLm.seedVocab(docs, "text", maxLen = 4, minCount = 2L)
    val pruned = graft.llm.UnigramLm.prunedVocab(seed, vocabSize = 10)
    val p = pruned.queryExecution.executedPlan.toString
    // the multi-char top-k must be per-partition top-k merged on the
    // driver — the unbounded candidate table never materializes whole
    assert(p.contains("TakeOrderedAndProject"),
      s"seed prune must be a distributed top-k:\n${p.take(800)}")
    // driver materialization is bounded: <= vocabSize + |charset|
    val rows = pruned.collect()
    val charset = docs.select(explode(split(col("text"), "")).as("c"))
      .filter(length(col("c")) === 1).distinct().count()
    assert(rows.length <= 10 + charset, s"${rows.length} vs 10+$charset")
  }

  test("q131 refinement keeps the LPA shape: equi-joins only, no product") {
    val df = Catalog.refinedCommunitiesQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // the returned plan reads the last round's checkpoint — audit the
    // MOVE-ROUND shape directly (the q121 precedent)
    implicit val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val degs = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val asg = adj.select(col("node")).distinct()
      .withColumn("graft_lbl_", col("node"))
    val round = graft.ops.Graph.moveRoundForAudit(adj, degs, asg, 4L)
    round.collect()
    val pr = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pr.contains("partial_count") && pr.contains("partial_min"),
      s"gain counts and argmax must partial-aggregate:\n${pr.take(800)}")
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"), pr.take(400))
  }

  test("q123 avro roundtrip: the re-read aggregate partial-combines like parquet") {
    val df = Catalog.avroRoundtripQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_sum"),
      s"the aggregate over the avro scan must map-side combine:\n${p.take(600)}")
  }

  test("q132/q133 scrub and strip are pure map-side chains: no join, no aggregate") {
    // the redaction / markup-strip regex chains must stay row-local —
    // a join or aggregate here would mean a shuffle of full document
    // text, the thing the whole X60/X171 design avoids
    Seq(LlmCatalog.piiRedactionQ, LlmCatalog.markupStripQ).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"${q.name}:\n${p.take(600)}")
      assert(!p.contains("HashAggregate"), s"${q.name}:\n${p.take(600)}")
    }
  }

  test("q135 wordpiece serve is one shuffle-free projection before the sort") {
    // the vocabulary rides the expression (constant-folded), so the
    // encode is a Project over the scan — no join against a vocab
    // table, no aggregate, no exchange
    implicit val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val v = Seq("a", "b", "##a", "##b", "th", "##e")
    val enc = docs.select(col("doc_id"),
      graft.llm.WordPiece.encode(col("text"), v).as("enc"))
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(600))
    assert(p.contains("graft_wordpiece_encode"), p.take(600))
  }

  test("q141 maxsim: group grid is a broadcast nest, fan-outs are equi-joins, max partial-aggregates") {
    val df = LlmCatalog.maxSimQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the only nested-loop join allowed is the tiny broadcast group
    // grid; a ROW-level cartesian would be the all-pairs disaster
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("partial_max"),
      s"per-(pair, query-vector) max must map-side combine:\n${p.take(800)}")
  }

  test("q143 maxsim-ann: no nested loop anywhere — the centroid table is never broadcast whole") {
    val df = LlmCatalog.maxSimAnnQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the two-stage form's scale flaw was crossJoin(broadcast(cvec)) —
    // a BroadcastNestedLoopJoin over EVERY doc-group centroid. The ANN
    // form must plan pure equi-joins: centroids meet probes on the
    // bucket key, the grid meets vectors on the group keys. At 10⁹ doc
    // groups there is nothing here that materializes groups² or ships
    // the whole centroid table to every executor.
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the centroid table must never broadcast-nest:\n${p.take(800)}")
    assert(p.contains("partial_max"),
      s"per-(pair, query-vector) max must map-side combine:\n${p.take(800)}")
  }

  test("q144 tfidf: the df model joins as a broadcast; counts and norms partial-aggregate") {
    val df = LlmCatalog.tfidfQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the ≤ dims-row df table and the 1-row totals must broadcast —
    // a SortMergeJoin here would shuffle the whole tf table per join
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"tf counts must map-side combine:\n${p.take(800)}")
  }

  test("q145 hybrid RRF: fusion is list-sized — no corpus-sized join anywhere past the rankers") {
    val df = LlmCatalog.hybridRrfQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the ONLY nested loop allowed is vectorTopK's broadcast query
    // side streaming over the corpus (the bruteForce baseline shape);
    // a row-level cartesian would be the all-pairs disaster
    assert(!p.contains("CartesianProduct"), p.take(600))
    // fused points sum must partial-aggregate (map-side combine)
    assert(p.contains("partial_sum"), s"RRF points must combine:\n${p.take(800)}")
  }

  test("q147 hybrid RRF ANN: candidate pass is an equi-join — no corpus broadcast in the vector stage") {
    // the ANN vector stage in isolation: q145's one allowed nested
    // loop (vectorTopK's broadcast query side streaming the corpus)
    // is exactly what the ANN swap removes — queries meet docs on the
    // LSH bucket key, an equi-join, so at 10⁹ docs each query touches
    // candidate buckets only
    implicit val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // checkpoint the vector derivation so the audited plan is the
    // candidate pass itself (tfidfVectors' own 1-row totals cross
    // join is audited separately under q144)
    val dv = graft.llm.Vectorize.tfidfVectors(docs, "doc_id", "text", 64)
      .withColumnRenamed("id", "doc_id").localCheckpoint()
    val qv = dv.filter($"doc_id" % 37 === 0).withColumnsRenamed(Map("doc_id" -> "qid"))
    val ann = graft.llm.Retrieval.vectorTopKAnn(dv, qv, k = 5, dims = 64,
      numPlanes = 4, probes = 1)
    ann.collect()
    val pv = ann.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!pv.contains("CartesianProduct"), pv.take(600))
    assert(!pv.contains("BroadcastNestedLoopJoin"),
      s"the ANN candidate pass must never broadcast-nest the corpus:\n${pv.take(800)}")
    assert(pv.contains("graft_bkt_"),
      s"candidates must meet on the bucket key:\n${pv.take(800)}")
    // the full fused query: product-free; the only nested loops are
    // BM25/TF-IDF's 1-row corpus-totals cross joins (constant-size
    // build side — scale-safe); RRF points map-side combine
    val df = LlmCatalog.hybridRrfAnnQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("partial_sum"), s"RRF points must combine:\n${p.take(800)}")
  }

  test("q148 IVF-PQ: candidates meet on the cell equi-join, decode is map-side, top-k partial-aggregates") {
    val df = LlmCatalog.ivfPqQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the only nested loops are the bounded k-row centroid broadcasts
    // (coarse assignment); candidates join on the CELL key — at 10⁹
    // vectors each query scores nprobe cells, never the corpus — and
    // the decoded-codeword scoring stays in the projection
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("graft_pq_cosine"),
      s"scoring must be the fused compiled ADC projection:\n${p.take(800)}")
    assert(p.contains("partial_graft_top_k"),
      s"top-k must map-side k-reduce:\n${p.take(800)}")
    // the PQ bandwidth claim, asserted on the tree: NO exchange
    // anywhere in the plan moves the decoded codeword array — the
    // cell join's build/stream sides carry the 8-byte packed BIGINT,
    // and decode happens strictly post-join in the scoring projection
    def walk(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      n +: kids.flatMap(walk)
    }
    val exchanges = walk(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, "expected at least one exchange in the IVF-PQ plan")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name.startsWith("graft_de_")),
        s"an exchange carries the DECODED array — the PQ bandwidth win is lost:\n$e")
    }
  }

  private def noDecodedArrayInExchanges(
      df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    def walk(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      n +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.foreach { e =>
      assert(!e.output.exists(_.name.startsWith("graft_de_")),
        s"$what: an exchange carries the decoded array:\n$e")
    }
  }

  test("q149 stored IVF-PQ: the persisted read path keeps the packed-code exchange discipline") {
    val df = LlmCatalog.ivfPqStoredQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("partial_graft_top_k"),
      s"top-k must map-side k-reduce:\n${p.take(800)}")
    noDecodedArrayInExchanges(df, "q149")
    // the pruning proof behind the stored read: a cell-clustered
    // index answers a one-cell probe from ~1/numCells of its dirs
    // (the IvfSpec persisted-index test asserts the Prune.Ranges skip
    // metric and bit-equality against the inline form)
  }

  test("q154 stored MaxSim: no cartesian, map-side ADC maxima, packed-code exchange discipline") {
    val df = LlmCatalog.maxSimIndexedQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p.take(600))
    noDecodedArrayInExchanges(df, "q154")
    // stage 1's per-(pair, query-vector) MAX partial-aggregates before
    // its shuffle — the ADC estimate never exchanges raw per-vector
    // scores (the maxSimOverGrid discipline, on the candidate tier)
    assert(p.contains("partial_max") || p.contains("partial_finishaggregation") ||
      p.contains("HashAggregate"), s"stage 1 must partial-aggregate:\n${p.take(800)}")
  }

  test("IVF-PQ query-heavy regime: queries ≈ corpus stays an equi-join with packed-code exchanges") {
    // the shape the decode-placement fix protects: when the query
    // side is NOT broadcast-small, the cell join must still be an
    // equi-join whose exchanges carry 8-byte codes, not decoded
    // dims×8-byte arrays — otherwise a full-batch re-rank shuffles
    // 32× more bytes than the PQ design budget
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.llm.Ivf.searchPq(emb, "vec_id", "embedding",
      graft.llm.IvfModel.df(spark), topK = 3, nprobe = 2,
      queryPred = lit(true)) // EVERY vector is a query
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // (the only nested loops allowed are the bounded k-row centroid
    // broadcasts, same as q148 — never a row-level cartesian)
    assert(!p.contains("CartesianProduct"), p.take(600))
    noDecodedArrayInExchanges(df, "query-heavy searchPq")
  }

  test("q146 NCD lengths: two id-keyed joins, complexity is a map-side expression") {
    val p = plan(LlmCatalog.ncdLengthsQ)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("graft_shingle_hashes") || p.contains("shingle"),
      s"complexity must be the compiled shingle expression:\n${p.take(600)}")
  }

  test("q137 leakage split: one id join after CC, assignment is a projection") {
    val p = plan(LlmCatalog.leakageSafeSplitQ)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("wordpiece fit candidates broadcast the unigram table") {
    // the per-round candidate table joins pair counts against the
    // vocab-sized unigram counts — both joins must be broadcasts, or
    // at 100 TB the pair table would shuffle once per round per side
    implicit val s = spark
    import s.implicits._
    val docs = Seq.fill(40)("the cat sat on the mat").toDF("text")
    val cand = graft.llm.WordPiece.candidatesForAudit(docs, "text")
    cand.collect()
    val p = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"pair/unigram counts must map-side combine:\n${p.take(800)}")
  }

  test("q179 SQL catalog: the V2 scan reports its pushed filters and reads only surviving dirs") {
    val df = LlmCatalog.sqlCatalogQ.run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the executed plan names the V2 scan with BOTH its pruning list
    // and Spark's own pushed-filter report
    assert(p.contains("GraftScan(table=orders_s"), p.take(900))
    assert(p.contains("pruning=[GreaterThanOrEqual(o_orderkey,1000)"), p.take(900))
    assert(p.contains("PushedFilters: [") &&
      p.contains("GreaterThanOrEqual(o_orderkey,1000)") &&
      p.contains("LessThanOrEqual(o_orderkey,9000)"), p.take(900))
    // and the manifest pruning actually FIRED: the store committed 8
    // orderkey-ranged generations (step = maxKey/8+1); the kept count
    // must equal EXACTLY the generations whose key range intersects
    // [1000, 9000] (X75 pruning-metric style — dirs read, not rows)
    df.collect()
    val (kept, total) = graft.io.GraftSource.lastPrune.get
    assert(total == 8, s"expected 8 generations, saw $total")
    val maxKey = spark.read.parquet(s"$sf/orders.parquet")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val step = maxKey / 8 + 1
    val expected = (0 until 8).count(g =>
      g * step <= 9000L && (g + 1) * step - 1 >= 1000L)
    assert(kept == expected && kept < total,
      s"V2 scan must read only surviving dirs: $kept/$total (expected $expected)")
  }

  test("q181 catalog aggregates: served from the manifest, no data scan in the plan") {
    val df = LlmCatalog.sqlCatalogAggQ.run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftAggServe"), p.take(900))
    assert(!p.contains("GraftScan(table="),
      "COUNT/MIN/MAX must not open data files: " + p.take(900))
  }

  test("SQL MERGE: a keyed join over the graft scan under the delta write — no cartesian") {
    implicit val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pa_merge_").toString
    val store = new graft.io.SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("uuid"))
    store.upsert("t", (0L until 100L).map(i => (i, i * 2L)).toDF("uuid", "v"), "uuid")
    val cat = "graftpam" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.io.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.keycolumns", "uuid")
    Seq((5L, 500L), (200L, 2L)).toDF("uuid", "nv")
      .createOrReplaceTempView("graft_pa_merge_src")
    val df = spark.sql(
      s"""MERGE INTO $cat.t t USING graft_pa_merge_src s ON t.uuid = s.uuid
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (uuid, v) VALUES (s.uuid, s.nv)
         |""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    // the write is the DELTA path over OUR scan, and the target⋈source
    // join is keyed — a cartesian here would scan the table per source row
    assert(p.contains("WriteDelta"), p.take(900))
    assert(p.contains("GraftScan(table=t"), p.take(900))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(900))
  }

  test("q180 merge-on-read: tombstone sidecars anti-join as broadcasts") {
    val df = LlmCatalog.lazyDeleteQ.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // each tombstoned dir anti-joins its (driver-small) sidecar keys
    // broadcast — never a shuffled join of table against tombstones
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }
}
