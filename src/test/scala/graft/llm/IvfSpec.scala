package graft.llm

import graft.SparkSpec
import graft.io.Prune
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("train produces k centroids of the right dimension, deterministically") {
    val c1 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      .orderBy("cell").collect()
    val c2 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      .orderBy("cell").collect()
    assert(c1.length == 8)
    assert(c1.forall(_.getSeq[Double](1).length == 64))
    // structure-seeded init + deterministic pipeline → identical replay
    c1.zip(c2).foreach { case (a, b) =>
      assert(a.getInt(0) == b.getInt(0) && a.getSeq[Double](1) == b.getSeq[Double](1))
    }
  }

  test("assignment is total and cells are non-trivial") {
    val cents = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    val v = Similarity.withNorm(emb, "vec_id", "embedding")
    val assigned = Ivf.assign(v, cents)
    assert(assigned.count() == emb.count())
    val cells = assigned.groupBy("cell").count().collect()
    assert(cells.length >= 4, s"degenerate clustering: ${cells.mkString(",")}")
  }

  test("nprobe search: more probes -> recall rises toward brute force") {
    val cents = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    val pred = col("vec_id") % 10 === 0
    val brute = Similarity.bruteForceTopK(emb, emb.filter(pred), "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Ivf.search(emb, "vec_id", "embedding", cents, topK = 5,
        nprobe = nprobe, queryPred = pred)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & brute).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    val r8 = recall(8) // probing every cell = exhaustive = exact
    assert(r4 >= r1, s"recall fell with more probes: $r1 -> $r4")
    assert(r8 > 0.999, s"nprobe=k must equal brute force, got $r8")
    assert(r4 > 0.3, s"nprobe=4 of 8 cells should find a solid fraction: $r4")
  }

  test("IVF-PQ: nprobe-monotone recall; full probing equals exhaustive ADC; sims are decode-exact") {
    val cents = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    val pred = col("vec_id") % 10 === 0
    // the recall reference is EXHAUSTIVE ADC (every candidate scored
    // through its decoded codeword) — what nprobe walks toward; the
    // coarse stage prunes candidates, never changes surviving scores
    val v = Similarity.withNorm(emb, "vec_id", "embedding")
    val de = v.withColumn("de", Similarity.pqDecode(Similarity.pqEncode(col("e"))))
      .withColumn("dn", sqrt(Similarity.dot(col("de"), col("de"))))
      .filter(col("dn") > 0.0)
      .select(col("id"), col("de"), col("dn"))
    val q = v.filter(pred).select(col("id").as("query_id"),
      col("e").as("qe"), col("nrm").as("qn"))
    val exhaustive = q.crossJoin(de).filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (Similarity.dot(col("qe"), col("de")) / (col("qn") * col("dn"))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val adcFull = exhaustive.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val allSims = exhaustive.as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def run(nprobe: Int) =
      Ivf.searchPq(emb, "vec_id", "embedding", cents, topK = 5,
        nprobe = nprobe, queryPred = pred)
    def recall(nprobe: Int): Double = {
      val got = run(nprobe).select("query_id", "neighbor_id", "sim")
        .as[(Long, Long, Double)].collect()
      // every surviving pair scores bit-equal to the exhaustive ADC —
      // probing only prunes, the arithmetic is identical
      got.foreach { case (qq, n, s) =>
        assert(allSims((qq, n)) == s, s"pair ($qq,$n) sim drifted") }
      (got.map(r => (r._1, r._2)).toSet & adcFull).size.toDouble / adcFull.size
    }
    val r1 = recall(1); val r4 = recall(4); val r8 = recall(8)
    assert(r1 <= r4 && r4 <= r8, s"recall not monotone: $r1 $r4 $r8")
    assert(r8 > 0.999, s"nprobe=k must equal exhaustive ADC, got $r8")
    // and vs the EXACT (float) brute force, PQ at full probing keeps
    // the PqSpec-grade recall: the quantization, not the probing, is
    // the only loss
    val brute = Similarity.bruteForceTopK(emb, emb.filter(pred),
        "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val gotFull = run(8).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exactRecall = (gotFull & brute).size.toDouble / brute.size
    // whole-corpus 4-bit ADC@5 on the synthetic vectors measures
    // ~0.19 (the within-label PqSpec figure is higher because its
    // candidate pools are ~1/12 the size); random baseline is
    // 5/|corpus| ≈ 0.01 — a broken decode/rank collapses toward that,
    // and PqSpec's re-rank ladder is the recovery path
    assert(exactRecall >= 0.12, s"IVFADC recall@5 vs exact = $exactRecall")
  }

  test("pqUnpack inverts pqPack for every valid code array") {
    val codes = Seq(
      Seq(0, 0, 0, 0, 0, 0, 0, 0),
      Seq(15, 15, 15, 15, 15, 15, 15, 15),
      Seq(3, 14, 0, 7, 9, 1, 15, 2))
      .toDF("codes")
      .select(col("codes").cast("array<int>").as("codes"))
    val rt = codes.select(col("codes"),
      Similarity.pqUnpack(Similarity.pqPack(col("codes"))).as("rt"))
      .as[(Seq[Int], Seq[Int])].collect()
    rt.foreach { case (orig, back) => assert(back == orig, s"$orig -> $back") }
  }

  test("persisted index: searchPqFrom over the stored table ≡ inline searchPq, cell stats prune") {
    implicit val s = spark
    val cents = IvfModel.df(spark)
    val pred = col("vec_id") % 10 === 0
    val root = tmpDir("graft_ivfidx_")
    // the posting-list layout: cluster by cell, key by id, stats+Blooms
    val store = new graft.io.SnapshotBucketedStore(s"$root/vs", numBuckets = 16,
      "parquet", statsColumns = Seq("cell"), keyColumns = Seq("id"),
      clusterColumn = Some("cell"))
    Ivf.writeIndex(store, "vs", emb, "vec_id", "embedding", cents)
    // bit-for-bit: the stored read path changes WHERE codes come from,
    // never what they are
    val inline = Ivf.searchPq(emb, "vec_id", "embedding", cents,
        topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(inline.nonEmpty)
    val stored = Ivf.searchPqFrom(store, "vs", emb, "vec_id", "embedding",
        cents, topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(stored == inline, "stored-index search must replay the inline result exactly")
    // the cluster layout makes per-dir cell stats narrow: a one-cell
    // probe prunes most of the table's dirs
    val (kept, total) = store.pruned("vs", Prune.range("cell", 0, 0)).get.counts
    assert(total >= 4 && kept * 4 <= total,
      s"cell-clustered dirs must prune a point probe: kept $kept/$total")
    // incremental refresh: upsert a delta, search reflects it
    val delta = emb.filter(col("vec_id") < 20)
    Ivf.writeIndex(store, "vs", delta, "vec_id", "embedding", cents)
    val after = Ivf.searchPqFrom(store, "vs", emb, "vec_id", "embedding",
        cents, topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(after == inline, "re-upserting identical vectors must not change results")
    // GDPR delete: removed ids vanish from the candidate set
    val victim = inline.head.getLong(1) // some neighbor id
    store.delete("vs", "id", Seq(victim).toDF("id"))
    val afterDel = Ivf.searchPqFrom(store, "vs", emb, "vec_id", "embedding",
        cents, topK = 5, nprobe = 2, queryPred = pred)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!afterDel.contains(victim), "deleted vector must not be served")
  }

  test("IVFADC-R: exact re-rank repairs recall, to brute force at full probing + wide pool") {
    implicit val s = spark
    val cents = IvfModel.df(spark)
    val pred = col("vec_id") % 25 === 0
    val root = tmpDir("graft_ivfrr_")
    val store = new graft.io.SnapshotBucketedStore(s"$root/vs", numBuckets = 16,
      "parquet", statsColumns = Seq("cell"), keyColumns = Seq("id"),
      clusterColumn = Some("cell"))
    Ivf.writeIndex(store, "vs", emb, "vec_id", "embedding", cents)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(pred),
        "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int, poolK: Int): Double = {
      val got = Ivf.searchPqRerankFrom(store, "vs", emb, "vec_id", "embedding",
          cents, topK = 5, poolK = poolK, nprobe = nprobe, queryPred = pred)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & brute).size.toDouble / brute.size
    }
    // wider pool repairs quantization misordering at fixed probing
    val narrow = recall(2, 5)
    val wide = recall(2, 40)
    assert(wide >= narrow, s"wider pool must not lose recall: $narrow -> $wide")
    // full probing + corpus-wide pool = the exact brute force
    val n = emb.count().toInt
    assert(recall(IvfModel.k, n) > 0.999,
      "full probing with a corpus-wide pool must equal brute force")
  }

  test("filtered ANN: candidate-side attribute window, identical to searching the filtered index") {
    implicit val s = spark
    val cents = IvfModel.df(spark)
    val pred = col("vec_id") % 10 === 0
    val root = tmpDir("graft_ivffl_")
    val store = new graft.io.SnapshotBucketedStore(s"$root/vs", numBuckets = 16,
      "parquet", statsColumns = Seq("cell", "label"), keyColumns = Seq("id"),
      clusterColumn = Some("cell"))
    Ivf.writeIndex(store, "vs", emb, "vec_id", "embedding", cents,
      passthrough = Seq("label"))
    val got = Ivf.searchPqFromWhere(store, "vs", emb, "vec_id", "embedding",
        cents, topK = 5, nprobe = 3, queryPred = pred,
        attrCol = "label", lo = 2, hi = 5)
      .orderBy("query_id", "rank").collect().toSeq
    // ≡ the inline search over an index restricted to the attribute
    // window — the declarative semantics of a filtered vector search
    val want = Ivf.searchPqIndexed(
        Ivf.indexRows(emb, "vec_id", "embedding", cents, Seq("label"))
          .filter(col("label").between(2, 5)),
        emb, "vec_id", "embedding", cents, topK = 5, nprobe = 3,
        queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(got.nonEmpty && got == want)
    // every served neighbor satisfies the window
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach(r => assert((2 to 5).contains(labels(r.getLong(1)))))
    // conjunctive pruning is never worse than the cell conjunct alone
    val (keptBoth, total) = store.pruned("vs",
      Prune.Ranges(Seq(("cell", 0, 0), ("label", 2, 5)))).get.counts
    val (keptCell, _) = store.pruned("vs", Prune.range("cell", 0, 0)).get.counts
    assert(keptBoth <= keptCell && total >= 4)
  }

  test("stored-index MaxSim: exact at full coverage, candidate-monotone recall, surviving scores bit-equal") {
    implicit val s = spark
    val cents = IvfModel.df(spark)
    val pred = col("vec_id") % 5 === 0
    val root = tmpDir("graft_ivfms_")
    val store = new graft.io.SnapshotBucketedStore(s"$root/vs", numBuckets = 16,
      "parquet", statsColumns = Seq("cell"), keyColumns = Seq("id"),
      clusterColumn = Some("cell"))
    Ivf.writeIndex(store, "vs", emb, "vec_id", "embedding", cents,
      passthrough = Seq("label"))
    val groups = emb.select("label").distinct().count().toInt
    // the all-pairs reference, EVERY pair's exact score (k = groups)
    val allExact = Similarity.maxSimTopK(emb, "vec_id", "embedding", "label",
        pred, k = groups)
      .select("query_label", "doc_label", "maxsim").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val exactTop3 = Similarity.maxSimTopK(emb, "vec_id", "embedding", "label",
        pred, k = 3)
      .select("query_label", "doc_label").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    def run(candidates: Int, nprobe: Int) =
      Ivf.maxSimFrom(store, "vs", emb, "vec_id", "embedding", "label",
          cents, candidates = candidates, k = 3, nprobe = nprobe,
          queryPred = pred)
        .select("query_label", "doc_label", "maxsim").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    // full probing + doc-covering candidates ⇒ ≡ maxSimTopK exactly
    val full = run(candidates = groups, nprobe = IvfModel.k)
    assert(full.map(_._1).toSet == exactTop3,
      "full-coverage stored MaxSim must serve the all-pairs top-3 set")
    // ...and EVERY surviving score, at any coverage, is the exact
    // chain's score for that pair — stage 2 never re-approximates
    def scoresExact(rows: Array[((Int, Int), Double)]): Unit =
      rows.foreach { case (pair, sim) =>
        assert(allExact(pair) == sim, s"stage-2 score drifted for $pair")
      }
    scoresExact(full)
    val narrow = run(candidates = 3, nprobe = 2)
    val wide = run(candidates = 6, nprobe = 2)
    scoresExact(narrow); scoresExact(wide)
    // recall against the exact top-3 is monotone in candidates
    def recall(rows: Array[((Int, Int), Double)]) =
      (rows.map(_._1).toSet & exactTop3).size.toDouble / exactTop3.size
    assert(recall(wide) >= recall(narrow),
      s"recall fell with more candidates: ${recall(narrow)} -> ${recall(wide)}")
    assert(recall(wide) > 0.5, s"ADC candidates should find most of top-3: ${recall(wide)}")
  }

  test("reindex: atomic re-encode under new centroids; old generation stays readable; stats track occupancy") {
    implicit val s = spark
    val cents8 = IvfModel.df(spark)
    val pred = col("vec_id") % 10 === 0
    val root = tmpDir("graft_ivfrx_")
    val store = new graft.io.SnapshotBucketedStore(s"$root/vs", numBuckets = 16,
      "parquet", statsColumns = Seq("cell"), keyColumns = Seq("id"),
      clusterColumn = Some("cell"))
    Ivf.writeIndex(store, "vs", emb, "vec_id", "embedding", cents8)
    val before = Ivf.searchPqFrom(store, "vs", emb, "vec_id", "embedding",
        cents8, topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    // occupancy stats: fractions partition the corpus
    val stats = Ivf.indexStats(store, "vs").collect()
    assert(stats.map(_.getLong(1)).sum == emb.count())
    assert(math.abs(stats.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // drift response: retrain a DIFFERENT quantizer and swap
    val cents4 = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    Ivf.reindex(store, "vs", emb, "vec_id", "embedding", cents4)
    // the swapped index serves the new quantizer's exact inline result
    val after = Ivf.searchPqFrom(store, "vs", emb, "vec_id", "embedding",
        cents4, topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    val inline4 = Ivf.searchPq(emb, "vec_id", "embedding", cents4,
        topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(after.nonEmpty && after == inline4,
      "post-reindex search must replay the new quantizer's inline form")
    // every stored cell is now one of the 4 new cells
    val newStats = Ivf.indexStats(store, "vs").collect()
    assert(newStats.length <= 4 && newStats.map(_.getLong(1)).sum == emb.count())
    // rollback surface: the superseded generation is still a complete,
    // servable index under the OLD centroids (time travel, pre-vacuum)
    val old = store.readAt("vs", store.snapshots("vs").init.last).get
    val served = Ivf.searchPqIndexed(old, emb, "vec_id", "embedding",
        cents8, topK = 5, nprobe = 2, queryPred = pred)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served == before, "time-traveled index must serve the old results")
  }
}
