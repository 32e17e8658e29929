package graft.llm

import graft.SparkSpec
import graft.io.Prune
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val queries = Seq((1, "hash join strategy"),
    (2, "slow scan filter"), (3, "vector index build"),
    (4, "zzz unmatched terms")).toDF("qid", "qtext")

  private def newStore(root: String) =
    new graft.io.SnapshotBucketedStore(root, numBuckets = 16, "parquet",
      statsColumns = Seq("term"), keyColumns = Seq("term"),
      clusterColumn = Some("term"))(spark)

  test("stored BM25 ≡ inline across generations; term Blooms prune; idempotent re-send") {
    val store = newStore(tmpDir("graft_tix_") + "/tix")
    // TWO generations (append), so pruning and df-exactness must hold
    // across dirs, not within one commit
    val (a, b) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    TextIndex.writeIndex(store, "t", a)
    TextIndex.writeIndex(store, "t", b)
    val inline = Retrieval.bm25TopK(docs, queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    val stored = TextIndex.bm25From(store, "t", queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    assert(inline.nonEmpty && stored == inline,
      "stored-index BM25 must replay the inline ranking exactly")
    // membership pruning: the query's terms touch a strict subset of
    // dirs; a term the corpus never saw touches (almost) none
    val qt = Seq("hash", "join", "strategy")
    val (kept, total) = store.pruned("t_postings", Prune.EqAny("term", qt)).get.counts
    assert(total >= 4 && kept < total,
      s"queried terms must prune some dirs: kept $kept/$total")
    val (keptNone, _) =
      store.pruned("t_postings", Prune.EqAny("term", Seq("graftnosuchterm"))).get.counts
    assert(keptNone <= total / 2,
      s"an absent term should prune most dirs: kept $keptNone/$total")
    // at-least-once transport: re-sending unchanged docs converges
    val verBefore = store.snapshots("t_postings").max
    TextIndex.writeIndex(store, "t", a.limit(10))
    val resent = TextIndex.bm25From(store, "t", queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    assert(resent == inline, "re-sent unchanged docs must not change rankings")
    assert(store.snapshots("t_postings").max > verBefore) // it DID commit
  }

  test("deleteDocs removes a doc from rankings; reindex rebuilds atomically; empty queries serve empty") {
    val store = newStore(tmpDir("graft_tixd_") + "/tix")
    TextIndex.writeIndex(store, "t", docs)
    val before = TextIndex.bm25From(store, "t", queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    val victim = before.head.getLong(2) // a served doc_id
    TextIndex.deleteDocs(store, "t", docs.filter($"doc_id" === victim))
    val after = TextIndex.bm25From(store, "t", queries, k = 5)
    assert(!after.select("doc_id").as[Long].collect().contains(victim),
      "deleted doc must not be served")
    // ...and its index rows are really gone, both tables
    assert(store.read("t_postings").get.filter($"id" === victim).count() == 0)
    assert(store.read("t_doclen").get.filter($"id" === victim).count() == 0)
    // the post-delete ranking ≡ inline over the post-delete corpus
    // (df/totals shrink with the doc — the index stays consistent)
    val inlineAfter = Retrieval.bm25TopK(
        docs.filter($"doc_id" =!= victim), queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    assert(after.orderBy("qid", "rank").collect().toSeq == inlineAfter)
    // full rebuild restores the original index — and ≡ a fresh build
    TextIndex.reindex(store, "t", docs)
    val rebuilt = TextIndex.bm25From(store, "t", queries, k = 5)
      .orderBy("qid", "rank").collect().toSeq
    assert(rebuilt == before)
    // a query batch with no usable terms serves zero rows, not a crash
    val none = TextIndex.bm25From(store, "t",
      Seq((9, "")).toDF("qid", "qtext"), k = 5)
    assert(none.count() == 0)
  }

  private def newVecStore(root: String) =
    new graft.io.SnapshotBucketedStore(root, numBuckets = 16, "parquet",
      statsColumns = Seq("bucket"), keyColumns = Seq("id"),
      clusterColumn = Some("bucket"))(spark)

  test("stored vector tier: ANN ≡ inline, probe buckets prune dirs, hybrid entirely from storage ≡ inline") {
    val tstore = newStore(tmpDir("graft_tixh_") + "/t")
    val vstore = newVecStore(tmpDir("graft_tixv_") + "/v")
    TextIndex.writeIndex(tstore, "t", docs)
    TextIndex.writeVectorIndex(vstore, "t", docs)
    // the full stored hybrid replays the inline composition exactly
    val inlineH = Retrieval.hybridTopKAnn(docs, queries, k = 5, dims = 64,
        poolK = 5, numPlanes = 4, probes = 1)
      .orderBy("qid", "rank").collect().toSeq
    val storedH = TextIndex.hybridFrom(tstore, vstore, "t", queries,
        k = 5, poolK = 5, dims = 64, numPlanes = 4, probes = 1)
      .orderBy("qid", "rank").collect().toSeq
    assert(inlineH.nonEmpty && storedH == inlineH,
      "stored hybrid must replay the inline hybrid bit-for-bit")
    // the semantic constituent alone, same equality
    val tf = Vectorize.termFrequencies(docs, "doc_id", "text", 64)
    val dfT = Vectorize.docFrequencies(tf)
    val totals = Vectorize.corpusSize(docs)
    val dv = Vectorize.toDense(
      Vectorize.sparseNormalized(docs, "doc_id", "text", dfT, totals, 64),
      docs, "doc_id", 64).withColumnRenamed("id", "doc_id")
    val qv = Vectorize.embed(queries, "qid", "qtext", dfT, totals, 64)
      .withColumnRenamed("id", "qid")
    val inlineV = Retrieval.vectorTopKAnn(dv, qv, k = 5, dims = 64,
        numPlanes = 4, probes = 1)
      .orderBy("qid", "rank").collect().toSeq
    val storedV = TextIndex.vectorTopKAnnFrom(vstore, "t", queries, k = 5,
        dims = 64, numPlanes = 4, probes = 1)
      .orderBy("qid", "rank").collect().toSeq
    assert(storedV == inlineV)
    // bucket clustering makes the dirs probe-prunable: a single
    // own-bucket probe opens a fraction of them
    val b = storedV.headOption.map(_ => vstore.read("t_docvecs").get
      .select("bucket").head.getLong(0)).getOrElse(0L)
    val (kept, total) = vstore.pruned("t_docvecs", Prune.range("bucket", b, b)).get.counts
    assert(total >= 4 && kept * 2 <= total,
      s"bucket probe must prune dirs: kept $kept/$total")
  }

  test("appendVectors embeds under the FROZEN stored model; df does not move") {
    val vstore = newVecStore(tmpDir("graft_tixf_") + "/v")
    val (h1, h2) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    TextIndex.writeVectorIndex(vstore, "t", h1)
    val dfBefore = vstore.read("t_vecdf").get.orderBy("bucket")
      .collect().toSeq
    TextIndex.appendVectors(vstore, "t", h2)
    // the model is untouched by the append
    assert(vstore.read("t_vecdf").get.orderBy("bucket").collect().toSeq
      == dfBefore, "append must not refit the frozen df model")
    // every stored vector — both halves — is the h1-model embedding
    val tf1 = Vectorize.termFrequencies(h1, "doc_id", "text", 64)
    val want = Vectorize.embed(docs.select($"doc_id", $"text"), "doc_id",
        "text", Vectorize.docFrequencies(tf1), Vectorize.corpusSize(h1), 64)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val got = vstore.read("t_docvecs").get.select("id", "vec")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(got == want, "appended vectors must embed under the frozen model")
  }
}
