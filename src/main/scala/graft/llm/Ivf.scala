package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor index with LEARNED
  * coarse centroids — the production scale path for similarity search
  * when no natural blocking column exists (q07 uses the testdata's
  * `label` as a given cell id; this module builds its own).
  *
  * Training is Lloyd's k-means expressed as DataFrame ops: assignment
  * is a broadcast join against the (tiny) centroid table + windowed
  * argmin, the update step is one explode + per-(cell, dim) average.
  * Each iteration is a full distributed pass; only the k×dim centroid
  * matrix ever reaches the driver (640 doubles here — constant in
  * corpus size, which is what makes this trainable at 100 TB).
  *
  * Search probes the `nprobe` nearest cells per query (multi-probe is
  * what recovers recall lost at cell boundaries), then ranks
  * exactly — candidates = nprobe/k of the corpus instead of all of it.
  * All dot products go through the codegen'd [[graft.expr.DotProduct]].
  *
  * Determinism: initial centroids are the k hash-min rows (spread by
  * xxhash64 of the id — structure-seeded, no RNG), so train → assign →
  * search replays identically.
  */
object Ivf {

  /** Initial centroids: the k rows with smallest xxhash64(id) —
    * a deterministic pseudo-random spread. The top-k runs distributed
    * (TakeOrdered, no global sort); only the k×dim result is collected
    * and numbered on the driver — same constant-size driver contract as
    * the update step in [[train]], and no single-partition Window. */
  private def initCentroids(v: DataFrame, k: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val top = v.withColumn("_h", xxhash64(col("id")))
      .orderBy(col("_h"))
      .limit(k)
      .select(col("e"), col("_h"))
      .collect()
    top.sortBy(_.getLong(1)).zipWithIndex.toSeq
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
      .toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<double>"))
  }

  /** Squared L2 distance via dots: |a|²−2ab+|b|² (all codegen'd). */
  private def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    Similarity.dot(a, a) - lit(2.0) * Similarity.dot(a, b) + Similarity.dot(b, b)

  /** Assign each vector to its nearest centroid cell. The centroid
    * table is k rows → broadcast; the windowed argmin shuffles on the
    * vector id (high-cardinality, even spread). */
  def assign(v: DataFrame, centroids: DataFrame, out: String = "cell"): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("_d"), col("cell"))
    v.crossJoin(broadcast(centroids)) // bounded fan-out: k centroid rows
      .withColumn("_d", sqDist(col("e"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_d", "_rn", "centroid")
      .withColumnRenamed("cell", out)
  }

  /** Train k-means centroids over `df(embCol)`. Returns the centroid
    * table (cell, centroid: array<double>). */
  def train(df: DataFrame, idCol: String, embCol: String, k: Int, iters: Int = 5): DataFrame = {
    val spark = df.sparkSession
    val v = df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("e"))
    var cents = initCentroids(v, k)
    for (_ <- 0 until iters) {
      val assigned = assign(v, cents)
      // update: mean per (cell, dimension) — explode is dim-linear,
      // partial aggregation collapses before the shuffle. EXACT
      // floor-quantized integer sums (Similarity.quant9Mean, the
      // KMeans.fit/q103 discipline): a float avg() would depend on
      // partial-merge order, so two runs of the same training job
      // could emit different centroids — the two trainers share one
      // determinism contract
      val dims = assigned.select(col("cell"), posexplode(col("e")))
      val means = dims.groupBy(col("cell"), col("pos")).agg(
        Similarity.quant9Mean(col("col")).as("m"))
      // k×dim values → driver → new broadcastable centroid table
      val byCell = means.collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)))
        }
        .toSeq.sortBy(_._1)
      import spark.implicits._
      cents = byCell.toDF("cell", "centroid")
        .select(col("cell"), col("centroid").cast("array<double>"))
    }
    cents
  }

  /** ANN top-k: probe the `nprobe` nearest cells per query, rank the
    * candidates in those cells by exact cosine. Corpus side carries
    * one row per vector (assigned once); only queries fan out ×nprobe. */
  def search(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame = {
    val v = Similarity.withNorm(df, idCol, embCol)
    val corpus = assign(v, centroids)
    // query → nprobe candidate cells (broadcast centroid argmin, keep nprobe)
    val w = Window.partitionBy(col("id")).orderBy(col("_d"), col("cell"))
    val q = v.filter(queryPred)
      .crossJoin(broadcast(centroids)) // bounded fan-out: k centroid rows
      .withColumn("_d", sqDist(col("e"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(
        col("id").as("query_id"),
        col("e").as("qe"),
        col("nrm").as("qn"),
        col("cell"))
    val joined = q
      .join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        Similarity.cosine(col("qe"), col("e"), col("qn"), col("nrm")).as("sim"))
    // bounded-heap top-k (graft.expr.TopKAgg): map-side partials
    // reduce each task's slice of a query's candidate list to topK
    // rows before the shuffle — the window form sorts and ships the
    // whole |queries|·nprobe·cell_size candidate table. Same
    // (sim DESC, id ASC) total order; the q21 oracle replays the
    // window form, so the hash match pins the equivalence.
    val payload = struct(col("neighbor_id"), col("sim"))
    joined
      .groupBy(col("query_id"))
      .agg(graft.expr.TopKAgg.topK(col("sim"), payload, topK).as("graft_top_"))
      .select(col("query_id"), posexplode(col("graft_top_")).as(Seq("graft_r_", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.sim").as("sim"), (col("graft_r_") + 1).cast("int").as("rank"))
  }

  /** IVF-PQ search (IVFADC, Jégou/Douze/Schmid 2011 — the composition
    * every production-scale vector store runs): the coarse IVF stage
    * prunes WHICH vectors score ([[search]]'s nprobe cell probing,
    * unchanged), and product quantization prunes WHAT each candidate
    * costs — the corpus side carries [[PqModel.m]] 4-bit codes (one
    * packed BIGINT at rest, 32× under float32) instead of the float
    * vectors, decoded on the fly inside the scoring projection.
    * Asymmetric distance: queries stay exact floats, candidates rank
    * by cosine(q, decode(codes)) — the [[Similarity.
    * pqTopKWithinLabel]] arithmetic under [[search]]'s probing.
    *
    * Shape at 100 TB: cell assignment + PQ encode are one map-side
    * projection over the corpus (stored once); the candidate join is
    * the same cell EQUI-join as [[search]] but the build/stream sides
    * move 8-byte codes, not 256-byte vectors — the memory-bandwidth
    * win IS the point of PQ; decode adds 64 mults per candidate
    * against 32× less shuffle/scan traffic. Top-k rides the TopKAgg
    * bounded heap (map-side k-reduction). Exactness: every arithmetic
    * step (coarse argmin, per-subspace encode argmin with lowest-index
    * ties, decode, sequential-IEEE dot, rank) is mirrored by the q148
    * oracle, so the approximation is REPRODUCIBLE — same codes, same
    * candidates, same ranks, cross-engine. */
  def searchPq(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame =
    searchPqIndexed(indexRows(df, idCol, embCol, centroids),
      df, idCol, embCol, centroids, topK, nprobe, queryPred)

  /** The AT-REST form of the IVF-PQ index: one row per vector,
    * (id, cell: int, code: bigint) — the coarse cell plus the
    * [[Similarity.pqPack]]ed 4-bit codes. 12 bytes of payload per
    * vector against 256+ bytes of float32 components: THIS is what a
    * 100 TB vector store persists and shuffles; the float vectors are
    * only ever read once, at encode time. One map-side projection
    * (broadcast centroid argmin + compiled encode), no shuffle beyond
    * [[assign]]'s windowed argmin. */
  def indexRows(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      passthrough: Seq[String] = Nil,
  ): DataFrame = {
    val v = df.select(
      col(idCol).as("id") +: passthrough.map(col) :+
        col(embCol).cast("array<double>").as("e"): _*)
    assign(v, centroids)
      .select(col("id") +: col("cell") +:
        Similarity.pqPack(Similarity.pqEncode(col("e"))).as("code") +:
        passthrough.map(col): _*)
  }

  /** IVF-PQ search against a PREBUILT index table ((id, cell, code) —
    * [[indexRows]]' shape, whether computed inline or read from a
    * store): the cell equi-join carries the 8-byte packed codes, and
    * decode happens ONLY in the post-join scoring projection — the
    * build/stream sides of the candidate exchange never hold a
    * decoded array, which is the PQ bandwidth win (a query-heavy
    * batch would otherwise shuffle dims×8-byte arrays by cell,
    * surrendering the 32× compression exactly where it matters).
    * Candidates with a zero decoded norm drop post-join (cosine
    * undefined), same result set as filtering them at encode time. */
  def searchPqIndexed(
      index: DataFrame,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame = {
    val v = Similarity.withNorm(df, idCol, embCol)
    // query side: exact floats, nprobe nearest cells each
    val w = Window.partitionBy(col("id")).orderBy(col("_d"), col("cell"))
    val q = v.filter(queryPred)
      .crossJoin(broadcast(centroids)) // bounded fan-out: k centroid rows
      .withColumn("_d", sqDist(col("e"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col("id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"))
    val joined = q
      .join(index.select(col("id"), col("cell"), col("code")), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      // score AFTER the join, straight from the packed codes: the
      // exchange moved 8-byte longs, and the fused ADC loop
      // ([[Similarity.pqCosine]]) decodes+dots with zero allocation —
      // bit-equal to the pqDecode → dot/dot/sqrt chain (null where
      // that chain's dnrm > 0 filter dropped the row)
      .select(col("query_id"), col("id").as("neighbor_id"),
        Similarity.pqCosine(col("qe"), col("qn"), col("code")).as("sim"))
      .filter(col("sim").isNotNull)
    val payload = struct(col("neighbor_id"), col("sim"))
    joined
      .groupBy(col("query_id"))
      .agg(graft.expr.TopKAgg.topK(col("sim"), payload, topK).as("graft_top_"))
      .select(col("query_id"), posexplode(col("graft_top_")).as(Seq("graft_r_", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.sim").as("sim"), (col("graft_r_") + 1).cast("int").as("rank"))
  }

  /** Candidate near-duplicate PAIRS by ADC similarity: each query
    * vector probes its `nprobe` nearest cells against an
    * (id, cell, code) index and keeps every candidate whose
    * asymmetric cosine (exact query vs stored codes, the fused
    * [[Similarity.pqCosine]]) clears `threshold` — canonical
    * (id_a < id_b), distinct. The EDGE GENERATOR of embedding-side
    * streaming dedup ([[graft.streaming.VectorIndexIntake.
    * updateDupLabels]]): a micro-batch of new vectors probes only
    * its own cells, never the corpus, and what travels is 8-byte
    * codes. Estimate tier, stated honestly: the score is quantized
    * (reconstruction error shifts absolute cosines), so thresholds
    * calibrate against the ADC scale, and the periodic exact batch
    * pass ([[Dedup]] on the float vectors) remains the exact
    * recompute — the [[graft.streaming.AnnIntake]] discipline. */
  def adcPairsAbove(
      index: DataFrame,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      nprobe: Int,
      threshold: Double,
      queryPred: org.apache.spark.sql.Column = lit(true),
  ): DataFrame = {
    val v = Similarity.withNorm(df, idCol, embCol)
    val w = Window.partitionBy(col("id")).orderBy(col("_d"), col("cell"))
    val q = v.filter(queryPred)
      .crossJoin(broadcast(centroids))
      .withColumn("_d", sqDist(col("e"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col("id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"))
    q.join(index.select(col("id"), col("cell"), col("code")), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        Similarity.pqCosine(col("qe"), col("qn"), col("code")).as("sim"))
      .filter(col("sim").isNotNull && col("sim") >= threshold)
      .select(least(col("query_id"), col("id")).as("id_a"),
        greatest(col("query_id"), col("id")).as("id_b"))
      .distinct()
  }

  /** Build (or incrementally refresh) the PERSISTED IVF-PQ index:
    * [[indexRows]] upserted into a [[graft.io.SnapshotBucketedStore]]
    * keyed by id — re-encoded vectors replace their old row,
    * untouched buckets carry forward by reference. Configure the
    * store with `keyColumns = Seq("id")` (point-lookup Blooms),
    * `statsColumns = Seq("cell")` (min/max cell per generation dir,
    * what [[searchPqFrom]] prunes with) and — the load-bearing bit —
    * `clusterColumn = Some("cell")`: rows then bucket by CELL, the
    * posting-list layout (all of one cell's codes in one dir), which
    * is what makes the per-dir cell stats narrow enough to prune. An
    * id-hash layout would mix every cell into every dir and the
    * stats would never exclude anything. Vectors are append+delete
    * (re-embedding = delete + insert), the clustered-store contract. */
  def writeIndex(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      passthrough: Seq[String] = Nil,
  ): Unit = {
    implicit val spark: SparkSession = df.sparkSession
    store.upsert(table,
      indexRows(df, idCol, embCol, centroids, passthrough), "id")
  }

  /** IVF-PQ search THROUGH the persisted index — the shape a vector
    * store actually serves: cell assignment + PQ encode of the corpus
    * happened ONCE at [[writeIndex]]/intake time; a search batch
    * touches the stored (id, cell, code) rows, never the float
    * vectors of the corpus. The read path prunes via the manifest
    * cell stats: the query batch's probed cells are a ≤ k·nprobe
    * driver-side set (k centroid rows — the same constant-size hop
    * [[train]] already makes), so generation dirs whose recorded
    * [min, max] cell range misses every probe are skipped before the
    * scan, and the residual `isin` keeps exactness. Returns the same
    * rows as [[searchPq]] over the vectors the index currently
    * covers — the spec pins that equivalence bit-for-bit. */
  def searchPqFrom(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame =
    searchPqIndexed(
      readIndexPruned(store, table, df, idCol, embCol, centroids, nprobe, queryPred),
      df, idCol, embCol, centroids, topK, nprobe, queryPred)

  /** The stored index restricted (conservatively) to the query
    * batch's probed cells: the probe set is ≤ k driver values (the
    * constant-size centroid hop), manifest cell stats skip
    * provably-disjoint generation dirs, and the residual `isin`
    * keeps exactness. Missing table → empty index (the store's
    * missing-table→empty discipline). */
  private def readIndexPruned(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
      extraPreds: Seq[(String, Any, Any)] = Nil,
  ): DataFrame = {
    val v = Similarity.withNorm(df, idCol, embCol)
    val w = Window.partitionBy(col("id")).orderBy(col("_d"), col("cell"))
    val probedCells = v.filter(queryPred)
      .crossJoin(broadcast(centroids))
      .withColumn("_d", sqDist(col("e"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (probedCells.isEmpty)
      store.read(table).getOrElse(emptyIndex(df.sparkSession))
    else store.pruned(table, graft.io.Prune.Ranges(
        ("cell", probedCells.head, probedCells.last) +: extraPreds))
      .flatMap(_.read).map(_.filter(col("cell").isin(probedCells: _*)))
      .getOrElse(emptyIndex(df.sparkSession))
  }

  /** FILTERED ANN — attribute predicate + vector search in one pass
    * (the "filtered vector search" every production vector store
    * grows): search only the indexed vectors whose stored
    * `attrCol` ∈ [lo, hi]. The filter applies to the CANDIDATE side
    * BEFORE the cell join (map-side on the index scan, with X184
    * conjunctive dir skipping when the manifest carries attr stats —
    * dirs disjoint on EITHER the probed cell range OR the attribute
    * range are never opened), so a selective filter shrinks the join
    * itself rather than discarding scored candidates after the fact —
    * post-filtering an unfiltered top-k would also UNDER-FILL results
    * (k survivors of the filter ≠ top-k of the filtered corpus).
    * Queries are unrestricted. Requires the index built with
    * `passthrough = Seq(attrCol)`; declare attrCol in the store's
    * `statsColumns` for the dir-skipping tier. */
  def searchPqFromWhere(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
      attrCol: String,
      lo: Any,
      hi: Any,
  ): DataFrame =
    searchPqIndexed(
      readIndexPruned(store, table, df, idCol, embCol, centroids, nprobe,
        queryPred, Seq((attrCol, lo, hi))),
      df, idCol, embCol, centroids, topK, nprobe, queryPred)

  /** IVFADC-R — the full production vector-search composition: coarse
    * probing prunes WHICH vectors score, packed PQ codes prune WHAT
    * the wide pass costs ([[searchPqFrom]] retrieving `poolK` ADC
    * candidates from the STORED index), and an exact float cosine
    * re-ranks the survivors to `topK` (the standard recall repair:
    * quantization error can misorder near-ties, so retrieve wide and
    * let the exact metric pick — scores come out bit-equal to brute
    * force for every surviving pair). Stage 2 touches ONLY the
    * |queries|·poolK pool — two id-keyed hash joins fetch the
    * full-precision vectors for exactly the pairs that need them;
    * the corpus floats are never scanned wholesale (the index serves
    * the wide pass, the point of storing it). */
  def searchPqRerankFrom(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      topK: Int,
      poolK: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame = {
    require(poolK >= topK, s"poolK ($poolK) must cover topK ($topK)")
    val pool = searchPqFrom(store, table, df, idCol, embCol, centroids,
        poolK, nprobe, queryPred)
      .select(col("query_id"), col("neighbor_id"))
    val ex = Similarity.withNorm(df, idCol, embCol)
    val q = ex.select(col("id").as("query_id"),
      col("e").as("qe"), col("nrm").as("qn"))
    val n = ex.select(col("id").as("neighbor_id"),
      col("e").as("ne"), col("nrm").as("nn"))
    val exact = pool
      .join(q, Seq("query_id"))
      .join(n, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qe"), col("ne")) /
          (col("qn") * col("nn"))).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Late-interaction (ColBERT-style) retrieval THROUGH the persisted
    * IVF-PQ index — the PLAID-shaped composition (Santhanam et al.
    * 2022, "PLAID: an efficient engine for late interaction
    * retrieval"): the stored codes serve an APPROXIMATE MaxSim
    * candidate stage, and the exact float chain re-ranks only the
    * survivors. A "document" is a group of vectors under `groupCol`
    * (the index must be built with `passthrough = Seq(groupCol)` so
    * the doc key sits beside the codes — stage 1 touches ONLY the
    * index). Stage 1: each query vector probes its `nprobe` nearest
    * cells, ADC-scores the stored codes it meets there (packed longs
    * through the cell join, the fused [[Similarity.pqCosine]] loop
    * after it), and per (query doc, candidate doc) the per-query-
    * vector maxima fold sequentially — an ESTIMATE of MaxSim that is
    * doubly approximate (quantized cosines AND only probed-cell pairs
    * contribute), exactly what makes it cheap; the top `candidates`
    * docs per query survive, the query's own doc riding along
    * (stage 1 excludes the diagonal, so the union is disjoint).
    * Stage 2: the shared exact grid ([[Similarity.maxSimOverGrid]])
    * re-scores ONLY surviving pairs — the corpus float table is
    * touched through a doc-key hash join restricted to the grid,
    * never scored wholesale. Surviving pairs come out bit-equal to
    * [[Similarity.maxSimTopK]], so recall is monotone in
    * `candidates`/`nprobe` and reaches the all-pairs form at full
    * probing + doc-covering candidates (spec-pinned). */
  def maxSimFrom(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      groupCol: String,
      centroids: DataFrame,
      candidates: Int,
      k: Int,
      nprobe: Int,
      queryPred: org.apache.spark.sql.Column,
  ): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must cover k ($k)")
    val index = readIndexPruned(store, table, df, idCol, embCol, centroids,
      nprobe, queryPred)
    val qv = Similarity.withNorm(df.filter(queryPred), idCol, embCol,
        extra = Seq(groupCol))
      .select(col("id").as("qid"), col(groupCol).as("query_label"),
        col("e").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("_d"), col("cell"))
    val probes = qv.crossJoin(broadcast(centroids))
      .withColumn("_d", sqDist(col("qe"), col("centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col("qid"), col("query_label"), col("qe"), col("qn"), col("cell"))
    val adc = probes
      .join(index.select(col("cell"), col("code"),
        col(groupCol).as("doc_label")), Seq("cell"))
      .filter(col("doc_label") =!= col("query_label"))
      .select(col("query_label"), col("doc_label"), col("qid"),
        Similarity.pqCosine(col("qe"), col("qn"), col("code")).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_label"), col("doc_label"), col("qid"))
      .agg(max(col("sim")).as("m"))
    // the q141 sequential fold, on the ADC estimates
    val approx = adc
      .groupBy(col("query_label"), col("doc_label"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("qid"), col("m")))),
        lit(0.0),
        (acc, x) => acc + x.getField("m")).as("amaxsim"))
    val wc = Window.partitionBy(col("query_label"))
      .orderBy(col("amaxsim").desc, col("doc_label"))
    val grid = approx.withColumn("_crank", row_number().over(wc))
      .filter(col("_crank") <= candidates)
      .select(col("query_label"), col("doc_label"))
      .unionByName(qv.select(col("query_label")).distinct()
        .select(col("query_label"), col("query_label").as("doc_label")))
    val d = Similarity.withNorm(df, idCol, embCol, extra = Seq(groupCol))
      .select(col(groupCol).as("doc_label"), col("e").as("de"),
        col("nrm").as("dn"))
    Similarity.maxSimOverGrid(qv, d, grid, k)
  }

  /** Index health — the drift signal that tells an operator WHEN to
    * [[reindex]]: per-cell occupancy of the STORED index, with each
    * cell's fraction of the total. Centroids are frozen artifacts and
    * corpora drift, so occupancy skews over time — a hot cell serves
    * ever-bigger posting lists (nprobe candidate cost is the occupancy
    * of the probed cells) until re-training rebalances. Reads only the
    * 4-byte cell column of the stored table (column pruning to the
    * scan), one map-side-combined count per cell, and the 1-row total
    * joins back by broadcast — nothing here scales with dims or code
    * width. Missing table → zero rows. */
  def indexStats(
      store: graft.io.SnapshotBucketedStore,
      table: String,
  ): DataFrame = {
    val idx = store.read(table).getOrElse(return {
      val s = store.spark
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("frac",
            org.apache.spark.sql.types.DoubleType))))
    })
    val perCell = idx.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val total = idx.agg(count(lit(1)).as("graft_tot_"))
    perCell.crossJoin(broadcast(total))
      .select(col("cell"), col("cnt"),
        (col("cnt").cast("double") / col("graft_tot_")).as("frac"))
  }

  /** Re-encode the ENTIRE index under new centroids/codebooks as ONE
    * atomic generation swap — the re-training rollout every IVF
    * deployment eventually runs (the coarse quantizer is a frozen
    * artifact; when [[indexStats]] shows the corpus has drifted away
    * from it, you retrain and re-encode): [[indexRows]] under the new
    * `centroids` is staged completely and committed via the store's
    * full-replace manifest CAS, so searches serve the OLD index until
    * the commit instant and the NEW one after — never a half-encoded
    * mix; a crash mid-stage leaves the old index serving (the K3/K4
    * staged-replace discipline), and the superseded generation stays
    * readable via [[graft.io.SnapshotBucketedStore.readAt]] until
    * vacuumed (rollback = serve the old version). Streaming intake
    * ([[graft.streaming.VectorIndexIntake]]) must of course switch to
    * the same new artifacts — mixed-artifact codes are exactly what
    * the atomic swap exists to prevent. */
  def reindex(
      store: graft.io.SnapshotBucketedStore,
      table: String,
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      passthrough: Seq[String] = Nil,
  ): Unit =
    store.rebuild(table, indexRows(df, idCol, embCol, centroids, passthrough), "id")

  /** Zero-row (id, cell, code) frame — the missing-table degrade of
    * [[searchPqFrom]] (search over an empty index returns no rows,
    * mirroring the store's missing-table→empty discipline). */
  private def emptyIndex(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("cell", IntegerType),
        StructField("code", LongType))))
  }
}
