package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over an edge list — the corpus-governance view of
  * link structure: which sources/documents/entities sit central in a
  * citation, duplication, or interaction graph (the public
  * PageRank-as-quality-prior move for web corpora).
  *
  * Everything runs in SCALED-LONG arithmetic: ranks are integers (a
  * virtual mass of `scale` per node), every division is integral, so
  * each iteration is a sum of exact integers — merge-order-FREE. A
  * float PageRank's Σ over incoming edges depends on reduction order
  * and can't be replayed by another engine bit-for-bit; this one
  * hash-matches a DuckDB replay of the same recurrence (q98). The
  * cost is quantization: each edge contribution floors away < 1 rank
  * unit, i.e. a relative error < maxOutDegree/scale — with the
  * default scale 10⁹, noise in the 10th digit of any realistic graph.
  *
  * Scale shape (the textbook distributed PageRank): per iteration ONE
  * shuffle join of ranks against edges on the source key, then ONE
  * groupBy-sum shuffle on the destination (map-side partials) — no
  * driver-side loops over nodes, no adjacency matrix; the edges
  * subplan is identical across iterations so its exchange plans once
  * and REUSES (the q69 funnel pattern, plan-audited). [[pageRank]]'s
  * lineage grows linearly in `iterations` (fine for the catalog's 3);
  * production-length runs use [[pageRankConverged]], which
  * checkpoints internally and stops at the exact integer fixed
  * point.
  */
object Graph {

  /** Weighted PageRank. `edges` must be key-unique per (src, dst) —
    * aggregate parallel edges first (duplicate pairs would double
    * their weight silently). Weights must be positive longs.
    *
    * Recurrence (all integral, positive operands so div = floor on
    * both engines):
    *   out(u)      = Σ_v w(u,v)
    *   contrib     = (r(u) · w(u,v)) div out(u)
    *   r'(v)       = (scale · (den−num)) div den
    *               + (num · Σ_u contrib) div den
    * with r₀(v) = scale for every node appearing in `edges` (either
    * side). Nodes with no out-edges (dangling) contribute nothing —
    * their mass decays rather than redistributing (the standard
    * "remove dangling" simplification; symmetrized graphs have none).
    * Total mass ≈ N·scale: callers must pick `scale` so
    * N·scale·max(w) < 2⁶³ (defaults leave ~9 orders of headroom).
    *
    * Output: (node, rank) — rank in units of 1/scale of a node's
    * fair share. */
  /** `assumeNoDangling`: when every node is known to have BOTH in-
    * and out-edges (true of any symmetrized graph by construction),
    * the per-iteration left join against the node table is pure
    * overhead — every node appears in the inbound aggregate anyway —
    * and this flag skips it, saving one join per iteration with
    * BIT-IDENTICAL results (spec-pinned). With dangling nodes the
    * flag would silently drop them from the output; leave it false
    * unless the construction guarantees the property. */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int = 5,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L,
      assumeNoDangling: Boolean = false,
  ): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    rankRounds(edges, srcCol, dstCol, weightCol, iterations, None,
      dampingNum, dampingDen, scale, assumeNoDangling)
  }

  /** CONVERGENCE-STOP [[pageRank]] for production-length runs: iterate
    * until the largest per-node rank movement is ≤ `epsilon` (in
    * scaled units), up to `maxIterations`. The integral arithmetic is
    * what makes the stopping rule EXACT — the recurrence maps integer
    * vectors to integer vectors, so it reaches a literal fixed point
    * (Δ = 0) in finitely many rounds and `epsilon = 0` is a
    * meaningful default; a float PageRank can only ever chase an
    * approximate residual.
    *
    * Every `checkEvery` iterations the rank table is EAGERLY
    * localCheckpoint'ed — cutting the join-per-iteration lineage the
    * fixed-iteration form accumulates (its documented ~20-round
    * limit) — and the max-|Δ| against the previous checkpoint is one
    * scalar driver hop off the two materialized tables. `checkEvery`
    * trades driver round-trips against overshoot: at k > 1 the test
    * sees movement across k rounds (a STRONGER stability statement),
    * at the cost of up to k−1 extra iterations past the true fix
    * point. The returned plan is a checkpoint scan plus at most
    * `checkEvery − 1` iteration joins, no matter how many rounds ran
    * (spec-audited at 30 rounds).
    *
    * [[pageRank]] stays the oracle form — its unconditional loop is
    * what the q98 CTE chain replays; this variant is bit-identical to
    * it whenever both run the same number of iterations
    * (spec-pinned). */
  def pageRankConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      maxIterations: Int = 50,
      epsilon: Long = 0L,
      checkEvery: Int = 4,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L,
      assumeNoDangling: Boolean = false,
  ): DataFrame = {
    require(maxIterations >= 1, s"need at least one iteration, got $maxIterations")
    require(epsilon >= 0L, s"epsilon must be >= 0, got $epsilon")
    val stop = Rounds.Stop(checkEvery, sinceCheck = true) { (last, ranks) =>
      val d = ranks.as("n")
        .join(last.as("o"), col("n.node") === col("o.node"))
        .agg(max(abs(col("n.graft_r_") - col("o.graft_r_"))))
        .head().get(0)
      // null max ⇔ empty graph: vacuously converged
      d == null || d.asInstanceOf[Long] <= epsilon
    }
    rankRounds(edges, srcCol, dstCol, weightCol, maxIterations, Some(stop),
      dampingNum, dampingDen, scale, assumeNoDangling)
  }

  /** The body of [[pageRank]] and [[pageRankConverged]]. Per round:
    * ranks ⋈ edges on src, contribution groupBy-sum on dst, damping
    * applied integrally; no per-round cut, so the fixed form is one
    * lineage (the q98 replay). */
  private def rankRounds(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, rounds: Int, stop: Option[Rounds.Stop[DataFrame]],
      dampingNum: Long, dampingDen: Long, scale: Long,
      assumeNoDangling: Boolean): DataFrame = {
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping must be in (0,1): $dampingNum/$dampingDen")
    val e = rankEdges(edges, srcCol, dstCol, weightCol)
    // weight share of each edge is iteration-invariant — join it once
    val withOut = withOutWeight(e)
    val nodes = nodesOf(e)
    val base = (scale * (dampingDen - dampingNum)) / dampingDen
    // internal name graft_r_ — `rank` would shadow the SQL function
    // inside expr() and is reserved in other engines' replays
    Rounds.run(nodes.withColumn("graft_r_", lit(scale)), rounds,
        cutEachRound = false, stop) { ranks =>
      val inbound = withOut
        .join(ranks, col("graft_src_") === col("node"))
        .select(col("graft_dst_").as("node"),
          expr("(graft_r_ * graft_w_) div graft_outw_").as("graft_c_"))
        .groupBy(col("node"))
        .agg(sum(col("graft_c_")).as("graft_in_"))
      val joined =
        if (assumeNoDangling) inbound
        else nodes.join(inbound, Seq("node"), "left")
      joined
        .select(col("node"),
          (lit(base) +
            expr(s"($dampingNum * coalesce(graft_in_, 0L)) div $dampingDen")
          ).as("graft_r_"))
    }.state.select(col("node"), col("graft_r_").as("rank"))
  }

  /** PageRank's edge prep: a null endpoint would form a phantom node
    * (and never join); a non-positive weight would zero or negate its
    * edge's contribution — both carry no rank mass, dropped up front
    * (the X120 non-positive-weight rule). */
  private def rankEdges(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(weightCol) > 0L)
      .select(
        col(srcCol).as("graft_src_"),
        col(dstCol).as("graft_dst_"),
        col(weightCol).cast("long").as("graft_w_"))

  /** Each rank edge with its source's total out-weight `graft_outw_`. */
  private def withOutWeight(e: DataFrame): DataFrame =
    e.join(
      e.groupBy(col("graft_src_")).agg(sum(col("graft_w_")).as("graft_outw_")),
      Seq("graft_src_"))

  /** Every node on either side of a rank edge. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("graft_src_").as("node"))
      .union(e.select(col("graft_dst_").as("node")))
      .distinct()

  /** PERSONALIZED PageRank (topic-sensitive PageRank, Haveliwala
    * 2002): the teleport mass lands only on `seeds` instead of
    * uniformly — ranks measure proximity to the seed set through the
    * link structure (the "expand a trusted whitelist" corpus-curation
    * move: seed known-good sources, harvest what they structurally
    * endorse).
    *
    * Same scaled-long arithmetic as [[pageRank]], different mass
    * convention: the VIRTUAL TOTAL mass is one `scale` spread over
    * the |S| seeds (uniform PR gives every node its own `scale`), so
    *   r₀(v)   = seed(v) ? scale div |S| : 0
    *   r'(v)   = seed(v) ? ((den−num)·scale) div (den·|S|) : 0
    *           + (num · Σ contrib) div den
    * — every operand integral and positive, div = floor on both
    * engines, so the q113 CTE chain replays it bit-for-bit. |S| is
    * one scalar driver hop (the documented O(1)-hop budget).
    *
    * Seeds absent from the edge list carry no link structure and are
    * dropped (they would hold teleport mass that can never flow);
    * |S| counts only seeds IN the graph, so the teleport mass stays
    * fully allocated. Empty effective seed set is refused loudly.
    *
    * Per-iteration cost is identical to [[pageRank]] — one ranks⋈edges
    * join + one dst groupBy-sum; the node-side left join carries the
    * seed flag, so personalization adds zero extra shuffles.
    * `assumeNoDangling` is the [[pageRank]] fast path adapted: on a
    * graph where every node has in- and out-edges the inbound
    * aggregate already covers all nodes, so the per-iteration node
    * join collapses to a BROADCAST join against the tiny seed set —
    * one shuffle join less per round. Results are identical to the
    * default path on the rank > 0 support (spec-pinned); the fast
    * path omits non-seed nodes with zero inbound mass, which the
    * default path emits as rank-0 rows (the [[pageRank]] fast-path
    * caveat, unchanged). */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int = 5,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L,
      assumeNoDangling: Boolean = false,
  ): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping must be in (0,1): $dampingNum/$dampingDen")
    require(seeds.columns.length == 1,
      s"seeds must be a single node column, got ${seeds.columns.toSeq}")
    // |S| needs an ACTION before the ranks job — unlike [[pageRank]],
    // which runs one job total. Checkpoint the out-weighted edge list
    // (not the raw one): whatever aggregation the caller built the
    // edges from (q113: a full fact-table groupBy) executes ONCE, not
    // once per action, AND the per-iteration contribs join reads one
    // materialized table instead of re-joining edges⋈out every round
    // (optimization round 22 — the edge table was read twice per
    // iteration). Every other consumer (nodes, the seed semi-join)
    // derives from the same checkpoint.
    val withOut =
      withOutWeight(rankEdges(edges, srcCol, dstCol, weightCol)).localCheckpoint()
    val nodes = nodesOf(withOut)
    val seedSet = seeds.toDF("node").na.drop().distinct()
      .join(nodes, Seq("node"), "left_semi")
    val sCount = seedSet.count()
    require(sCount >= 1L,
      "no seed appears in the edge list — personalization is undefined")
    val seedInit = scale / sCount
    val seedBase = ((dampingDen - dampingNum) * scale) / (dampingDen * sCount)
    val flagged = nodes
      .join(seedSet.withColumn("graft_seed_", lit(1)), Seq("node"), "left")
    val ranks0 = flagged
      .select(col("node"),
        when(col("graft_seed_").isNotNull, lit(seedInit))
          .otherwise(lit(0L)).as("graft_r_"))
    val seedFlag = seedSet.withColumn("graft_seed_", lit(1))
    // zero-mass contribution rows keep every SEED present in the
    // inbound aggregate even in rounds where no neighbor sends it
    // mass (early rounds start almost everywhere at rank 0) — without
    // them the fast path would silently drop a seed's teleport base;
    // non-seed zero-inbound nodes may drop: an absent row and an
    // explicit rank 0 contribute identically to the next round
    val seedZero = seedSet.select(col("node"), lit(0L).as("graft_c_"))
    Rounds.run(ranks0, iterations, cutEachRound = false) { ranks =>
      val contribs = withOut
        .join(ranks, col("graft_src_") === col("node"))
        .select(col("graft_dst_").as("node"),
          expr("(graft_r_ * graft_w_) div graft_outw_").as("graft_c_"))
      val inbound =
        (if (assumeNoDangling) contribs.unionByName(seedZero) else contribs)
          .groupBy(col("node"))
          .agg(sum(col("graft_c_")).as("graft_in_"))
      val joined =
        if (assumeNoDangling) inbound.join(broadcast(seedFlag), Seq("node"), "left")
        else flagged.join(inbound, Seq("node"), "left")
      joined
        .select(col("node"),
          (when(col("graft_seed_").isNotNull, lit(seedBase)).otherwise(lit(0L)) +
            expr(s"($dampingNum * coalesce(graft_in_, 0L)) div $dampingDen")
          ).as("graft_r_"))
    }.state.select(col("node"), col("graft_r_").as("rank"))
  }

  /** Per-node triangle counts (the clustering-coefficient numerator —
    * the classic cohesion signal: an entity whose neighbors also link
    * to EACH OTHER sits in a genuine community, not a hub-and-spoke
    * artifact) via degree orientation (Schank & Wagner 2005, the
    * published distributed-triangle method): orient every undirected
    * edge from its (degree, id)-smaller endpoint to the larger, so
    * each triangle {u,v,w} materializes EXACTLY once as the wedge
    * u→v, u→w closed by v→w — and, critically, the oriented
    * out-degree is O(√E) even at hub nodes, which bounds the wedge
    * join's fan-out where a naive neighbor-pair explode is quadratic
    * in the hub degree (the all-pairs cliff this repo never takes).
    *
    * Shape: dedupe/canonicalize (one distinct), degree groupBy, the
    * wedge self-join on the oriented source, and one semi-ish inner
    * join closing the wedge against the oriented edge set — all
    * equi-joins on node keys, exact integer counts, fully
    * deterministic → q114 hash-replayable. Self-loops and parallel
    * edges are dropped up front (a self-loop is no triangle; a
    * parallel edge would double-count one).
    *
    * Output: (node, triangles) for every node of the graph, 0 kept —
    * the denominator side (deg·(deg−1)/2) is derivable from the same
    * degree table, so the caller can form clustering coefficients
    * without another pass. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
  ): DataFrame = {
    val und = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(und).withColumnRenamed("deg", "graft_deg_")
    // orient a→b when (deg(a), a) <= (deg(b), b); a < b lexically by
    // construction, so degree ties orient a→b
    val o = und
      .join(deg.withColumnRenamed("node", "a")
        .withColumnRenamed("graft_deg_", "graft_da_"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("graft_deg_", "graft_db_"), Seq("b"))
      .select(
        when(col("graft_da_") <= col("graft_db_"), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("graft_da_") <= col("graft_db_"), col("b"))
          .otherwise(col("a")).as("v"))
    // wedges u→v, u→w with v before w in the orientation order are
    // exactly the candidate closings; the join on the oriented edge
    // set keeps those where v→w exists
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.u") === col("e2.u") &&
        col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
      // the closing edge may be oriented x→y or y→x depending on
      // degrees — probe the CANONICAL pair set (= und: x < y lexically
      // on both sides, so no direction case split is needed)
      .join(und.withColumnRenamed("a", "x").withColumnRenamed("b", "y"),
        Seq("x", "y"), "inner")
      .select(col("u"), col("x"), col("y"))
    val credited = tri.select(explode(array(col("u"), col("x"), col("y")))
      .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("node"))
      .join(credited, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** k-CORE of an undirected graph (Seidman 1983): the maximal
    * subgraph where every node keeps degree ≥ k — the standard
    * "dense cohesive nucleus" extraction (spam-farm detection, the
    * community seed the co-presence X157 triangles refine). Fixed
    * `iterations` peeling rounds: recompute degrees on the current
    * edge set, drop nodes under k, keep edges whose BOTH endpoints
    * survive. The peel is monotone (edge set only shrinks), so once
    * a round removes nothing the result is the true k-core; a fixed
    * round count keeps the operator oracle-unrollable (the q35/q39
    * CC precedent) — [[kCoreConverged]] is the production form that
    * detects the fixpoint itself.
    *
    * Per round: one map-side-combined degree groupBy + two left-semi
    * joins (node-key equi-joins, no fan-out — an edge matches at
    * most once per side). Canonicalization (self-loop drop, parallel
    * and reversed duplicates merged) happens once up front, exactly
    * as in [[triangleCounts]].
    *
    * Output: (node, deg) for every surviving node with its degree
    * INSIDE the core — empty when the graph has no k-core. */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iterations: Int,
  ): DataFrame = {
    require(iterations >= 1, s"need at least one round, got $iterations")
    peel(edges, srcCol, dstCol, k, iterations, None)
  }

  /** CONVERGENCE-STOP [[kCore]]: peel until a round removes no edge
    * (the true k-core by monotonicity), up to `maxIterations`; the
    * edge count every `checkEvery` rounds is one scalar driver hop,
    * and the peel is monotone, so an equal count over a whole check
    * window means no round in it removed anything. Worst-case round
    * count is the graph's degeneracy ordering depth (a path graph
    * peels one layer per round). Bit-identical to [[kCore]] at
    * matched round counts (spec-pinned).
    *
    * A run that reaches `maxIterations` returns the partial peel it
    * has — a 12-node path at k = 2 with `maxIterations = 2` keeps 8
    * nodes, though its 2-core is empty. Telling an unsettled last
    * window from a settled one would take one more job, so the bound
    * is not checked: size `maxIterations` past the peel depth. */
  def kCoreConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIterations: Int = 100,
      checkEvery: Int = 4,
  ): DataFrame = {
    require(maxIterations >= 1, s"need at least one round, got $maxIterations")
    peel(edges, srcCol, dstCol, k, maxIterations,
      Some(new Rounds.Stop[Long](checkEvery, sinceCheck = true, _.count(), _ == _)))
  }

  /** The body of [[kCore]] and [[kCoreConverged]]. Each round
    * references the edge frame FOUR times (twice in the degree union,
    * twice in the semi-joins): left unchecked the plan DAG grows
    * 4^rounds and analysis itself blows up — so the edge set is cut
    * every round, the X34 CC rule (results unchanged; the peel is
    * already an action-per-round shape in every published BSP
    * formulation). */
  private def peel(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int, stop: Option[Rounds.Stop[Long]]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
    degreesOf(Rounds.run(e, rounds, cutEachRound = true, stop)(peelRound(_, k)).state)
  }

  /** COMMUNITY DETECTION by synchronous label propagation (Raghavan
    * et al. 2007, made deterministic): every node starts with its own
    * id as label; each round it adopts the most frequent label among
    * its neighbors, ties broken by the SMALLEST label — the published
    * random tie-break replaced by an order so the assignment is a
    * pure function of the graph (replayable, hash-matchable). Runs on
    * the canonical simple undirected edge set ([[canonicalEdges]]:
    * a < b, self-loops out, duplicates merged), so a node's own label
    * never votes for itself.
    *
    * Fixed `iterations` (this form — the unconditional loop a SQL
    * oracle unrolls, q121); [[labelPropagationConverged]] is the
    * production form. Synchronous LPA can 2-cycle on bipartite-ish
    * structures rather than converge — a bounded round count is the
    * standard remedy and the converged variant detects the
    * oscillation instead of looping forever.
    *
    * Scale shape: per round ONE shuffle join (neighbor labels:
    * adjacency ⋈ labels on the neighbor key) + ONE two-key groupBy
    * count + ONE per-node argmax via min(struct(-count, label)) —
    * map-side-combinable aggregates, no driver hop; per-round
    * localCheckpoint cuts the join-per-round lineage (the [[kCore]]
    * 4^rounds rule). Label payload is one value per node — at 100 TB
    * the round cost is ∝ |E| regardless of community sizes; hubs
    * fan-in their neighbor votes through partial aggregation, never
    * through a per-node collect.
    *
    * Output: (node, label) — label = the elected community
    * representative's id; communities are the label-equal classes. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
  ): DataFrame = {
    require(iterations >= 1, s"need at least one round, got $iterations")
    propagateLabels(edges, srcCol, dstCol, iterations, None)
  }

  /** CONVERGENCE-STOP [[labelPropagation]]: iterate until a round
    * changes no label (count of label-diffs — one scalar driver hop
    * per `checkEvery` rounds off checkpointed tables), up to
    * `maxIterations`. Equal-count checks would be wrong here (labels
    * can churn at constant node count), so the test is an actual
    * old⋈new diff against the PREVIOUS ROUND; synchronous-LPA
    * 2-cycles surface as a never-zero diff and stop at
    * `maxIterations` — the documented bound. Bit-identical to
    * [[labelPropagation]] at matched round counts (spec-pinned). */
  def labelPropagationConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIterations: Int = 20,
      checkEvery: Int = 2,
  ): DataFrame = {
    require(maxIterations >= 1, s"need at least one round, got $maxIterations")
    propagateLabels(edges, srcCol, dstCol, maxIterations,
      Some(Rounds.labelsUnchanged(checkEvery, "node", "graft_lbl_")))
  }

  /** The body of [[labelPropagation]] and [[labelPropagationConverged]]. */
  private def propagateLabels(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, stop: Option[Rounds.Stop[DataFrame]]): DataFrame = {
    val adj = adjacencyOf(canonicalEdges(edges, srcCol, dstCol))
      .localCheckpoint()
    val labels = adj.select(col("node")).distinct()
      .withColumn("graft_lbl_", col("node"))
    Rounds.run(labels, rounds, cutEachRound = true, stop)(lpaRound(adj, _))
      .state.select(col("node"), col("graft_lbl_").as("label"))
  }

  /** Both directions of a canonical edge set: (node, nbr) per
    * incidence. */
  private def adjacencyOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))

  /** One LPA round: count neighbor labels, elect per node the
    * (max count, then min label) winner via a struct-min — one
    * aggregate, no window sort. */
  private def lpaRound(adj: DataFrame, labels: DataFrame): DataFrame = {
    val nl = adj
      .join(labels.select(col("node").as("nbr"), col("graft_lbl_")),
        Seq("nbr"))
      .groupBy(col("node"), col("graft_lbl_"))
      .agg(count(lit(1)).as("graft_c_"))
    nl.groupBy(col("node"))
      .agg(min(struct((-col("graft_c_")).as("nc"), col("graft_lbl_").as("l")))
        .as("graft_best_"))
      .select(col("node"), col("graft_best_.l").as("graft_lbl_"))
  }

  /** Canonical simple undirected edge set: (a < b), self-loops out,
    * parallel/reversed duplicates merged. */
  private def canonicalEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** One peel round: degrees on the current edge set, keep nodes with
    * deg ≥ k, keep edges with both endpoints kept. */
  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    val keep = degreesOf(e).filter(col("deg") >= k.toLong).select("node")
    e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
  }

  /** MODULARITY-GREEDY community refinement — a deterministic
    * synchronous Louvain-style move phase (Blondel 2008's local-move
    * step, parallelized the way distributed Louvain implementations
    * do) over an existing assignment, scored by the SAME exact
    * integer arithmetic as [[communityModularity]]: in each round
    * every node u (current community a, degree d_u) evaluates every
    * neighbor community b and the exact gain numerator over 4m²,
    *
    *   ΔQ_num(u: a→b) = 4m·(k_ub − k_ua) − 2·d_u·(D_b − D_a + d_u)
    *
    * (k_uc = edges from u into community c, D_c = frozen degree sum
    * of c with u still in a), then moves to the best b iff
    * ΔQ_num > 0 — ties break to the smallest label, all moves apply
    * SIMULTANEOUSLY against the frozen assignment (the synchronous-
    * LPA discipline, which is what makes the rounds unrollable in
    * the DuckDB oracle and independent of any visit order). A round
    * over an assignment no single move can improve is a fixed point.
    * Integer throughout — gains compute in DECIMAL(38,0) (4m·k can
    * pass 2⁶³ at the 100 TB edge counts the scale doc budgets), so
    * re-runs, repartitions, and the SQL mirror agree exactly.
    *
    * Shape per round: one adjacency⋈labels equi-join reduced
    * map-side to (node, community, k) triples, a community degree
    * aggregate of ≤ |communities| rows, one struct-min argmax per
    * node, and a left join applying the moves — no windows over the
    * edge grain, nothing driver-side but the one m scalar. */
  def refineCommunities(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      assignment: DataFrame,
      nodeCol: String,
      labelCol: String,
      rounds: Int = 1,
  ): DataFrame =
    refine(weightedEdges(edges, srcCol, dstCol, None),
      assignment, nodeCol, labelCol, rounds)

  /** Plan-audit window into [[weightedMoveRound]] on unit weights,
    * the unweighted surface of [[refineCommunities]] (PlanAuditSpec
    * q131). */
  private[graft] def moveRoundForAudit(
      adj: DataFrame, degs: DataFrame, asg: DataFrame, m: Long): DataFrame =
    weightedMoveRound(adj.withColumn("graft_w_", lit(1L)), degs, asg, m)

  /** One synchronous move round over a WEIGHTED graph — the form the
    * Louvain coarsening levels run, where contracted super-edges
    * carry integer multiplicities: identical exact-integer gain
    * arithmetic with k_uc = Σ w(u, c) and d/D/m weighted (unit
    * weights give the unweighted sweep: Σ1 = count). Every node moves
    * to its best strictly-improving neighbor community from
    * [[gainLedger]], ties to the smallest label. */
  private def weightedMoveRound(
      adj: DataFrame, degs: DataFrame, asg: DataFrame, m: Long): DataFrame = {
    val best = gainLedger(adj, degs, asg, m)
      .groupBy(col("node"))
      .agg(min(struct((-col("graft_dq_")).as("ndq"), col("graft_b_").as("b")))
        .as("graft_best_"))
      .select(col("node"), col("graft_best_.b").as("graft_mv_"))
    asg.join(best, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("graft_mv_"), col("graft_lbl_")).as("graft_lbl_"))
  }

  /** The move-gain ledger of the community operators: every
    * strictly-improving candidate move (node, graft_b_, graft_dq_)
    * against the frozen assignment `asg`, with its exact ΔQ_num.
    * `adj` is (node, nbr, graft_w_) WITHOUT self-loops (a self-loop
    * moves with its node — its contribution to e_c is the same in
    * every community it could join, so it cancels in ΔQ and must NOT
    * count toward k_uc); `degs` carries full weighted degrees
    * INCLUDING 2×self-loop weight; `m` is the total edge weight
    * (self-loops once). */
  private def gainLedger(
      adj: DataFrame, degs: DataFrame, asg: DataFrame, m: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // k_uc: edge weight from u into community c (u's membership frozen)
    val k = adj
      .join(asg.select(col("node").as("nbr"), col("graft_lbl_").as("graft_c_")),
        Seq("nbr"))
      .groupBy(col("node"), col("graft_c_"))
      .agg(sum(col("graft_w_")).as("graft_k_"))
    // D_c: frozen per-community degree sums
    val dsum = degs.join(asg, Seq("node"))
      .groupBy(col("graft_lbl_"))
      .agg(sum(col("deg")).as("graft_D_"))
    // per node: own community a, d_u, D_a, k_ua (0 without intra edges)
    val own = asg
      .join(degs, Seq("node"))
      .join(dsum, Seq("graft_lbl_"))
      .select(col("node"), col("graft_lbl_").as("graft_a_"),
        col("deg").as("graft_du_"), col("graft_D_").as("graft_Da_"))
      .join(
        k.select(col("node"), col("graft_c_").as("graft_a_"),
          col("graft_k_").as("graft_kua_")),
        Seq("node", "graft_a_"), "left")
      .withColumn("graft_kua_", coalesce(col("graft_kua_"), lit(0L)))
    // candidate moves: neighbor communities b ≠ a, exact ΔQ_num
    own
      .join(k, Seq("node"))
      .filter(col("graft_c_") =!= col("graft_a_"))
      .join(
        dsum.select(col("graft_lbl_").as("graft_c_"),
          col("graft_D_").as("graft_Db_")),
        Seq("graft_c_"))
      .select(col("node"), col("graft_c_").as("graft_b_"),
        (lit(4L).cast(dec) * lit(m) * (col("graft_k_") - col("graft_kua_")) -
          lit(2L).cast(dec) * col("graft_du_") *
            (col("graft_Db_") - col("graft_Da_") + col("graft_du_")))
          .cast(dec).as("graft_dq_"))
      .filter(col("graft_dq_") > 0)
  }

  /** COMMUNITY-GRAPH CONTRACTION — the coarsening phase that turns
    * Blondel 2008's local-move sweep into the full multi-level
    * Louvain method: every community becomes one super-node, the
    * weight between two super-nodes is the total edge weight between
    * their members, and intra-community weight folds into a
    * SELF-LOOP (so the contracted graph's modularity landscape is
    * exactly the original's restricted to whole-community moves).
    * Input/output edge form: (a, b, graft_w_) canonical a ≤ b,
    * self-loops as a = b — closed under contraction, so levels
    * iterate. One labels⋈edges join pair + one grouped sum; the
    * contracted graph has ≤ |communities| nodes, shrinking every
    * level. */
  private[graft] def contractGraph(e: DataFrame, asg: DataFrame): DataFrame = {
    val la = asg.select(col("node").as("a"), col("graft_lbl_").as("graft_ca_"))
    val lb = asg.select(col("node").as("b"), col("graft_lbl_").as("graft_cb_"))
    e.join(la, Seq("a")).join(lb, Seq("b"))
      .select(
        least(col("graft_ca_"), col("graft_cb_")).as("a"),
        greatest(col("graft_ca_"), col("graft_cb_")).as("b"),
        col("graft_w_"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("graft_w_")).as("graft_w_"))
  }

  /** Adjacency of a weighted canonical edge set, EXCLUDING self-loops
    * (they cancel in the move gain — see [[weightedMoveRound]]). */
  private def weightedAdjacencyOf(e: DataFrame): DataFrame = {
    val ns = e.filter(col("a") =!= col("b"))
    ns.select(col("a").as("node"), col("b").as("nbr"), col("graft_w_"))
      .unionByName(ns.select(col("b").as("node"), col("a").as("nbr"), col("graft_w_")))
  }

  /** Weighted degrees: Σ incident edge weight, self-loops counting
    * TWICE (the A_uu = 2·w convention that keeps Σd = 2m) — a
    * self-loop row is one incidence through each endpoint column. */
  private def weightedDegreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"), col("graft_w_"))
      .unionByName(e.select(col("b").as("node"), col("graft_w_")))
      .groupBy("node").agg(sum(col("graft_w_")).as("deg"))

  /** [[refineCommunities]] over a WEIGHTED graph — the form a
    * co-occurrence graph actually wants: an edge's multiplicity (how
    * many windows two users shared, how many docs two terms
    * co-appear in) weights both k_uc and the degrees, so a community
    * move is judged by tie STRENGTH, not tie existence (the
    * unweighted form's `distinct()` collapses a 100-shared-minute
    * pair and a 1-shared-minute pair to the same edge). Parallel
    * input edges sum their weights; weights cast to long (the exact
    * integer gain arithmetic is the point — fractional weights would
    * reintroduce float drift). Same synchronous sweep semantics,
    * determinism, and per-round shape as [[refineCommunities]]. */
  def refineCommunitiesWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      assignment: DataFrame,
      nodeCol: String,
      labelCol: String,
      rounds: Int = 1,
  ): DataFrame =
    refine(weightedEdges(edges, srcCol, dstCol, Some(weightCol)),
      assignment, nodeCol, labelCol, rounds)

  /** The body of [[refineCommunities]] and [[refineCommunitiesWeighted]]
    * over the [[weightedEdges]] `e`. */
  private def refine(e: DataFrame, assignment: DataFrame, nodeCol: String,
      labelCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val (adj, degs, m) = moveInputs(e.localCheckpoint())
    val asg = assignment
      .select(col(nodeCol).as("node"), col(labelCol).as("graft_lbl_"))
      .localCheckpoint()
    Rounds.run(asg, rounds, cutEachRound = true)(weightedMoveRound(adj, degs, _, m))
      .state.select(col("node"), col("graft_lbl_").as(labelCol))
  }

  /** The community operators' edge set (a, b, graft_w_): canonical
    * a < b, with null endpoints, self-loops and non-positive weights
    * dropped and parallel or reversed edges summed; without a weight
    * column every edge of the simple graph weighs 1. */
  private def weightedEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String]): DataFrame = weightCol match {
    case Some(wc) => edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol) && col(wc).cast("long") > 0L)
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"),
        col(wc).cast("long").as("graft_w_"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("graft_w_")).as("graft_w_"))
    case None => canonicalEdges(edges, srcCol, dstCol)
      .withColumn("graft_w_", lit(1L))
  }

  /** A move sweep's inputs over a weighted edge set: adjacency and
    * degrees (both cut) and the total weight m — 0 on an empty edge
    * set, where no move has a candidate. */
  private def moveInputs(e: DataFrame): (DataFrame, DataFrame, Long) = {
    val adj = weightedAdjacencyOf(e).localCheckpoint()
    val degs = weightedDegreesOf(e).localCheckpoint()
    val m = e.agg(coalesce(sum(col("graft_w_")), lit(0L))).head().getLong(0)
    (adj, degs, m)
  }

  /** One EXACT GREEDY move on a weighted graph: from the
    * [[gainLedger]], apply ONLY the single globally-best
    * strictly-positive move (ΔQ desc, then node asc, then target
    * label asc — total deterministic order). Returns `asg` itself at
    * a fixed point, which ends a [[Rounds]] loop. Modularity STRICTLY
    * increases with every accepted move by construction — the
    * property the synchronous sweep trades away (simultaneous moves
    * judged against the frozen state can jointly DECREASE Q: on a
    * symmetric ring every super-node ties toward the smallest label
    * and non-adjacent communities merge). One 1-row driver hop per
    * move — the coarse levels where this runs have ≤ |communities|
    * nodes, Blondel's own argument for why phase 2 is cheap. */
  private def bestMove(
      adj: DataFrame, degs: DataFrame, asg: DataFrame, m: Long): DataFrame =
    gainLedger(adj, degs, asg, m)
      .orderBy(col("graft_dq_").desc, col("node"), col("graft_b_"))
      .limit(1).collect().headOption match {
      case None => asg
      case Some(best) =>
        asg.select(col("node"),
          when(col("node") === lit(best.get(0)), lit(best.get(1)))
            .otherwise(col("graft_lbl_")).as("graft_lbl_"))
    }

  /** MULTI-LEVEL LOUVAIN (Blondel/Guillaume/Lambiotte/Lefebvre 2008,
    * both phases): level 1 runs `roundsPerLevel` deterministic
    * synchronous local-move sweeps ([[refineCommunities]]'s X170
    * arithmetic — the form that scales to the full node grain), then
    * the communities CONTRACT to super-nodes ([[contractGraph]],
    * intra-weight as self-loops) and every COARSE level runs exact
    * greedy [[bestMove]] steps — moving WHOLE communities at once,
    * the step a single-level sweep cannot express, with modularity
    * strictly increasing per accepted move (GraphSpec has the ring
    * fixture where no single node move improves Q but community
    * moves reach the pairs optimum). Labels expand back through the
    * level mappings, so the result labels ORIGINAL nodes; isolated
    * nodes keep their given label.
    *
    * Scale shape: level 1 is [[refineCommunities]]'s cost (equi-joins
    * + grouped sums, nothing driver-side but the one m scalar); each
    * coarse level runs on ≤ |communities| super-nodes — the classic
    * Louvain property that total work is dominated by level 1 — and
    * each greedy step is the same aggregate pass plus a 1-row argmax
    * hop, capped at `coarseMoves` (early-stopped at the fixed
    * point). Fully deterministic → the q150 oracle replays both
    * phases CTE by CTE, gain ledger included. */
  def louvain(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      assignment: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int = 2,
      roundsPerLevel: Int = 1,
      coarseMoves: Int = 16,
      weightCol: Option[String] = None,
  ): DataFrame = {
    require(levels >= 1 && roundsPerLevel >= 1 && coarseMoves >= 1,
      s"need >= 1 level/round/move, got $levels/$roundsPerLevel/$coarseMoves")
    // weighted input (the X193 form): parallel edges sum, weights
    // cast to long; unweighted input gets unit weights — either way
    // the level graph is the closed canonical (a, b, graft_w_) form
    var e = weightedEdges(edges, srcCol, dstCol, weightCol).localCheckpoint()
    var asg = assignment
      .select(col(nodeCol).as("node"), col(labelCol).as("graft_lbl_"))
      .localCheckpoint()
    // original node → current-level label (level 1 nodes ARE originals)
    var mapping: DataFrame = null
    for (lvl <- 1 to levels) {
      val (adj, degs, m) = moveInputs(e)
      val a2 =
        if (lvl == 1)
          Rounds.run(asg, roundsPerLevel, cutEachRound = true)(
            weightedMoveRound(adj, degs, _, m)).state
        else
          Rounds.run(asg, coarseMoves, cutEachRound = true)(
            bestMove(adj, degs, _, m)).state
      mapping =
        if (mapping == null) a2.localCheckpoint()
        else mapping.join(
            a2.select(col("node").as("graft_lbl_"),
              col("graft_lbl_").as("graft_new_")),
            Seq("graft_lbl_"), "left")
          // a community absent from the contracted graph (isolated)
          // keeps its label
          .select(col("node"),
            coalesce(col("graft_new_"), col("graft_lbl_")).as("graft_lbl_"))
          .localCheckpoint()
      if (lvl < levels) {
        e = contractGraph(e, a2).localCheckpoint()
        // each super-node (community) starts in its own community —
        // the Louvain phase-2 convention
        asg = e.select(col("a").as("node"))
          .unionByName(e.select(col("b").as("node")))
          .distinct()
          .select(col("node"), col("node").as("graft_lbl_"))
          .localCheckpoint()
      }
    }
    mapping.select(col("node"), col("graft_lbl_").as(labelCol))
  }

  /** EXACT per-community MODULARITY — the standard quality score for a
    * community assignment (Newman 2004), made hash-replayable: for
    * community c over the canonical simple graph with m edges,
    *
    *   Q_c = e_c/m − (d_c/2m)²,  Q = Σ_c Q_c
    *
    * (e_c intra-community edges, d_c degree sum). Floats nowhere: the
    * emitted statistic is the INTEGER numerator over the common
    * denominator 4m² — q_num = 4·m·e_c − d_c² — computed in
    * DECIMAL(38,0) (safe through per-community degree sums ~10¹⁹,
    * far past any long bound), shipped as digit strings (the q119
    * rule: > 2⁵³ integers must not pass through doubles), plus the
    * one-IEEE-divide `q` column for human reading. A positive q_num
    * means community c is denser than the configuration-model
    * expectation — the yardstick that makes X163's output judgeable.
    *
    * Shape: two label joins on the edge endpoints (equi), one
    * per-community count + one degree groupBy-sum, and the 1-row m
    * total broadcast-crossed in (the Quantiles totals pattern) —
    * all map-side-combinable, nothing driver-side.
    *
    * Output: (labelCol, n_nodes, intra_edges, degree_sum, q_num, q)
    * — one row per community; Σ q = the assignment's modularity. */
  def communityModularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      assignment: DataFrame,
      nodeCol: String,
      labelCol: String,
  ): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val la = assignment.select(col(nodeCol).as("a"), col(labelCol).as("graft_la_"))
    val lb = assignment.select(col(nodeCol).as("b"), col(labelCol).as("graft_lb_"))
    val labeled = e.join(la, Seq("a")).join(lb, Seq("b"))
    val m = e.agg(count(lit(1)).as("graft_m_"))
    val intra = labeled.filter(col("graft_la_") === col("graft_lb_"))
      .groupBy(col("graft_la_").as(labelCol))
      .agg(count(lit(1)).as("intra_edges"))
    val degs = degreesOf(e)
      .join(assignment.select(col(nodeCol).as("node"), col(labelCol)),
        Seq("node"))
      .groupBy(col(labelCol))
      .agg(sum(col("deg")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    degs.join(intra, Seq(labelCol), "left")
      .crossJoin(broadcast(m))
      .select(
        col(labelCol),
        col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4).cast(dec) * col("graft_m_") *
          coalesce(col("intra_edges"), lit(0L)) -
          col("degree_sum").cast(dec) * col("degree_sum"))
          .cast(dec).cast("string").as("q_num"),
        ((lit(4.0) * col("graft_m_") * coalesce(col("intra_edges"), lit(0L)) -
          col("degree_sum").cast("double") * col("degree_sum")) /
          (lit(4.0) * col("graft_m_") * col("graft_m_"))).as("q"))
  }
}
