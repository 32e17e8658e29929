package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000L

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("symmetric 2-cycle is a fixpoint at the uniform rank") {
    val e = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    val r = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 4))
    assert(r == Map("A" -> Scale, "B" -> Scale))
  }

  test("converged stop equals the fixed-iteration oracle at the same round count") {
    // scale 1e9 with damping 85/100 is nowhere near its fixed point at
    // 12 rounds, so the cap binds and both forms run exactly 12
    val e = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("s", "d", "w")
    val fixed = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 12))
    val conv = ranksOf(Graph.pageRankConverged(e, "s", "d", "w",
      maxIterations = 12, epsilon = 0L, checkEvery = 5))
    assert(conv == fixed)
  }

  test("converged stop reaches the exact integer fixed point, then stops") {
    // damping 1/2 at scale 1e4 contracts to a literal integer fixed
    // point within ~15 rounds; epsilon = 0 is exact thanks to the
    // integral recurrence
    val e = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("s", "d", "w")
    val conv = ranksOf(Graph.pageRankConverged(e, "s", "d", "w",
      maxIterations = 100, epsilon = 0L, checkEvery = 3,
      dampingNum = 50L, dampingDen = 100L, scale = 10000L))
    val fixedPoint = ranksOf(Graph.pageRank(e, "s", "d", "w",
      iterations = 25, dampingNum = 50L, dampingDen = 100L, scale = 10000L))
    assert(conv == fixedPoint)
    // and the fixed point is genuinely fixed: one more round is a no-op
    val more = ranksOf(Graph.pageRank(e, "s", "d", "w",
      iterations = 26, dampingNum = 50L, dampingDen = 100L, scale = 10000L))
    assert(more == fixedPoint)
  }

  test("2-cycle converges immediately under the convergence stop") {
    val e = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    val conv = ranksOf(Graph.pageRankConverged(e, "s", "d", "w",
      maxIterations = 50, epsilon = 0L))
    assert(conv == Map("A" -> Scale, "B" -> Scale))
  }

  test("30 converged rounds return a checkpoint-scan plan, not 30 stacked joins") {
    val e = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("s", "d", "w")
    val df = Graph.pageRankConverged(e, "s", "d", "w",
      maxIterations = 30, epsilon = 0L, checkEvery = 5)
    // the final table was checkpointed at round 30: its plan is a
    // materialized-RDD scan, with zero of the loop's joins left
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val joins = "Join".r.findAllIn(plan).length
    assert(joins == 0, s"expected a checkpoint scan, got $joins joins:\n$plan")
    assert(df.count() == 3L)
  }

  private def joinsIn(df: org.apache.spark.sql.DataFrame): Int =
    "Join".r.findAllIn(df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head).length

  test("converged kCore, LPA and CC return checkpoint scans after 30+ rounds") {
    // an 80-node path peels its two end nodes per round: 30 rounds
    // (the bound) leave 20 nodes
    val path = (0 until 79).map(i => (s"N$i", s"N${i + 1}")).toDF("s", "d")
    val core = Graph.kCoreConverged(path, "s", "d", k = 2, maxIterations = 30)
    assert(joinsIn(core) == 0, core.queryExecution.executedPlan.toString)
    assert(core.count() == 20L)
    // K2,2 oscillates forever: LPA runs all 30 rounds
    val k22 = Seq(("A", "X"), ("A", "Y"), ("B", "X"), ("B", "Y")).toDF("s", "d")
    val lpa = Graph.labelPropagationConverged(k22, "s", "d", maxIterations = 30)
    assert(joinsIn(lpa) == 0, lpa.queryExecution.executedPlan.toString)
    assert(lpa.count() == 4L)
    // a 32-node path settles after the seed and 31 more rounds
    val chain = (1L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = graft.llm.Dedup.connectedComponentsConverged(chain)
    assert(joinsIn(cc) == 0, cc.queryExecution.executedPlan.toString)
    assert(cc.as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("fixed-round PageRank stays one lineage: no checkpoint scan in its plan") {
    val e = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("s", "d", "w")
    val plan = Graph.pageRank(e, "s", "d", "w", iterations = 3)
      .queryExecution.analyzed.toString
    assert(!plan.contains("LogicalRDD"), plan)
  }

  test("symmetrized star: hand-computed integral recurrence, two iterations") {
    // A↔B, A↔C with unit weights: out(A)=2, out(B)=out(C)=1
    val e = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "A", 1L), ("C", "A", 1L))
      .toDF("s", "d", "w")
    val r1 = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 1))
    // in(A) = 1e9 + 1e9; in(B) = in(C) = (1e9·1) div 2
    assert(r1 == Map(
      "A" -> (150000000L + 85L * 2000000000L / 100L),
      "B" -> (150000000L + 85L * 500000000L / 100L),
      "C" -> (150000000L + 85L * 500000000L / 100L)))
    val r2 = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 2))
    assert(r2 == Map(
      "A" -> 1127500000L, // 15e7 + 85·(575e6 + 575e6) div 100
      "B" -> 936250000L,  // 15e7 + 85·(1850000000 div 2) div 100
      "C" -> 936250000L))
  }

  test("dangling node keeps only the teleport base; its mass decays, never crashes") {
    val e = Seq(("A", "B", 1L)).toDF("s", "d", "w") // B has no out-edges
    val r1 = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 1))
    assert(r1 == Map("A" -> 150000000L, "B" -> 1000000000L))
    val r2 = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 2))
    assert(r2 == Map("A" -> 150000000L, "B" -> 277500000L))
  }

  test("weights steer mass and total mass stays within the floor-loss budget") {
    // B is 9× more attractive to A than C is
    val e = Seq(("A", "B", 9L), ("A", "C", 1L), ("B", "A", 1L), ("C", "A", 1L))
      .toDF("s", "d", "w")
    val r = ranksOf(Graph.pageRank(e, "s", "d", "w", iterations = 5))
    assert(r("B") > r("C"))
    // every contribution floors away < 1 unit per edge per iteration,
    // plus one div-100 floor per node per iteration
    val total = r.values.sum
    val n = 3L; val edges = 4L; val iters = 5L
    assert(total <= n * Scale)
    assert(total >= n * Scale - iters * (edges + n + n),
      s"mass leak too large: $total vs ${n * Scale}")
  }

  test("order-free: repartitioned input yields bit-identical ranks") {
    val e = (1 to 400).map { i =>
      (s"n${i % 40}", s"n${(i * 7) % 40}", (i % 5 + 1).toLong)
    }.toDF("s", "d", "w")
      .groupBy("s", "d").agg(sum("w").as("w"))
    val a = ranksOf(Graph.pageRank(e.repartition(1), "s", "d", "w", 3))
    val b = ranksOf(Graph.pageRank(e.repartition(13, col("d")), "s", "d", "w", 3))
    assert(a == b, "integral arithmetic must be reduction-order-free")
  }

  test("null endpoints and non-positive weights carry no mass") {
    val clean = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    val dirty = Seq(
      (Option("A"), Option("B"), 1L), (Option("B"), Option("A"), 1L),
      (None: Option[String], Option("B"), 5L),   // null src
      (Option("A"), None: Option[String], 5L),   // null dst
      (Option("A"), Option("B"), 0L),            // zero weight
    ).toDF("s", "d", "w")
    assert(ranksOf(Graph.pageRank(dirty, "s", "d", "w", 3)) ==
      ranksOf(Graph.pageRank(clean, "s", "d", "w", 3)))
  }

  test("assumeNoDangling fast path is bit-identical on symmetrized graphs") {
    val e0 = (1 to 200).map { i =>
      (s"n${i % 25}", s"n${(i * 11) % 25}", (i % 4 + 1).toLong)
    }.toDF("s", "d", "w").groupBy("s", "d").agg(sum("w").as("w"))
    val sym = e0.unionByName(
      e0.select(col("d").as("s"), col("s").as("d"), col("w")))
      .groupBy("s", "d").agg(sum("w").as("w"))
    val slow = ranksOf(Graph.pageRank(sym, "s", "d", "w", 4))
    val fast = ranksOf(Graph.pageRank(sym, "s", "d", "w", 4,
      assumeNoDangling = true))
    assert(fast == slow)
  }

  test("parameter guards") {
    val e = Seq(("A", "B", 1L)).toDF("s", "d", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "s", "d", "w", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "s", "d", "w", dampingNum = 100L)
    }
  }

  // ------------------------------------------------------------------
  // personalized PageRank
  // ------------------------------------------------------------------

  test("ppr: mass concentrates near the seed; unreachable nodes stay at 0") {
    // A↔B connected; C↔D a separate component. Seed = {A}: C and D can
    // never receive teleport or flow — exactly 0 under the integral
    // recurrence, not epsilon-small.
    val e = Seq(("A", "B", 1L), ("B", "A", 1L), ("C", "D", 1L), ("D", "C", 1L))
      .toDF("s", "d", "w")
    val seeds = Seq("A").toDF("node")
    val r = ranksOf(Graph.personalizedPageRank(e, seeds, "s", "d", "w",
      iterations = 8))
    assert(r("C") == 0L && r("D") == 0L, r.toString)
    assert(r("A") > r("B") && r("B") > 0L, r.toString)
  }

  test("ppr: symmetric 2-cycle seeded on one node keeps the seed ahead") {
    val e = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    val r = ranksOf(Graph.personalizedPageRank(e, Seq("A").toDF("n"),
      "s", "d", "w", iterations = 20))
    // teleport returns to A every round: A must strictly dominate
    assert(r("A") > r("B"), r.toString)
    // total mass ≈ scale (one scale spread over seeds), floors only lose
    assert(r.values.sum <= Scale && r.values.sum > Scale - 100L, r.toString)
  }

  test("ppr: uniform seeding over ALL nodes reproduces pageRank up to mass convention") {
    // seeds = every node of a regular graph: teleport is uniform again,
    // so ranks must be uniform — scale/N each
    val e = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L)).toDF("s", "d", "w")
    val r = ranksOf(Graph.personalizedPageRank(e,
      Seq("A", "B", "C").toDF("n"), "s", "d", "w", iterations = 6))
    assert(r.values.toSet.size == 1, s"regular graph must be uniform: $r")
  }

  test("ppr: seeds absent from the graph are dropped; all-absent refuses") {
    val e = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    // even iteration count: on a pure 2-cycle the single-seed mass
    // oscillates (period-2 graph), landing back on the seed at even t
    val r = ranksOf(Graph.personalizedPageRank(e,
      Seq("A", "ZZZ").toDF("n"), "s", "d", "w", iterations = 4))
    // |S| = 1 (ZZZ dropped): A gets the full teleport
    assert(r("A") > r("B"))
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, Seq("ZZZ").toDF("n"), "s", "d", "w")
    }
  }

  test("ppr: assumeNoDangling fast path equals the default on symmetrized graphs") {
    val e0 = (1 to 40).map(i => (s"N${i % 10}", s"N${(i * 3 + 1) % 10}", 1L))
      .filter { case (a, b, _) => a != b }
    val sym = (e0 ++ e0.map { case (a, b, w) => (b, a, w) }).distinct
      .toDF("s", "d", "w")
    val seeds = Seq("N1").toDF("n")
    val slow = ranksOf(Graph.personalizedPageRank(sym, seeds, "s", "d", "w", 4))
      .filter(_._2 > 0L)
    val fast = ranksOf(Graph.personalizedPageRank(sym, seeds, "s", "d", "w", 4,
      assumeNoDangling = true)).filter(_._2 > 0L)
    assert(slow == fast && slow.nonEmpty)
    // isolated seed never receiving mass back keeps its base: seed on
    // a 2-cycle, 3 rounds (odd) — fast path must not drop the seed row
    val cyc = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("s", "d", "w")
    val f3 = ranksOf(Graph.personalizedPageRank(cyc, Seq("A").toDF("n"),
      "s", "d", "w", 3, assumeNoDangling = true))
    val s3 = ranksOf(Graph.personalizedPageRank(cyc, Seq("A").toDF("n"),
      "s", "d", "w", 3)).filter(_._2 > 0L)
    assert(f3.filter(_._2 > 0L) == s3, s"$f3 vs $s3")
    assert(f3("A") > 0L, "the seed's teleport base must survive odd rounds")
  }

  test("ppr: repartitioned input yields bit-identical ranks") {
    val e = (1 to 60).map(i => (s"N${i % 12}", s"N${(i * 7) % 12}", (i % 5) + 1L))
      .filter { case (a, b, _) => a != b }.toDF("s", "d", "w")
    val seeds = Seq("N1", "N5").toDF("n")
    val a = ranksOf(Graph.personalizedPageRank(e, seeds, "s", "d", "w", 4))
    val b = ranksOf(Graph.personalizedPageRank(e.repartition(7), seeds, "s", "d", "w", 4))
    assert(a == b)
  }

  // ------------------------------------------------------------------
  // triangle counts
  // ------------------------------------------------------------------

  private def trisOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("triangles: K4 gives 3 per node; adding a pendant vertex gives it 0") {
    val k4 = (for {
      a <- Seq("A", "B", "C", "D"); b <- Seq("A", "B", "C", "D") if a < b
    } yield (a, b)).toDF("s", "d")
    val withPendant = k4.union(Seq(("D", "E")).toDF("s", "d"))
    val r = trisOf(Graph.triangleCounts(withPendant, "s", "d"))
    assert(r == Map("A" -> 3L, "B" -> 3L, "C" -> 3L, "D" -> 3L, "E" -> 0L), r)
  }

  test("triangles: bipartite graph has none; every node still reported") {
    val e = (for { l <- Seq("L1", "L2", "L3"); r <- Seq("R1", "R2") }
      yield (l, r)).toDF("s", "d")
    val r = trisOf(Graph.triangleCounts(e, "s", "d"))
    assert(r.size == 5 && r.values.forall(_ == 0L), r)
  }

  test("triangles: parallel edges, reversed duplicates, and self-loops don't double-count") {
    val e = Seq(("A", "B"), ("B", "A"), ("A", "B"), ("B", "C"), ("C", "A"),
      ("A", "A")).toDF("s", "d")
    val r = trisOf(Graph.triangleCounts(e, "s", "d"))
    assert(r == Map("A" -> 1L, "B" -> 1L, "C" -> 1L), r)
  }

  test("triangles: two triangles sharing an edge credit the shared nodes twice") {
    val e = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("B", "D"), ("D", "C"))
      .toDF("s", "d")
    val r = trisOf(Graph.triangleCounts(e, "s", "d"))
    assert(r == Map("A" -> 1L, "B" -> 2L, "C" -> 2L, "D" -> 1L), r)
  }

  // ------------------------------------------------------------------
  // k-core
  // ------------------------------------------------------------------

  test("kCore: pendant chain peels away layer by layer, K4 nucleus survives") {
    // K4 (every node deg 3) + a tail D-E-F: E/F die in round 1 (deg
    // 1 < 2... for k=2), D's degree then drops but stays >= 2 via K4
    val k4 = (for {
      a <- Seq("A", "B", "C", "D"); b <- Seq("A", "B", "C", "D") if a < b
    } yield (a, b)).toDF("s", "d")
    val g = k4.union(Seq(("D", "E"), ("E", "F")).toDF("s", "d"))
    val core3 = trisOf(Graph.kCore(g, "s", "d", k = 3, iterations = 3))
    assert(core3 == Map("A" -> 3L, "B" -> 3L, "C" -> 3L, "D" -> 3L), core3)
    // k=4: K4 has max degree 3 — everything peels, empty result
    assert(Graph.kCore(g, "s", "d", k = 4, iterations = 3).count() == 0L)
  }

  test("kCore: a long path needs one round per layer — fixed rounds peel partially") {
    // path P6 at k=2: endpoints peel one per round from each side;
    // the whole path eventually dies (no 2-core), but only with
    // enough rounds
    val p = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"), ("E", "F"))
      .toDF("s", "d")
    val after1 = Graph.kCore(p, "s", "d", k = 2, iterations = 1).count()
    assert(after1 > 0, "one round only strips the endpoints")
    assert(Graph.kCore(p, "s", "d", k = 2, iterations = 3).count() == 0L)
    // a cycle IS a 2-core: nothing peels no matter how many rounds
    val c = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("s", "d")
    assert(trisOf(Graph.kCore(c, "s", "d", k = 2, iterations = 5))
      == Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
  }

  test("kCoreConverged finds the fixpoint itself, bit-equal to enough fixed rounds") {
    val g = ((for {
      a <- Seq("A", "B", "C", "D"); b <- Seq("A", "B", "C", "D") if a < b
    } yield (a, b)) ++ Seq(("D", "E"), ("E", "F"), ("F", "G"), ("G", "H")))
      .toDF("s", "d")
    val conv = trisOf(Graph.kCoreConverged(g, "s", "d", k = 2, checkEvery = 2))
    val fixed = trisOf(Graph.kCore(g, "s", "d", k = 2, iterations = 10))
    assert(conv == fixed && conv.keySet == Set("A", "B", "C", "D"), conv)
    // empty graph short-circuits
    assert(Graph.kCoreConverged(g.filter(lit(false)), "s", "d", k = 2)
      .count() == 0L)
  }

  test("kCore: canonicalization and repartition invariance") {
    val messy = Seq(("A", "B"), ("B", "A"), ("A", "A"), ("B", "C"), ("C", "A"))
      .toDF("s", "d")
    val a = trisOf(Graph.kCore(messy, "s", "d", k = 2, iterations = 2))
    assert(a == Map("A" -> 2L, "B" -> 2L, "C" -> 2L), a)
    val b = trisOf(Graph.kCore(messy.repartition(5), "s", "d", k = 2, iterations = 2))
    assert(a == b)
  }

  test("triangles: circulant C25(1,2) gives exactly 3 per node, repartition-invariant") {
    // each node closes {i−2,i−1,i}, {i−1,i,i+1}, {i,i+1,i+2}
    val e = (0 until 25).flatMap(i =>
      Seq((s"N$i", s"N${(i + 1) % 25}"), (s"N$i", s"N${(i + 2) % 25}")))
      .toDF("s", "d")
    val a = trisOf(Graph.triangleCounts(e, "s", "d"))
    assert(a.size == 25 && a.values.forall(_ == 3L), a.toString)
    val b = trisOf(Graph.triangleCounts(e.repartition(11), "s", "d"))
    assert(a == b)
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("labelPropagation: two cliques joined by a bridge resolve to two communities") {
    // cliques {A1..A4}, {B1..B4}, one bridge A1-B1
    def clique(p: String) = for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (s"$p$a", s"$p$b")
    val e = (clique("A") ++ clique("B") :+ ("A1", "B1")).toDF("s", "d")
    val l = labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 4))
    assert(l.size == 8)
    val aLabels = (1 to 4).map(i => l(s"A$i")).toSet
    val bLabels = (1 to 4).map(i => l(s"B$i")).toSet
    assert(aLabels.size == 1 && bLabels.size == 1, l.toString)
    assert(aLabels != bLabels, s"bridge merged the cliques: $l")
  }

  test("labelPropagation: deterministic tie-break picks the smallest label") {
    // one round on a path A-B-C: B's neighbors {A, C} tie at 1 → A wins
    val e = Seq(("A", "B"), ("B", "C")).toDF("s", "d")
    val l = labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 1))
    assert(l("B") == "A", l.toString)
    // A's only neighbor is B, C's only neighbor is B
    assert(l("A") == "B" && l("C") == "B", l.toString)
  }

  test("labelPropagation: canonicalization + repartition invariance") {
    val messy = Seq(("A", "B"), ("B", "A"), ("A", "A"), ("B", "C"), ("C", "A"),
      ("C", "D"), ("D", "E"), ("E", "C"))
      .toDF("s", "d")
    val a = labelsOf(Graph.labelPropagation(messy, "s", "d", iterations = 3))
    val b = labelsOf(
      Graph.labelPropagation(messy.repartition(7), "s", "d", iterations = 3))
    assert(a == b && a.size == 5)
  }

  test("labelPropagation: bipartite 2-cycle oscillates; converged stops at the bound") {
    // K2,2 with crossing labels: synchronous LPA swaps sides forever —
    // the documented failure mode; the bound must terminate it
    val e = Seq(("A", "X"), ("A", "Y"), ("B", "X"), ("B", "Y")).toDF("s", "d")
    val l4 = labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 4))
    val l6 = labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 6))
    assert(l4 == l6, "period-2 oscillation should repeat at same parity")
    val conv = labelsOf(
      Graph.labelPropagationConverged(e, "s", "d", maxIterations = 7))
    assert(conv.size == 4) // terminated despite never converging
  }

  test("labelPropagationConverged compares each check with the previous round, not the last check") {
    // on the K2,2 2-cycle, labels two rounds apart are equal: a
    // check-window rule would stop at round 4; the round rule never
    // settles and runs to the bound
    val e = Seq(("A", "X"), ("A", "Y"), ("B", "X"), ("B", "Y")).toDF("s", "d")
    val conv = labelsOf(Graph.labelPropagationConverged(e, "s", "d",
      maxIterations = 7, checkEvery = 2))
    assert(conv == labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 7)))
  }

  test("communityModularity: hand-computed Q on two cliques + bridge; bad split scores lower") {
    def clique(p: String) = for {
      a <- 1 to 3; b <- 1 to 3 if a < b
    } yield (s"$p$a", s"$p$b")
    val e = (clique("A") ++ clique("B") :+ ("A1", "B1")).toDF("s", "d")
    // m = 7; good split: each clique a community
    val good = (1 to 3).flatMap(i => Seq((s"A$i", "cA"), (s"B$i", "cB")))
      .toDF("node", "community")
    val rows = Graph.communityModularity(e, "s", "d", good, "node", "community")
      .orderBy("community").collect()
    // community A: e_c=3, d_c = 2+2+3 = 7 → q_num = 4*7*3 − 49 = 35; same for B
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getLong(3) == 7L)
      assert(r.getString(4) == "35", r.getString(4))
      assert(math.abs(r.getDouble(5) - 35.0 / 196.0) < 1e-15)
    }
    // everything-in-one-community: Q = e/m − 1 = 0 − ... = 4*7*7 − 196 = 0
    val one = (1 to 3).flatMap(i => Seq((s"A$i", "c"), (s"B$i", "c")))
      .toDF("node", "community")
    val qOne = Graph.communityModularity(e, "s", "d", one, "node", "community")
      .collect()
    assert(qOne.length == 1 && qOne.head.getString(4) == "0")
    // the good split's total Q beats the degenerate one
    assert(rows.map(_.getString(4).toLong).sum > 0L)
  }

  test("refineCommunities: one sweep fixes a misassigned node, strictly improving Σ q_num") {
    // two triangles {1,2,3} {4,5,6} with bridge 3-4; node 3 starts in
    // the wrong community
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("s", "d")
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 4L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "community")
    def qSum(asg: org.apache.spark.sql.DataFrame): BigInt =
      Graph.communityModularity(e, "s", "d", asg, "node", "community")
        .collect().map(r => BigInt(r.getString(4))).sum
    val refined = Graph.refineCommunities(e, "s", "d", bad, "node", "community")
    val got = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ΔQ_num(3: 4→1) = 4·7·(2−1) − 2·3·(4−10+3) = 46 > 0 → 3 moves home;
    // every other node's best foreign gain is negative → stays
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      got.toString)
    assert(qSum(refined) > qSum(bad), s"${qSum(refined)} vs ${qSum(bad)}")
    // the corrected assignment is a fixed point of another sweep
    val again = Graph.refineCommunities(e, "s", "d", refined, "node", "community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("refineCommunities: equal gains break to the smallest label; no move on ΔQ ≤ 0") {
    // path 1-2-3-4-5: communities {1,2}, {3}, {4,5}; node 3 gains
    // equally from joining either side → smallest label wins
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("node", "community")
    val got = Graph.refineCommunities(e, "s", "d", asg, "node", "community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ΔQ_num(3→1) = ΔQ_num(3→4) = 4·4·1 − 2·2·(3−2+2) = 4 > 0, tie → 1
    assert(got(3L) == 1L, got.toString)
    // endpoints stay: moving 1 into community 1's neighbor... 2 is
    // already home; 5's only candidate is its own community
    assert(got(1L) == 1L && got(2L) == 1L && got(4L) == 4L && got(5L) == 4L)
  }

  test("labelPropagationConverged matches fixed rounds and stops at the fixpoint") {
    def clique(p: String) = for {
      a <- 1 to 5; b <- 1 to 5 if a < b
    } yield (s"$p$a", s"$p$b")
    val e = (clique("A") ++ clique("B") :+ ("A2", "B2")).toDF("s", "d")
    val conv = labelsOf(
      Graph.labelPropagationConverged(e, "s", "d", maxIterations = 20))
    val fixed = labelsOf(Graph.labelPropagation(e, "s", "d", iterations = 8))
    assert(conv == fixed, s"conv=$conv fixed=$fixed")
  }

  // ring of `n` triangles: T_i = {3i, 3i+1, 3i+2} fully connected,
  // bridge 3i+2 — 3(i+1) mod 3n. The classic Louvain resolution
  // fixture: for n > 8 the modularity optimum groups ADJACENT
  // TRIANGLE PAIRS, but from the per-triangle assignment NO single
  // node move improves Q (moving any node out loses 2 intra edges
  // for 1) — only the coarsened level, moving whole triangles, can
  // get there.
  private def triangleRing(n: Int) = {
    val intra = (0 until n).flatMap { i =>
      val b = 3 * i
      Seq((b.toLong, (b + 1).toLong), (b.toLong, (b + 2).toLong),
        ((b + 1).toLong, (b + 2).toLong))
    }
    val bridges = (0 until n).map { i =>
      ((3 * i + 2).toLong, (3 * ((i + 1) % n)).toLong)
    }
    (intra ++ bridges).toDF("s", "d")
  }

  private def triangleAsg(n: Int) =
    (0 until 3 * n).map(v => (v.toLong, (v / 3 * 3).toLong))
      .toDF("node", "community")

  test("louvain coarsening escapes the local optimum the one-level sweep cannot") {
    val n = 10
    val e = triangleRing(n)
    val asg = triangleAsg(n)
    def q(a: org.apache.spark.sql.DataFrame): BigInt =
      Graph.communityModularity(e, "s", "d", a, "node", "community")
        .select("q_num").collect().map(r => BigInt(r.getString(0))).sum
    // the per-triangle assignment is a FIXED POINT of the one-level
    // sweep: no single-node move has positive exact gain
    val oneLevel = Graph.refineCommunities(e, "s", "d", asg, "node", "community")
    assert(oneLevel.orderBy("node").collect().toSeq ==
      asg.orderBy("node").collect().toSeq,
      "single-node moves must all be non-improving on the triangle ring")
    // the two-level form contracts triangles to super-nodes and moves
    // them WHOLE — strictly higher exact modularity
    val two = Graph.louvain(e, "s", "d", asg, "node", "community",
      levels = 2, roundsPerLevel = 1)
    val qOne = q(oneLevel); val qTwo = q(two)
    assert(qTwo > qOne,
      s"coarsened level must strictly improve: $qOne -> $qTwo")
    // triangles never split: coarsening moves communities atomically
    val byTriangle = two.withColumn("tri", (col("node") / 3).cast("long"))
      .groupBy("tri").agg(countDistinct(col("community")).as("k"))
      .select("k").as[Long].collect()
    assert(byTriangle.forall(_ == 1L), "a triangle split across communities")
  }

  test("weighted refinement follows tie STRENGTH where the unweighted sweep ties to the label") {
    // node 5 has ONE strong edge (w=10) to node 9 and ONE weak edge
    // (w=1) to node 1; a background clique keeps m large enough that
    // moves improve. Unweighted both ties are a single edge → the
    // deterministic tie-break sends 5 to the SMALLER label 1; the
    // weighted gain prefers the 10× stronger tie to 9.
    val clique = Seq((100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 102L), (101L, 103L), (102L, 103L)).map { case (a, b) => (a, b, 1L) }
    val e = (Seq((5L, 9L, 10L), (5L, 1L, 1L)) ++ clique).toDF("s", "d", "w")
    val nodes = Seq(1L, 5L, 9L, 100L, 101L, 102L, 103L)
    val init = nodes.map(n => (n, n)).toDF("node", "community")
    val weighted = Graph.refineCommunitiesWeighted(e, "s", "d", "w",
        init, "node", "community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(5L) == 9L, s"weighted must follow the strong tie: $weighted")
    val unweighted = Graph.refineCommunities(e, "s", "d", init, "node", "community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(5L) == 1L,
      s"unweighted ties must break to the smaller label: $unweighted")
    // parallel edges sum: two w=5 rows ≡ one w=10 row
    val split = (Seq((5L, 9L, 5L), (5L, 9L, 5L), (5L, 1L, 1L)) ++ clique)
      .toDF("s", "d", "w")
    val summed = Graph.refineCommunitiesWeighted(split, "s", "d", "w",
        init, "node", "community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(summed == weighted, "parallel edge weights must sum")
  }

  test("community operators return the assignment unchanged when no edge is left") {
    val asg = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("node", "community")
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    def got(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val noEdge = Seq(
      "empty" -> Seq.empty[(Option[Long], Option[Long], Long)],
      "self-loops" -> Seq((Some(1L), Some(1L), 3L), (Some(2L), Some(2L), 1L)),
      "null endpoints" -> Seq((None, Some(2L), 1L), (Some(1L), None, 1L)),
      "non-positive weights" -> Seq((Some(1L), Some(2L), 0L), (Some(2L), Some(3L), -4L)))
    for ((name, rows) <- noEdge) {
      val e = rows.toDF("s", "d", "w")
      assert(got(Graph.refineCommunitiesWeighted(e, "s", "d", "w",
        asg, "node", "community")) == want, name)
      assert(got(Graph.louvain(e, "s", "d", asg, "node", "community",
        weightCol = Some("w"))) == want, name)
      // the unweighted forms ignore weights: only the non-positive
      // fixture still has edges there
      if (name != "non-positive weights") {
        assert(got(Graph.refineCommunities(e, "s", "d", asg, "node", "community"))
          == want, name)
        assert(got(Graph.louvain(e, "s", "d", asg, "node", "community")) == want, name)
      }
    }
  }

  test("louvain with levels=1 is exactly the one-level sweep") {
    val e = triangleRing(4)
    val asg = triangleAsg(4)
    val sweep = Graph.refineCommunities(e, "s", "d", asg, "node", "community",
      rounds = 2).orderBy("node").collect().toSeq
    val lv1 = Graph.louvain(e, "s", "d", asg, "node", "community",
      levels = 1, roundsPerLevel = 2).orderBy("node").collect().toSeq
    assert(lv1 == sweep)
  }

  test("weighted louvain at levels=1 is exactly the weighted sweep") {
    val clique = Seq((100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 102L), (101L, 103L), (102L, 103L)).map { case (a, b) => (a, b, 1L) }
    val e = (Seq((5L, 9L, 10L), (5L, 1L, 1L)) ++ clique).toDF("s", "d", "w")
    val init = Seq(1L, 5L, 9L, 100L, 101L, 102L, 103L)
      .map(n => (n, n)).toDF("node", "community")
    val sweep = Graph.refineCommunitiesWeighted(e, "s", "d", "w",
      init, "node", "community").orderBy("node").collect().toSeq
    val lv1 = Graph.louvain(e, "s", "d", init, "node", "community",
        levels = 1, roundsPerLevel = 1, weightCol = Some("w"))
      .orderBy("node").collect().toSeq
    assert(lv1 == sweep, "weighted level 1 must equal the weighted sweep")
  }
}
