package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Rounds
import TextOps._

/** Deduplication operators for LLM training corpora: exact content
  * dedup, fingerprint (blocking-key) dedup, MinHash+LSH near-dup pair
  * mining, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - Signatures (minhash/simhash/fingerprints) are pure map-side
  *     column expressions over each row's own shingle array — zero
  *     shuffle, linear in input.
  *   - Candidate generation is a self-equi-join on (band, bandKey) —
  *     a hash/sort-merge join on a high-cardinality key, never an
  *     all-pairs product. Pairs only materialize for docs agreeing on
  *     an entire band (r consecutive signature slots).
  *   - Verification (exact Jaccard) runs only on the candidate pairs.
  *   - The final keep-set derivation is a groupBy on doc id.
  * The only quadratic danger is a degenerate band key (e.g. all-empty
  * docs); `nearDupPairs` drops docs with < n tokens for that reason.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per distinct `textCol`.
    * Group on the 60-bit content hash (not the full text) so the
    * shuffle key is 8 bytes, not kilobytes of document — at 100 TB the
    * shuffle moves hashes + ids only. Collisions at 2^-60 are accepted
    * (standard practice; use a 128-bit hash to tighten).
    *
    * `norm` fingerprints the [[TextOps.normalize]]d text instead of
    * raw codepoints — the CCNet/C4 hygiene step without which a
    * full-width/ligature/NBSP variant of a document survives exact
    * dedup (q93 demonstrates the catch/miss pair). Normalization is
    * part of the map-side fingerprint projection: nothing about the
    * shuffle changes. */
  def exactKeepers(
      df: DataFrame,
      idCol: String,
      textCol: String,
      norm: TextOps.NormMode = TextOps.NormNone,
  ): DataFrame =
    df.select(col(idCol),
        fingerprint(TextOps.normalize(col(textCol), norm)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** MinHash signature of a shingle array: for each of `numHashes`
    * seeds, the minimum [[TextOps.hash60]] of "seed:shingle". Nested
    * `transform`/`array_min` → computed per row, no shuffle.
    *
    * NOTE: expression-form minhash evaluates one md5 per (seed,
    * shingle) pair, and Spark does no common-subexpression elimination
    * inside interpreted lambda bodies — fine for ad-hoc use on small
    * arrays, but the pair-mining pipeline uses the aggregate form
    * ([[minhashSigAgg]]) which hashes each shingle exactly once. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column = {
    val seeds = array((0 until numHashes).map(lit): _*)
    transform(
      seeds,
      seed =>
        array_min(
          transform(
            shingleArr,
            s => hash60(concat(seed.cast("string"), lit(":"), s)),
          )
        ),
    )
  }

  /** Mersenne prime 2^31-1: modulus of the affine minhash family. */
  val MinhashP = 2147483647L

  /** Deterministic affine-family coefficients (a in [1,P-1], b in
    * [0,P-1]) via a splitmix-style scramble of the seed index —
    * structure-seeded, never wall-clock, so Spark and the generated
    * DuckDB oracle SQL share the exact family. */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      def mix(x: Long): Long = {
        var z = x + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val a = (math.abs(mix(2L * i)) % (MinhashP - 1)) + 1
      val b = math.abs(mix(2L * i + 1)) % MinhashP
      (a, b)
    }

  /** Aggregate-form MinHash over PRE-HASHED shingles (array<long> from
    * [[TextOps.shingleHashes]]): explode, then `numHashes` codegen'd
    * min-aggregates of the affine family (a_i·h+b_i) mod P. The
    * groupBy is the evaluation barrier the expression form lacks;
    * partial (map-side) aggregation collapses each doc's shingles to
    * one signature row before the shuffle, so the exchange moves
    * |docs| × numHashes longs — at 100 TB this is the dominant-cost-
    * by-far-cheaper shape. Input: (id, sh) with non-empty shingle-hash
    * arrays; output: (id, m0..m{n-1}). */
  def minhashSigAgg(sh: DataFrame, numHashes: Int): DataFrame = {
    val base = sh.select(col("id"), explode(col("sh")).as("h"))
    val aggs = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinhashP).as(s"m$i")
    }
    base.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact word-n-gram Jaccard between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** MinHash+LSH near-duplicate pair mining with exact-Jaccard
    * verification. Returns (id_a, id_b, jaccard) for candidate pairs
    * (sharing ≥1 LSH band) whose TRUE n-gram Jaccard ≥ `threshold`,
    * with id_a < id_b.
    *
    * Plan shape: map (shingle+sign) → explode bands → self-join on
    * (band, key) → distinct pairs → verify via two hash joins back to
    * the shingle table. No cross product anywhere.
    *
    * `mode` = [[TextOps.Codepoint]] mines over character n-grams —
    * the near-dup form that stays meaningful on CJK/Thai corpora
    * (whitespace shingles of an unsegmented doc are whole LINES: a
    * one-character edit breaks every shingle). One [[TextOps.segment]]
    * projection in front; the LSH machinery is untouched.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketWidth: Int = 100,
      mode: TextOps.TokenMode = TextOps.Whitespace,
      norm: TextOps.NormMode = TextOps.NormNone,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // normalization precedes segmentation (NFKC folds full-width
    // codepoints BEFORE they become char-gram tokens) — both are
    // map-side projections fused into the shingle scan
    // spread: the md5-per-token shingle projection is the heavy map
    // side of this operator (guide §2.5; no-op when splits >= cores)
    val dfIn = graft.Tables.spread(df)
    val dfN = norm match {
      case TextOps.NormNone => dfIn
      case nm => dfIn.withColumn(textCol, TextOps.normalize(col(textCol), nm))
    }
    val df0 = mode match {
      case TextOps.Whitespace => dfN
      case m => dfN.withColumn(textCol, TextOps.segment(col(textCol), m))
    }
    val rowsPerBand = numHashes / bands
    // The shingle table feeds THREE consumers (the signature aggregate
    // and both verification joins); Spark recomputes an unshared
    // subtree per consumer, so without intervention the md5-per-token
    // shingling runs three times. Hash-repartitioning on id turns the
    // subtree into an Exchange that ReuseExchange computes ONCE and
    // replays from shuffle files for every consumer — the
    // no-memory-pressure alternative to cache() that also pre-aligns
    // the partitioning the verify joins need anyway. (The signature
    // explode re-keys by shingle hash, so it shuffles either way.)
    val sh = df0
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(col("id"))
    val sig = minhashSigAgg(sh, numHashes)
    val bandKeyCols = (0 until bands).map { b =>
      concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    val bandedAll = sig
      .select(col("id"), posexplode(array(bandKeyCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    // Bucket-width cap: a degenerate band key (boilerplate/templated
    // corpora) with w members creates w²/2 candidates — the one
    // quadratic cliff in the pipeline. Buckets wider than
    // `maxBucketWidth` are dropped wholesale (w·(bands-1) other
    // chances remain via the doc's other bands; truly identical docs
    // belong to exact dedup, which runs first). One extra windowed
    // count on the same (band, band_key) shuffle the join needs anyway.
    val wCount = Window.partitionBy(col("band"), col("band_key"))
    val banded = bandedAll
      .withColumn("_bw", count(lit(1)).over(wCount))
      .filter(col("_bw") <= maxBucketWidth)
      .drop("_bw")
    val pairs = banded
      .as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"),
      )
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shOnly = sh.select(col("id"), col("sh"))
    pairs
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"),
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup KEEP set: from the verified pairs, drop every doc that
    * is near-duplicate of a lower-id doc (greedy min-id survivor —
    * one groupBy over pair edges, no connected-components iteration;
    * the standard practical choice when one pass must suffice). For
    * transitive clusters (A~B~C with no A~C edge) greedy min-id keeps
    * C where full components would drop it — use
    * [[connectedComponents]] + keep-the-component-min when cluster
    * semantics matter. */
  def nearDupDrops(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("drop_id")).distinct()

  /** Connected components over undirected (id_a, id_b) pair edges by
    * FIXED-ITERATION min-label propagation: every node starts as its
    * own label; each round every node takes the min over its own and
    * its neighbors' labels. After t rounds lbl(v) = min id within
    * graph distance t, so `iters` ≥ the largest component diameter
    * yields exact components — and the fixed bound is what makes the
    * operator cross-engine checkable (the q35 oracle unrolls the same
    * rounds in SQL; a converge-until-fixpoint loop has data-dependent
    * round counts no oracle can mirror).
    *
    * Scale: each round is one equi-join of the edge list against the
    * node-sized label table plus one min-aggregate — both shuffle on
    * high-cardinality ids, no driver involvement, edges never fan out.
    * Near-dup/boilerplate clusters are hub-shaped with tiny diameters,
    * so small `iters` (3-5) is exact in practice; for adversarial
    * long-chain graphs the O(log n)-round large-star/small-star
    * variant wins, at the cost of data-dependent convergence. The
    * rounds add no lineage cut, so the result is one plan.
    *
    * Returns (id, component) for every node incident to an edge. */
  def connectedComponents(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one propagation round")
    minLabelRounds(pairs, iters, None).state.withColumnRenamed("lbl", "component")
  }

  /** Production variant of [[connectedComponents]]: propagate until a
    * FIXED POINT instead of a fixed round count — exact for any
    * component diameter up to `maxRounds` (the seed round included),
    * at the price of a data-dependent round count (so no SQL oracle
    * can mirror it; the fixed-round form remains the cross-engine-
    * checked one, and DedupSpec pins their agreement whenever iters
    * covers the diameter). A budget that runs out before a round
    * changes no label raises: the labels would not be components.
    *
    * Every round runs one driver-side action anyway (the convergence
    * count against the previous round), so labels are cut per round:
    * the action materializes the round AND truncates the otherwise
    * quadratically regrowing plan lineage. Still O(diameter) rounds;
    * for adversarial long chains the O(log n) star-contraction family
    * applies, but near-dup/boilerplate graphs converge in a handful
    * of rounds. */
  def connectedComponentsConverged(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val r = minLabelRounds(pairs, maxRounds,
      Some(Rounds.labelsUnchanged(1, "id", "lbl")))
    require(r.settled,
      s"min-label propagation did not converge within $maxRounds rounds; " +
        "raise maxRounds (rounds grow with the largest component diameter)")
    r.state.withColumnRenamed("lbl", "component")
  }

  /** The body of [[connectedComponents]] and
    * [[connectedComponentsConverged]]: `rounds` rounds of min-label
    * propagation, the first of them the seed. */
  private def minLabelRounds(pairs: DataFrame, rounds: Int,
      stop: Option[Rounds.Stop[DataFrame]]): Rounds.Result = {
    // `adj` is referenced by every propagation round (and the label
    // seed); when `pairs` is itself an expensive pipeline (the LSH
    // chain in cleanCC/q39), an unshared subtree would re-run it once
    // per round. localCheckpoint materializes the pair derivation ONCE
    // and truncates its lineage, so every round's plan starts from the
    // cached adjacency blocks instead of re-embedding (and re-codegen-
    // compiling) the full upstream subtree. Values are unchanged (only
    // lineage is), so the fixed-round SQL oracle still mirrors this
    // exactly. The repartition first: `dst` is the join key each round
    // probes, so the checkpointed blocks arrive pre-partitioned for
    // every round's join.
    val adj = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    // Round 1 fuses the identity-label seed with the first
    // propagation: lbl(v) = min(v, min of v's neighbors) is ONE
    // aggregate over the adjacency — no separate distinct-nodes pass
    // or label join for the first round.
    val seed = adj.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .withColumnRenamed("src", "id")
    Rounds.run(seed, rounds - 1, cutEachRound = false, stop) { labels =>
      labels.select(col("id"), col("lbl").as("l"))
        .union(
          adj.join(labels.withColumnsRenamed(Map("id" -> "dst", "lbl" -> "l")), "dst")
            .select(col("src").as("id"), col("l")))
        .groupBy(col("id"))
        .agg(min(col("l")).as("lbl"))
    }
  }

  /** O(log n)-ROUND connected components by alternating large-star /
    * small-star contraction (the MapReduce-era production algorithm
    * for adversarial diameters — a million-node path collapses in ~20
    * rounds where min-label propagation needs a million):
    *
    *   - large-star: per center u, every strictly-larger neighbor
    *     re-links to m = min(N(u) ∪ {u}) — long tails fold onto small
    *     ids without breaking connectivity;
    *   - small-star: per center u over parent-oriented edges (u > v),
    *     all smaller neighbors and u itself link to u's min neighbor —
    *     chains of parent pointers flatten toward stars.
    *
    * Each half-round is one groupBy-min plus one join on the center —
    * keyed shuffles over the (shrinking) edge list, no driver data.
    * The fixpoint (edge set unchanged) leaves exactly the star graphs
    * (node → component min). Data-dependent round count, so no SQL
    * oracle can mirror it; the spec pins union-find equivalence and
    * the logarithmic round budget on a 1000-node chain.
    *
    * Returns (id, component) for every node incident to an edge. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 30): DataFrame =
    connectedComponentsStarWithRounds(pairs, maxRounds)._1

  /** [[connectedComponentsStar]] plus the number of LS+SS rounds it
    * took to converge (for round-budget assertions and ops metrics). */
  def connectedComponentsStarWithRounds(
      pairs: DataFrame, maxRounds: Int = 30): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
    // Fixpoint ⟺ the edge set is a star forest, checked directly
    // (cheaper than edge-set equality): with canonical u > v
    // orientation, stars mean every child u carries exactly ONE
    // edge and no child is also a root. Both LS and SS are identity
    // on such a set (the center's min IS its root), and any chain
    // or double-parent violates one of the two conditions. The
    // canonical orientation also makes each root its component's
    // min: every leaf exceeds its root by construction.
    val starForest = Rounds.Stop(1, sinceCheck = false) { (_, next) =>
      val doubleParent = next.groupBy(col("u")).count()
        .filter(col("count") > 1).head(1).nonEmpty
      !doubleParent && next.as("a")
        .join(next.select(col("u").as("v")).distinct().as("b"), Seq("v"), "left_semi")
        .head(1).isEmpty
    }
    val init = canon(pairs.select(col("id_a").as("a"), col("id_b").as("b")))
      .localCheckpoint()
    val r = Rounds.run(init, maxRounds, cutEachRound = true,
        Some(starForest)) { edges =>
      // large-star over both orientations
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = bidir.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val afterLarge = canon(large)
      // small-star over parent-oriented (u > v) edges
      val ssMin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(
        afterLarge.join(ssMin, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(ssMin.select(col("u").as("a"), col("m").as("b"))))
    }
    // labels derived from a NON-star edge set would be wrong (multiple
    // or non-minimal components) — an exhausted budget must fail loud,
    // not return garbage; the O(log n) bound makes the default budget
    // generous for any real graph
    require(r.settled,
      s"star-contraction did not converge within $maxRounds rounds; " +
        "raise maxRounds (rounds grow ~log of the largest component)")
    // stars: u -> component v; roots label themselves
    val labels = r.state.select(col("u").as("id"), col("v").as("component"))
      .union(r.state.select(col("v").as("id"), col("v").as("component")))
      .distinct()
    (labels, r.rounds)
  }

  /** Star edges of the passage-sharing graph: for every passage window
    * repeated across docs ([[repeatedPassages]] semantics), an edge
    * from the passage's min doc to each other doc containing it.
    * Star form keeps |edges| = Σ(n_docs−1) per passage — linear in
    * occurrences, never the quadratic all-pairs clique. Feeding these
    * into [[connectedComponents]] groups documents linked by shared
    * boilerplate even when no single passage spans the whole cluster
    * (A shares p1 with B, B shares p2 with C → one component). */
  def passageEdges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
  ): DataFrame = {
    // exploded hashes feed BOTH the repeat aggregate and the join back
    // — repartition on the hash so the scan+window-hash subtree is one
    // reused exchange, pre-aligned for both consumers (same pattern as
    // nearDupPairs' shingle table)
    val expl = df.select(
      col(idCol).as("id"),
      explode(shingleHashes(col(textCol), windowTokens)).as("passage_hash"))
      .repartition(col("passage_hash"))
    val rep = expl.groupBy(col("passage_hash"))
      .agg(min(col("id")).as("first_doc"), countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("passage_hash"), col("first_doc"))
    expl.join(rep, "passage_hash")
      .filter(col("id") > col("first_doc"))
      .select(col("first_doc").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** SimHash over an exploded (id, shingle) frame: per bit position,
    * majority vote of the shingle hashes' bits — `bits` shifted-bit
    * sums with map-side partial aggregation, so the shuffle carries
    * `bits` small longs per doc. `hashOf` picks the hash family:
    * [[TextOps.hash64]] (xxhash64, production speed) or
    * [[TextOps.hash60]] (md5-based, DuckDB-mirrorable). */
  def simhashBits(
      df: DataFrame,
      idCol: String,
      shingleArr: Column,
      hashOf: Column => Column,
      bits: Int,
  ): DataFrame = {
    // 64 is fine: bit 63 lands on the sign — xor/bit_count hamming and
    // equality joins are sign-agnostic (only arithmetic on the raw
    // value would care, and none exists here)
    require(bits >= 1 && bits <= 64, "1..64 bits in a long")
    val exploded = df
      .select(col(idCol).as("id"), explode(shingleArr).as("s"))
      .select(col("id"), hashOf(col("s")).as("h"))
    val bitSums: Seq[Column] = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b")
    }
    val n = count(lit(1)).as("n")
    val agg = exploded.groupBy(col("id")).agg(bitSums.head, (bitSums.tail :+ n): _*)
    // bit b set iff ones outnumber zeros among shingle hashes
    val sim = (0 until bits)
      .map(b => when(col(s"b$b") * 2 > col("n"), shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** 64-bit xxhash-based SimHash (production-speed form). */
  def simhash64(df: DataFrame, idCol: String, shingleArr: Column): DataFrame =
    simhashBits(df, idCol, shingleArr, hash64, 64)

  /** SimHash near-dup pair mining with BLOCK-LSH candidate generation:
    * the signature's `bits` are cut into `blocks` equal slices, and by
    * pigeonhole any pair within Hamming distance ≤ blocks−1 agrees
    * EXACTLY on at least one slice — so candidates come from an
    * equi-join on (block, slice-value), never an all-pairs scan, and
    * `maxHamming = blocks−1` loses nothing. Verification is one
    * bit_count(xor) per candidate. The md5-based [[TextOps.hash60]]
    * family makes the whole pipeline DuckDB-mirrorable (q44); the
    * complementary MinHash pipeline ([[nearDupPairs]]) estimates SET
    * overlap, while SimHash hamming tracks weighted cosine similarity
    * of the shingle distribution — different notion, same blocking
    * discipline. Returns (id_a, id_b, hamming). */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bits: Int = 60,
      blocks: Int = 4,
      maxHamming: Int = 3,
  ): DataFrame = {
    // pre-hashed distinct shingle strings via the compiled expression
    // (identical values to transform(shingles(...), hash60), one md5
    // per shingle instead of an interpreted chain); spread: the shingle
    // md5 projection is the heavy map side (guide §2.5)
    val shH = graft.Tables.spread(df)
      .select(col(idCol).as("id"), shingleHash60s(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sims = simhashBits(shH, "id", col("sh"), identity, bits)
      .select(col("id"), col("simhash"))
    hammingNearDupPairs(sims, "id", "simhash", bits, blocks, maxHamming)
  }

  /** GENERIC block-LSH hamming pairing over any precomputed ≤64-bit
    * hash column (the [[simhashNearDupPairs]] tail, factored so other
    * hash families — e.g. perceptual image hashes,
    * [[graft.llm.Multimodal.imageNearDupPairs]] — reuse the
    * pigeonhole discipline): the hash cuts into `blocks` equal
    * slices; any pair within Hamming distance ≤ blocks−1 agrees on at
    * least one slice, so the (block, slice) equi-join finds every
    * such pair with no all-pairs comparison. Returns
    * (id_a, id_b, hamming), id_a < id_b, exact distances. */
  def hammingNearDupPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      bits: Int,
      blocks: Int = 4,
      maxHamming: Int = 3,
  ): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bits % blocks == 0, "blocks must divide bits")
    require(maxHamming <= blocks - 1,
      "pigeonhole guarantee only holds for maxHamming <= blocks-1")
    val blockBits = bits / blocks
    // blocks=1 (legal only with maxHamming=0) gives blockBits=64,
    // where 1L<<64 wraps to 1 and a zero mask would key every row to
    // bucket 0 — an accidental all-pairs join; -1L keys on the full
    // hash, making the degenerate case an exact-duplicate equi-join
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    val blocked = hashes
      .select(col(idCol).as("id"), col(hashCol).as("graft_h_"))
      .select(col("id"), col("graft_h_"),
        posexplode(array((0 until blocks).map(j =>
          shiftright(col("graft_h_"), j * blockBits).bitwiseAND(lit(mask))): _*)))
      .withColumnsRenamed(Map("pos" -> "blk", "col" -> "bkey"))
    val pairs = blocked.as("a")
      .join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.graft_h_").as("h_a"), col("b.graft_h_").as("h_b"))
      .distinct()
    pairs
      .select(col("id_a"), col("id_b"),
        hamming(col("h_a"), col("h_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Edit-distance verification of candidate pairs: joins the raw
    * texts back onto (id_a, id_b) pairs and scores normalized
    * Levenshtein similarity 1 − dist/max(len). Character-grain
    * complement to the token-grain Jaccard verifier — catches
    * small in-word edits Jaccard over word shingles scores harshly.
    * O(len²) per pair, so ONLY ever run on candidate pairs, never
    * the corpus. */
  def editDistancePairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
  ): DataFrame = {
    val t = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    pairs
      .join(t.withColumnsRenamed(Map("id" -> "id_a", "t" -> "t_a")), "id_a")
      .join(t.withColumnsRenamed(Map("id" -> "id_b", "t" -> "t_b")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        levenshtein(col("t_a"), col("t_b")).as("edit_dist"),
        (lit(1.0) - levenshtein(col("t_a"), col("t_b")).cast("double") /
          greatest(length(col("t_a")), length(col("t_b")), lit(1)).cast("double"))
          .as("edit_sim"),
      )
  }

  /** The NCD arithmetic seam, shared by [[ncdPairs]] and the oracle
    * query that replays it over DuckDB-computable complexity lengths:
    * NCD = (C(xy) − min(C(x), C(y))) / max(C(x), C(y)) — two exact
    * integer extremes and ONE IEEE divide, so any engine holding the
    * same three lengths reproduces the distance bit-for-bit. */
  def ncdFromLengths(cA: Column, cB: Column, cAB: Column): Column =
    (cAB - least(cA, cB)).cast("double") / greatest(cA, cB).cast("double")

  /** Normalized compression distance over candidate pairs (Cilibrasi
    * & Vitányi 2005 — the parameter-free similarity the hash families
    * cannot see): NCD(x, y) = (C(x·y) − min(C(x), C(y))) /
    * max(C(x), C(y)) with C = fixed-level DEFLATE byte length (the
    * X168 signal reused, so C is deterministic). The joint term here
    * is C(x + " " + y) — the single-space separator keeps the
    * concatenation a valid token stream and costs ≤ a few bytes of
    * C, a deterministic constant both sides of any comparison pay;
    * callers comparing against a separator-free NCD should expect
    * that offset. Near-identical texts compress together almost as
    * small as alone (NCD ≈ 0); unrelated texts share nothing for the
    * dictionary coder to reuse (NCD ≈ 1). The tier's niche:
    * REORDERED near-dups — shuffle a document's sentences and
    * shingle Jaccard collapses while the concatenation still
    * compresses against itself. Like [[editDistancePairs]], per-pair
    * cost means this runs ONLY on candidate pairs from a miner,
    * never all-pairs; the ratio is [[ncdFromLengths]] (oracled).
    * Join semantics: INNER on both ids — a candidate pair whose id
    * is absent from `docs` (filtered upstream, quarantined) drops
    * silently rather than scoring against nothing; outer-join it
    * yourself if absence must surface. C itself has no SQL oracle
    * (no DEFLATE in DuckDB — the X168 discipline); the codec call is
    * spec-pinned on identity / reorder / unrelated fixtures, and the
    * downstream arithmetic hash-replays via [[ncdFromLengths]]. */
  def ncdPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
  ): DataFrame =
    ncdPairsWith(pairs, docs, idCol, textCol, TextOps.deflateLen)

  /** [[ncdPairs]] with a pluggable complexity measure C — the seam
    * that lets the join + ratio chain be ORACLED even though DEFLATE
    * itself cannot: pass a DuckDB-replayable C (e.g. the distinct
    * 3-shingle count — set complexity, a legitimate dictionary-coder
    * surrogate: shared n-grams are exactly what DEFLATE's window
    * reuses) and every output column hash-matches (q146); pass
    * [[TextOps.deflateLen]] and only the codec call itself is
    * oracle-exempt. Same inner-join drop semantics and `" "`
    * separator as [[ncdPairs]] (its doc). */
  def ncdPairsWith(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      complexity: Column => Column,
  ): DataFrame = {
    val t = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    pairs
      .join(t.withColumnsRenamed(Map("id" -> "id_a", "t" -> "t_a")), "id_a")
      .join(t.withColumnsRenamed(Map("id" -> "id_b", "t" -> "t_b")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        complexity(col("t_a")).as("c_a"),
        complexity(col("t_b")).as("c_b"),
        complexity(concat(col("t_a"), lit(" "), col("t_b"))).as("c_ab"))
      .withColumn("ncd", ncdFromLengths(col("c_a"), col("c_b"), col("c_ab")))
  }

  /** Repeated-passage mining (the exact-substring-dedup family): find
    * fixed-width token windows that occur in MORE THAN ONE document —
    * the boilerplate/licence-block/template detector that document-
    * level near-dup misses. Explode each doc's w-token window hashes
    * with positions, group by window hash, keep cross-doc repeats.
    * Map-side explode + one hash aggregation; the shuffle carries
    * (hash, doc, pos) triples — no text moves. A true suffix-array
    * dedup generalizes to variable length; fixed-w windows are the
    * standard scalable approximation (run several w's if needed). */
  def repeatedPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      minDocs: Int = 2,
  ): DataFrame = {
    val sh = graft.Tables.spread(df).select(
      col(idCol).as("id"),
      explode(shingleHashes(col(textCol), windowTokens)).as("passage_hash"),
    )
    // shingleHashes is per-doc distinct, so counts are document-grain
    sh.groupBy(col("passage_hash"))
      .agg(
        countDistinct(col("id")).as("n_docs"),
        min(col("id")).as("first_doc"),
      )
      .filter(col("n_docs") >= minDocs)
  }

  /** Variable-length repeated-segment mining — the step from
    * [[repeatedPassages]]' fixed-width windows toward suffix-array-
    * style substring dedup: per document, maximal RUNS of consecutive
    * window positions whose w-token window also occurs in another
    * document. A 300-token boilerplate block shared by two docs is 291
    * consecutive repeated 10-token windows — this reports it as ONE
    * segment row (start_pos, n_tokens=300) instead of 291 hash rows.
    *
    * Plan shape: position-preserving window hashes (map-side compiled
    * loop) → cross-doc repeat mark as a window over the hash
    * (min≠max of doc ids — no aggregate+self-join pass) → per-doc
    * gap-grouping (pos − row_number is constant within a consecutive
    * run) → one aggregate per run. Two shuffles total (hash, then
    * doc), carrying (hash, id, pos) triples — no text.
    * True suffix arrays find arbitrary-length repeats without a fixed
    * w; runs-of-w recover every repeat of length ≥ w at w-token
    * resolution, which is the standard scalable approximation.
    *
    * Output: (doc_id-named `idCol`, start_pos [1-based token index],
    * n_tokens, n_windows) per maximal segment. */
  def repeatedSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      minDocs: Int = 2,
  ): DataFrame = {
    val win = graft.Tables.spread(df)
      .select(
        col(idCol).as("id"),
        posexplode(windowHashesPositional(col(textCol), windowTokens))
          .as(Seq("pos", "h")))
    // The repeat mark is a WINDOW over the hash, not an aggregate +
    // self-join: "≥2 distinct docs share h" is just min(id) ≠ max(id)
    // among h's rows (general minDocs falls back to a distinct count
    // over the same window). One shuffle on h, no join, and no
    // divergently-pruned second scan of the window-hash subtree —
    // strictly fewer exchanges than the join form at any scale.
    val wh = Window.partitionBy(col("h"))
    val repeated =
      if (minDocs <= 2) min(col("id")).over(wh) =!= max(col("id")).over(wh)
      else size(array_distinct(collect_list(col("id")).over(wh))) >= minDocs
    val marked = win
      .withColumn("_rep", repeated)
      .filter(col("_rep"))
      .select(col("id"), col("pos"))
    val wn = Window.partitionBy(col("id")).orderBy(col("pos"))
    marked
      .withColumn("grp", col("pos") - row_number().over(wn))
      .groupBy(col("id"), col("grp"))
      .agg(
        (min(col("pos")) + 1).as("start_pos"), // 1-based token index
        (max(col("pos")) - min(col("pos")) + windowTokens).as("n_tokens"),
        count(lit(1)).cast("int").as("n_windows"),
      )
      .drop("grp")
      .withColumnRenamed("id", idCol)
  }

  /** Benchmark DECONTAMINATION — the training-corpus hygiene step no
    * serious LLM pipeline ships without: any training document that
    * shares a full n-gram with the evaluation set is flagged (the
    * GPT-3-lineage 13-gram rule; `n` is the knob). Exact n-gram
    * containment, not similarity: eval leakage is a correctness
    * problem, so the check is deterministic.
    *
    * Plan shape: both sides map to their distinct n-gram hashes
    * (compiled [[graft.llm.TextOps.shingleHashes]] loop — 8-byte
    * hashes, text never shuffles), the eval set's hashes dedupe, and
    * a left-semi hash join marks contaminated train docs. The eval
    * side is benchmark-sized (thousands of docs) → its hash set
    * broadcasts; the train side streams through map-side. Returns
    * (idCol, n_shared = distinct shared n-grams). */
  def contamination(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      normalize: Boolean = false,
  ): DataFrame = {
    // normalize=true folds case/punctuation/whitespace before
    // n-gramming (TextOps.normalizeForMatching) so cosmetic edits
    // can't hide a leak; off by default to keep the oracle mirror
    // byte-exact on raw text
    def txt = if (normalize) TextOps.normalizeForMatching(col(textCol)) else col(textCol)
    val evalGrams = test
      .select(explode(shingleHashes(txt, n)).as("h")).distinct()
    train
      .select(col(idCol), explode(shingleHashes(txt, n)).as("h"))
      .join(evalGrams, Seq("h"), "left_semi")
      // shingleHashes is per-doc distinct, so plain count IS the
      // distinct shared-gram count
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** NEAR-MISS contamination — the evasion case the exact rule is
    * blind to: a leaked eval passage with a token inserted (or
    * dropped, or swapped) every few words shares NO exact n-gram with
    * the eval set once its clean runs are shorter than n, yet it is
    * still a leak. Both sides therefore join on the ONE-DELETION
    * neighborhood of their n-grams ([[graft.llm.TextOps.
    * shingleDeletionHashes]], symmetric-delete style): any single
    * token edit inside a window leaves a shared (n−1)-token variant,
    * so one edit per window cannot evade. Plan shape is identical to
    * [[contamination]] — 8-byte variant hashes, eval side broadcasts,
    * train side map-side — the neighborhood just multiplies the
    * per-doc hash count by ~n. Returns (idCol, n_shared = distinct
    * shared variant hashes); filter n_shared for a stricter k-of-n
    * overlap policy. */
  def contaminationFuzzy(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      normalize: Boolean = false,
  ): DataFrame = {
    def txt = if (normalize) TextOps.normalizeForMatching(col(textCol)) else col(textCol)
    val evalGrams = test
      .select(explode(TextOps.shingleDeletionHashes(txt, n)).as("h")).distinct()
    train
      .select(col(idCol), explode(TextOps.shingleDeletionHashes(txt, n)).as("h"))
      .join(evalGrams, Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[contamination]]'s subtractive form: the training corpus with
    * every flagged document removed. `fuzzy = true` subtracts on the
    * one-deletion neighborhood ([[contaminationFuzzy]]) instead of
    * exact n-grams. */
  def decontaminate(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      normalize: Boolean = false,
      fuzzy: Boolean = false,
  ): DataFrame = {
    val flagged =
      if (fuzzy) contaminationFuzzy(train, test, idCol, textCol, n, normalize)
      else contamination(train, test, idCol, textCol, n, normalize)
    train.join(flagged.select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** Multi-width sweep of [[repeatedSegments]] — the next step toward
    * suffix-array-grade substring dedup: run the fixed-w miner at
    * several widths and MERGE the per-width maximal runs into maximal
    * covered token intervals. Small widths catch short repeats a large
    * w misses entirely (a 7-token repeat produces zero 10-token
    * windows); large widths confirm long blocks at coarser resolution;
    * the union covers every repeat of length ≥ min(widths) at
    * min(widths)-token resolution.
    *
    * The merge is interval gaps-and-islands per doc: a segment opens a
    * new island only when its start lies strictly beyond every
    * previously-seen end (running max over the doc's segments ordered
    * by start) — overlapping AND adjacent intervals coalesce. One
    * window shuffle on the doc id over the (already tiny) segment
    * rows; each width's mining keeps its own 2-shuffle plan. Output:
    * (idCol, start_pos [1-based], n_tokens, n_parts = contributing
    * per-width segments). */
  def repeatedSegmentsSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      widths: Seq[Int] = Seq(5, 10, 20),
      minDocs: Int = 2,
  ): DataFrame = {
    require(widths.nonEmpty, "need at least one window width")
    // Identical intervals can arrive from several widths; collapsing
    // them first (keeping a count) makes (start, end) a TOTAL order
    // per doc — without it, tie rows could be ordered differently by
    // the island-flag and running-sum window passes (engines don't
    // promise a stable tie order between evaluations), splitting
    // islands nondeterministically.
    val segs = widths.map { w =>
      repeatedSegments(df, idCol, textCol, w, minDocs)
        .select(col(idCol).as("id"), col("start_pos"),
          (col("start_pos") + col("n_tokens")).as("end_pos")) // end-exclusive
    }.reduce(_ unionByName _)
      .groupBy(col("id"), col("start_pos"), col("end_pos"))
      .agg(count(lit(1)).as("parts"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("start_pos"), col("end_pos"))
    val prevMax = max(col("end_pos"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    segs
      .withColumn("_new",
        when(prevMax.isNull || col("start_pos") > prevMax, 1).otherwise(0))
      .withColumn("_grp",
        sum(col("_new")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("_grp"))
      .agg(
        min(col("start_pos")).as("start_pos"),
        (max(col("end_pos")) - min(col("start_pos"))).as("n_tokens"),
        sum(col("parts")).cast("int").as("n_parts"),
      )
      .drop("_grp")
      .withColumnRenamed("id", idCol)
  }

  /** Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for
    * pairs in the SAME coarse block (`blockCol` — a cluster/IVF label,
    * or an LSH bucket from [[Similarity.lshBuckets]]) with cosine ≥
    * `threshold`. The equi-join on the block key is what keeps this
    * N²/blocks instead of N² — the same candidate-generation discipline
    * as the MinHash path, but in embedding space. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      blockCol: String,
      threshold: Double,
  ): DataFrame = {
    val v = Similarity.withNorm(df, idCol, embCol, Seq(blockCol))
    val a = v.withColumnsRenamed(
      Map("id" -> "id_a", "e" -> "e_a", "nrm" -> "n_a", blockCol -> "blk"))
    val b = v.withColumnsRenamed(
      Map("id" -> "id_b", "e" -> "e_b", "nrm" -> "n_b"))
    a.join(b, col("blk") === col(blockCol) && col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        Similarity.cosine(col("e_a"), col("e_b"), col("n_a"), col("n_b")).as("cosine"),
      )
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC dedup keepers (the SemDeDup move): near-identical
    * EMBEDDINGS group into components and only the min-id
    * representative keeps — the dedup tier that catches paraphrases
    * and re-encodings the lexical miners (MinHash/SimHash) are blind
    * to, because it compares meaning-space, not token-space.
    * Composition of two proven pieces: [[embeddingNearDupPairs]]
    * (blocked equi-join, N²/blocks) edges into
    * [[connectedComponents]] (fixed label-propagation rounds), then
    * every vector joins its component — vectors in no pair are their
    * own component. Output: (idCol, component, keep); `keep` is
    * component == id, so downstream is one map-side filter (or an
    * anti-join to drop). Costs the CC rounds on the PAIR graph only. */
  def semanticKeepers(
      df: DataFrame,
      idCol: String,
      embCol: String,
      blockCol: String,
      threshold: Double,
      ccIters: Int = 3,
  ): DataFrame = {
    val pairs = embeddingNearDupPairs(df, idCol, embCol, blockCol, threshold)
    val cc = connectedComponents(pairs, ccIters)
    df.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("component"), col(idCol)).as("component"),
        (coalesce(col("component"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** WINNOWED near-dup candidate pairs (Schleimer 2003 — the MOSS
    * pipeline at corpus scale): docs pair when they share at least
    * `minShared` winnowing fingerprints ([[TextOps.winnowHashes]] —
    * each w-window's minimum k-gram hash). The scale trade vs the
    * full shingle join (q49's decontamination shape): the posting
    * table is ~2/(w+1) the size — a w-fold smaller shuffle — while
    * the paper's guarantee keeps a detection FLOOR (any shared run
    * of ≥ w + k − 1 tokens still collides; runs shorter than that
    * MAY be missed, the stated trade). Same discipline as the
    * MinHash tier: 8-byte fingerprint keys shuffle (never text), a
    * degenerate fingerprint shared by > maxBucketWidth docs
    * (boilerplate minima) is dropped wholesale — candidate
    * generation stays near-linear under template floods — and exact
    * verification belongs to the caller ([[editDistancePairs]] /
    * jaccard on the candidates). Output: (id_a, id_b, n_shared),
    * canonical id_a < id_b. */
  def winnowedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxBucketWidth: Int = 100,
  ): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // winnowing is the heaviest per-row projection in the dedup tier
    // (O(L·w) sliding minima) — recover map-side parallelism when the
    // input layout planned fewer partitions than cores (guide §2.5)
    val fps = graft.Tables.spread(df)
      .select(col(idCol).as("id"),
        explode(TextOps.winnowHashes(col(textCol), k, w)).as("fp"))
    // One-pass posting-list shape (optimization round 22 — guide §2.3/
    // §2.4): the previous form window-counted bucket widths and then
    // SELF-JOINED the capped postings on fp, which computed the whole
    // scan → winnow-explode → exchange → window subtree once per join
    // side. Instead, each fingerprint's id list is collected in ONE
    // groupBy — via the bounded [[graft.expr.TopKAgg]] heap (constant
    // score ⇒ payload-ASC order, i.e. the sorted id list for free) at
    // cap+1, so per-group state is O(maxBucketWidth) BY CONSTRUCTION
    // and partial aggregation reduces map-side even under a
    // boilerplate-flood fingerprint — and ordered pairs are generated
    // from the sorted array by a codegen'd nested transform. A bucket
    // wider than the cap collects exactly cap+1 ids and is dropped by
    // the size filter, exactly the rows the old width filter dropped.
    // winnowHashes is per-doc distinct, so (id, fp) rows are unique
    // and the pair multiset is unchanged (WinnowingSpec pins it).
    val buckets = fps.groupBy(col("fp"))
      .agg(graft.expr.TopKAgg.topK(lit(0L), col("id"), maxBucketWidth + 1)
        .as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucketWidth))
    buckets
      .select(explode(flatten(transform(col("_ids"), (x, i) =>
        transform(slice(col("_ids"), i + lit(2), size(col("_ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("_p"))
      .groupBy(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
