package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while rain falls softly on green hills and wind moves through tall trees"

  test("exactKeepers groups identical content and keeps the min id") {
    val df = Seq(
      (1L, base),
      (2L, base),                       // exact dup of 1
      (3L, base + " extra"),            // different content
      (4L, base),                       // exact dup of 1
    ).toDF("doc_id", "text")
    val keepers = Dedup.exactKeepers(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(keepers.length == 2)
    assert(keepers(0).getLong(1) == 1L && keepers(0).getLong(2) == 3L)
    assert(keepers(1).getLong(1) == 3L && keepers(1).getLong(2) == 1L)
  }

  test("nearDupPairs finds planted near-duplicates and only those") {
    val nearDup = base.replace("lazy", "sleepy") // one token of ~26 changed
    val unrelated =
      "completely different words about spark query engines and columnar " +
        "execution with shuffles partitions joins aggregates and codegen stages"
    val df = Seq(
      (1L, base),
      (2L, nearDup),
      (3L, unrelated),
      (4L, base), // exact dup: jaccard 1.0
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)), s"planted near-dup missed: ${found.mkString(",")}")
    assert(found.contains((1L, 4L)) && found.contains((2L, 4L)))
    assert(!found.exists { case (a, b) => a == 3L || b == 3L }, "unrelated doc paired")
    val j14 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get.getDouble(2)
    assert(j14 == 1.0, s"exact dup pair should have jaccard 1.0, got $j14")
  }

  test("nearDupDrops keeps the lowest id of a dup cluster") {
    val df = Seq((1L, base), (2L, base), (3L, base)).toDF("doc_id", "text")
    val drops = Dedup.nearDupDrops(Dedup.nearDupPairs(df, "doc_id", "text"))
      .as[Long].collect().sorted
    assert(drops.toSeq == Seq(2L, 3L)) // 1 survives as cluster min
  }

  test("docs shorter than the shingle width are excluded, not errored") {
    val df = Seq((1L, "a b"), (2L, base), (3L, base)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 3L)))
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated =
      "totally distinct vocabulary regarding database optimizers statistics " +
        "cardinality estimation cost models and physical plan enumeration"
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val sh = Dedup.simhash64(
      df, "doc_id", TextOps.shingles(TextOps.tokens(col("text")), 3))
    val m = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < 16, s"near-dup hamming ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) > 16, s"unrelated hamming ${ham(m(1L), m(3L))}")
  }

  test("hamming column helper matches JVM bitCount") {
    val df = Seq((255L, 0L), (7L, 5L), (-1L, 0L)).toDF("a", "b")
    val got = df.select(Dedup.hamming(col("a"), col("b"))).as[Int].collect()
    assert(got.toSeq == Seq(8, 1, 64))
  }

  test("repeatedPassages finds shared windows across docs only") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, s"one two three $shared four five six seven eight nine ten"),
      (2L, s"totally different preamble here $shared and a different tail section now"),
      (3L, "no shared passage in this document at all just unique words " +
        "plus more filler tokens to cross the window width"),
    ).toDF("doc_id", "text")
    val hits = Dedup.repeatedPassages(df, "doc_id", "text", windowTokens = 10)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getLong(1) == 2L)) // only the 1-2 shared windows
    assert(hits.forall(_.getLong(2) == 1L)) // first_doc = min id
  }

  test("bucket-width cap drops degenerate LSH buckets, not normal ones") {
    // 30 identical boilerplate docs (every band bucket has width 30)
    // plus one real near-dup pair
    val boiler = (10L until 40L).map(i => (i, base.replace("fox", "boiler")))
    val df = (Seq((1L, base), (2L, base.replace("lazy", "sleepy"))) ++ boiler)
      .toDF("doc_id", "text")
    val capped = Dedup.nearDupPairs(df, "doc_id", "text", maxBucketWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"boilerplate cluster should be capped out: $capped")
    val uncapped = Dedup.nearDupPairs(df, "doc_id", "text", maxBucketWidth = 1000)
      .count()
    // 435 boiler-boiler pairs + (1,2) + 60 cross pairs (the boiler text
    // is itself a one-word mutation of base, so docs 1/2 near-dup it)
    assert(uncapped == 435L + 1 + 60)
  }

  test("embeddingNearDupPairs: planted duplicate vector found, cross-block ignored") {
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val dup = v.clone()
    val other = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val crossBlockDup = v.clone()
    val df = Seq(
      (1L, v, 0),
      (2L, dup, 0),            // same block, cosine 1.0
      (3L, other, 0),          // same block, dissimilar
      (4L, crossBlockDup, 1),  // identical but different block: not a candidate
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("minhash signature estimates jaccard roughly") {
    // two docs with known shingle overlap: signature agreement rate
    // should approximate the true jaccard (loose bound, 32 hashes)
    val nearDup = base.replace("lazy", "sleepy")
    val df = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val sh = df.select(
      col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val withSig = sh.select(col("doc_id"), Dedup.minhashSignature(col("sh"), 32).as("sig"))
    val sigs = withSig.orderBy("doc_id").as[(Long, Seq[Long])].collect()
    val agree = sigs(0)._2.zip(sigs(1)._2).count { case (a, b) => a == b } / 32.0
    val Seq(shA, shB) = sh.orderBy("doc_id").as[(Long, Seq[String])].collect().map(_._2.toSet).toSeq
    val trueJ = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(agree - trueJ) < 0.3, s"minhash est $agree vs true $trueJ")
  }

  // The transitive-cluster fixture greedy min-id dedup gets wrong:
  // A~B and B~C with NO direct A~C edge must still form one component.
  test("connectedComponents groups a transitive chain") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, iters = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(cc == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // ...and greedy min-id drops would have KEPT 3 (3 is only ever an
    // id_b of 2, not of 1) — the exact case CC exists for:
    assert(Dedup.nearDupDrops(edges).as[Long].collect().toSet == Set(2L, 3L, 11L))
  }

  test("connectedComponents iteration bound = graph distance") {
    // path 1-2-3-4-5: after t rounds a node's label is the min id
    // within distance t, so iters=2 leaves node 5 at label 3 and
    // iters=4 (the diameter) converges the whole path to 1.
    val path = (1L to 4L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val under = Dedup.connectedComponents(path, iters = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(under == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
    val exact = Dedup.connectedComponents(path, iters = 4)
      .as[(Long, Long)].collect()
    assert(exact.forall(_._2 == 1L))
  }

  test("repeatedSegments merges consecutive repeated windows into one run") {
    val block = (1 to 14).map(i => s"b$i").mkString(" ")  // 14 shared tokens
    val other = (21 to 32).map(i => s"c$i").mkString(" ") // 12 shared tokens
    val df = Seq(
      (1L, s"$block u1 u2 u3 $other"),          // block at pos 1, other at pos 18
      (2L, s"x1 x2 $block y1 $other z9"),       // block at pos 3, other at pos 18
      (3L, "totally unrelated words only here alpha beta gamma delta eps zeta"),
    ).toDF("doc_id", "text")
    val segs = Dedup.repeatedSegments(df, "doc_id", "text", windowTokens = 10)
      .orderBy("doc_id", "start_pos")
      .as[(Long, Int, Int, Int)].collect().toSeq
    // 14 shared tokens = 5 consecutive 10-token windows = ONE segment
    // of n_tokens=14; 12 shared = 3 windows, n_tokens=12. Doc 3: none.
    assert(segs == Seq(
      (1L, 1, 14, 5), (1L, 18, 12, 3),
      (2L, 3, 14, 5), (2L, 18, 12, 3),
    ))
  }

  test("repeatedSegmentsSweep catches short repeats w=10 misses and merges across widths") {
    val short = (1 to 7).map(i => s"s$i").mkString(" ")   // 7 shared tokens: invisible at w=10
    val long = (1 to 25).map(i => s"L$i").mkString(" ")   // 25 shared tokens
    val df = Seq(
      (1L, s"$short f1 f2 f3 f4 f5 $long"),   // short at 1, long at 13
      (2L, s"g1 $short h1 h2 h3 h4 h5 h6 $long"), // short at 2, long at 15
      (3L, "nothing in common with anybody else at all whatsoever"),
    ).toDF("doc_id", "text")
    // w=10 alone: only the 25-token block (7 < 10 produces no window)
    val w10 = Dedup.repeatedSegments(df, "doc_id", "text", windowTokens = 10)
      .as[(Long, Int, Int, Int)].collect().toSeq
    assert(w10.forall(_._3 == 25), s"w=10 must miss the 7-token repeat: $w10")
    // the sweep recovers both: the 7-token repeat via w=5, the long
    // block via all widths, merged into ONE interval per site
    val sweep = Dedup.repeatedSegmentsSweep(df, "doc_id", "text", widths = Seq(5, 10, 20))
      .orderBy("doc_id", "start_pos")
      .select("doc_id", "start_pos", "n_tokens")
      .as[(Long, Int, Int)].collect().toSeq
    assert(sweep == Seq(
      (1L, 1, 7), (1L, 13, 25),
      (2L, 2, 7), (2L, 15, 25),
    ), s"got $sweep")
  }

  test("converged CC is exact on a deep chain where fixed rounds truncate") {
    // path of 30 nodes: diameter 29 — fixed iters=3 must truncate,
    // the converged variant must collapse everything to label 1
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val truncated = Dedup.connectedComponents(path, iters = 3)
      .as[(Long, Long)].collect()
    assert(truncated.exists(_._2 != 1L), "iters=3 should truncate a 30-node path")
    val exact = Dedup.connectedComponentsConverged(path)
      .as[(Long, Long)].collect()
    assert(exact.length == 30 && exact.forall(_._2 == 1L))
  }

  test("converged CC fails loudly when the round budget is exhausted") {
    // an 8-node path needs the seed and 6 more rounds to reach label 1
    // everywhere, and one round more to see nothing change
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsConverged(path, maxRounds = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(Dedup.connectedComponentsConverged(path, maxRounds = 8)
      .as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("decontamination flags exactly the train docs sharing a full n-gram with eval") {
    val evalSet = Seq(
      (100L, "the capital of france is paris obviously"),
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we know the capital of france is paris and it is large"), // contains eval 4-grams
      (2L, "paris france capital the of is"),       // same words, NO shared 4-gram order
      (3L, "totally unrelated text about fish and rivers flowing home"),
    ).toDF("doc_id", "text")
    val flagged = Dedup.contamination(train, evalSet, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(1L), s"got $flagged")
    assert(flagged(1L) == 3L, // "the capital of france", "capital of france is", "of france is paris"
      s"doc 1 shares exactly 3 distinct 4-grams, got ${flagged(1L)}")
    val kept = Dedup.decontaminate(train, evalSet, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))

    // cosmetic edits (case, punctuation) hide the leak from the raw
    // matcher but not from the normalized one
    val disguised = Seq(
      (9L, "well, The CAPITAL of France -- is Paris... everyone knows"),
    ).toDF("doc_id", "text")
    assert(Dedup.contamination(disguised, evalSet, "doc_id", "text", n = 4)
      .count() == 0, "raw matcher should miss the disguised leak")
    val caught = Dedup.contamination(disguised, evalSet, "doc_id", "text",
        n = 4, normalize = true)
      .as[(Long, Long)].collect().toMap
    assert(caught.keySet == Set(9L) && caught(9L) == 3L, s"got $caught")
  }

  test("fuzzy decontamination catches inserted-token evasion the exact rule provably misses") {
    val evalSet = Seq(
      (100L, "the capital of france is paris obviously everyone agrees today"),
    ).toDF("doc_id", "text")
    // the leak re-inserts a junk token every 3 words: every clean run
    // is 3 < n = 4 tokens, so NO exact 4-gram of the eval set survives
    // — but each 4-window holding exactly one junk token shares its
    // delete-the-junk variant with the eval set's deletion family
    val evaded = Seq(
      (1L, "the capital of x1 france is paris x2 obviously everyone agrees x3 today"),
      (2L, "totally unrelated text about fish and rivers flowing home tonight"),
    ).toDF("doc_id", "text")
    assert(Dedup.contamination(evaded, evalSet, "doc_id", "text", n = 4).count() == 0,
      "the exact rule must be blind to this evasion (that is the point)")
    val caught = Dedup.contaminationFuzzy(evaded, evalSet, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(caught.keySet == Set(1L), s"got $caught")
    val kept = Dedup.decontaminate(evaded, evalSet, "doc_id", "text", n = 4, fuzzy = true)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L))
    // and the exact subtractive form keeps both (documents the gap)
    assert(Dedup.decontaminate(evaded, evalSet, "doc_id", "text", n = 4).count() == 2)
    // normalize composes with fuzzy: case/punct noise on top of the
    // insertions still gets caught
    // at least one cosmetically-disguised token in EVERY clean run, so
    // no deletion variant survives on raw text
    val noisy = Seq(
      (9L, "The CAPITAL of x1 France, is Paris x2 Obviously! everyone AGREES x3 today?"),
    ).toDF("doc_id", "text")
    assert(Dedup.contaminationFuzzy(noisy, evalSet, "doc_id", "text", n = 4).count() == 0)
    assert(Dedup.contaminationFuzzy(noisy, evalSet, "doc_id", "text", n = 4,
      normalize = true).count() == 1)
  }

  test("star-contraction CC fails loudly when the round budget is exhausted") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStarWithRounds(chain, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star-contraction CC collapses a 1000-node chain in logarithmic rounds") {
    // diameter 999: min-label propagation would need ~999 rounds; the
    // large-star/small-star alternation must stay in the log regime
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsStarWithRounds(chain)
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == 1000 && out.forall(_._2 == 1L),
      s"all nodes must label 1: ${out.filter(_._2 != 1L).take(5).toSeq}")
    assert(rounds <= 12, s"expected O(log n) rounds on a 1000-chain, took $rounds")
  }

  test("star-contraction CC agrees with a JVM union-find on a random graph") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("converged CC agrees with a JVM union-find on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val want = parent.keys.map(x => x -> {
      // component label = min member id
      val root = find(x)
      parent.keys.filter(find(_) == root).min
    }).toMap
    val got = Dedup.connectedComponentsConverged(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet)}")
  }

  test("simhashNearDupPairs finds a near-identical pair via block LSH") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok30", "changed")),             // near-dup of 1
      (3L, (100 to 160).map(i => s"other$i").mkString(" ")), // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)), pairs.toString)
    assert(pairs.head._3 <= 3)
  }

  test("blocks=1 keys on the full 64-bit hash (mask wrap fixed), finding exact dups only") {
    // blockBits=64: 1L<<64 wraps to 1, so the old mask was 0 and every
    // row hashed to bucket 0 (all-pairs join); -1L keys on the full hash
    val hashes = Seq(
      (1L, 0x0123456789abcdefL),
      (2L, 0x0123456789abcdefL), // exact dup of 1
      (3L, 0x0123456789abcdeeL), // hamming 1 — must NOT pair at maxHamming=0
      (4L, -42L),                // negative hash: sign bits survive the mask
      (5L, -42L),
    ).toDF("id", "h")
    val pairs = Dedup.hammingNearDupPairs(hashes, "id", "h",
        bits = 64, blocks = 1, maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 0), (4L, 5L, 0)), pairs.toString)
  }

  test("passageEdges builds min-doc stars over shared windows") {
    val passage = (1 to 10).map(i => s"tok$i").mkString(" ")
    val other = (11 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (5L, s"$passage unique5 filler"),
      (2L, s"prefix2 $passage"),
      (9L, s"$passage tail9"),
      (7L, s"$other seven"),
      (8L, s"$other eight"),
    ).toDF("doc_id", "text")
    val edges = Dedup.passageEdges(df, "doc_id", "text", windowTokens = 10)
      .as[(Long, Long)].collect().toSet
    // stars from the min doc per shared passage: 2→{5,9}, 7→8
    assert(edges == Set((2L, 5L), (2L, 9L), (7L, 8L)))
  }

  test("semanticKeepers: transitive embedding clusters keep the min id; isolates keep themselves") {
    // block 0: 1≈2 and 2≈3 (chain — 1~3 only transitively); 4 orthogonal
    // block 1: 5 alone
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.14f, 0.0f), 0),
      (3L, Array(0.93f, 0.37f, 0.0f), 0),
      (4L, Array(0.0f, 0.0f, 1.0f), 0),
      (5L, Array(0.0f, 1.0f, 0.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.semanticKeepers(df, "vec_id", "embedding", "label",
        threshold = 0.95, ccIters = 3)
      .orderBy("vec_id")
      .as[(Long, Long, Boolean)].collect()
    // cos(1,2)≈0.99, cos(2,3)≈0.97, cos(1,3)≈0.93 < 0.95: chain only
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("ncdPairs: identity ≈ 0, sentence reorder stays low where Jaccard collapses, unrelated ≈ 1") {
    // three docs built from the same sentence pool: #2 is #1 with its
    // sentences REORDERED (every 8-shingle crossing a boundary
    // changes — the lexical blind spot NCD exists for); #3 shares no
    // vocabulary with either
    val sents = Seq(
      "the quick brown fox jumps over the lazy dog by the river",
      "rain falls softly on the green hills past the old stone wall",
      "wind moves through tall trees while the morning light arrives",
      "a narrow path winds upward toward the quiet mountain village")
    val d1 = sents.mkString(" ")
    val d2 = Seq(sents(2), sents(0), sents(3), sents(1)).mkString(" ")
    val d3 = ("zq xv wk pj " * 12).trim
    val docs = Seq((1L, d1), (1L, d1), (2L, d2), (3L, d3))
      .toDF("doc_id", "text").distinct()
    val pairs = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.ncdPairs(pairs, docs, "doc_id", "text")
      .select($"id_a", $"id_b", $"ncd")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(got((1L, 1L)) < 0.2, s"identity: ${got((1L, 1L))}")
    assert(got((1L, 2L)) < 0.55, s"reorder: ${got((1L, 2L))}")
    assert(got((1L, 3L)) > 0.8, s"unrelated: ${got((1L, 3L))}")
    assert(got((1L, 2L)) < got((1L, 3L)) - 0.25)
    // the motivating gap: token-shingle Jaccard at n=8 rates the
    // reordered twin as nearly disjoint
    val jac = Dedup.jaccard(
      TextOps.shingles(TextOps.tokens(lit(d1)), 8),
      TextOps.shingles(TextOps.tokens(lit(d2)), 8))
    val j = spark.range(1).select(jac.as("j")).as[Double].head()
    assert(j < 0.5, s"jaccard should collapse on reorder, got $j")
  }
}
