package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only approximate quantiles (X218): per-dir KLL sketches
  * merge on the driver and answer rank queries within the k=200
  * normalized-rank-error band against exact order statistics, across
  * upserts and deletes; the answer serves without data files; nulls
  * skip; undeclared / non-numeric columns and legacy manifests
  * degrade to None. KLL is randomized, so every assertion is an
  * error band — never a value pin (the documented honesty of the
  * tier, unlike HLL's exact union equivalence). */
class MetadataQuantilesSpec extends SparkSpec {
  import spark.implicits._

  // rank error for k=200 is ~1.65% at 99% confidence; assert at 3%
  // so the randomized compaction never flakes the suite
  private val RankEps = 0.03

  private def rows(r: Range) =
    r.map(i => (i.toLong, (i * 7 % 1000).toDouble, s"s${i % 11}"))
      .toDF("uuid", "v", "src")

  private def exactQuantile(vals: Seq[Double], p: Double): (Double, Double) = {
    // the band check: the served value must sit between the exact
    // order statistics at ranks p ± RankEps
    val sorted = vals.sorted
    def at(r: Double) =
      sorted(math.max(0, math.min(sorted.size - 1, (r * sorted.size).toInt)))
    (at(math.max(0.0, p - RankEps)), at(math.min(1.0, p + RankEps)))
  }

  test("served quantiles sit in the rank band across generations and deletes") {
    val root = tmpDir("graft_qsk_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      quantileColumns = Seq("v"))
    store.upsert("t", rows(0 until 500), "uuid")
    store.upsert("t", rows(480 until 600), "uuid") // revision generation
    store.delete("t", "uuid", (0L until 100L).toDF("uuid"))
    val live = store.read("t").get.select("v").as[Double].collect().toSeq
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val served = store.served("t").flatMap(_.quantiles("v", probs)).get
    probs.zip(served).foreach { case (p, got) =>
      val (lo, hi) = exactQuantile(live, p)
      assert(got >= lo && got <= hi,
        s"quantile($p) = $got outside exact-rank band [$lo, $hi]")
    }
  }

  test("serves without data files; nulls skip; empty union is None") {
    val root = tmpDir("graft_qsk_gone_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      quantileColumns = Seq("v", "allnull"))
    val withNulls = rows(0 until 200)
      .withColumn("v", when(col("uuid") % 5 === 0, lit(null)).otherwise(col("v")))
      .withColumn("allnull", lit(null).cast("double"))
    store.upsert("t", withNulls, "uuid")
    val live = store.read("t").get.select("v")
      .filter(col("v").isNotNull).as[Double].collect().toSeq
    // wipe the data; the manifest alone must still answer
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(s"$root/t/data"))
    val served = store.served("t").flatMap(_.quantiles("v", Seq(0.5))).get.head
    val (lo, hi) = exactQuantile(live, 0.5)
    assert(served >= lo && served <= hi,
      s"null-skipping median $served outside [$lo, $hi]")
    // a column that is null EVERYWHERE has no order statistic
    assert(store.served("t").flatMap(_.quantiles("allnull", Seq(0.5))).isEmpty)
  }

  test("range count sits in the rank band; all-null is 0; empty range refused") {
    val root = tmpDir("graft_qsk_rc_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      quantileColumns = Seq("v", "allnull"))
    val df = rows(0 until 500)
      .withColumn("allnull", lit(null).cast("double"))
    store.upsert("t", df, "uuid")
    store.delete("t", "uuid", (0L until 50L).toDF("uuid"))
    val live = store.read("t").get.select("v").as[Double].collect().toSeq
    val (lo, hi) = (100.0, 700.0)
    val exact = live.count(v => v >= lo && v <= hi)
    val got = store.served("t").flatMap(_.rangeCount("v", lo, hi)).get
    // both rank estimates carry the k=200 band; allow 2×RankEps of n
    val slack = (2 * RankEps * live.size).ceil.toLong
    assert(math.abs(got - exact) <= slack,
      s"range count $got vs exact $exact (slack $slack)")
    // the whole domain ≡ the non-null row count, within band
    val all = store.served("t").flatMap(_.rangeCount("v",
      Double.NegativeInfinity, Double.PositiveInfinity)).get
    assert(math.abs(all - live.size) <= slack)
    assert(store.served("t").flatMap(_.rangeCount("allnull", 0.0, 1.0)).contains(0L))
    assert(store.served("t").flatMap(_.rangeCount("uuid", 0.0, 1.0)).isEmpty,
      "undeclared column refuses to estimate")
    intercept[IllegalArgumentException] {
      store.served("t").flatMap(_.rangeCount("v", 2.0, 1.0))
    }
  }

  test("PSI drift: same distribution ~0, planted shift large, gates hold") {
    val root = tmpDir("graft_qsk_drift_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      quantileColumns = Seq("v"))
    // reference and a same-distribution twin (different rows, same law)
    store.upsert("ref", rows(0 until 2000), "uuid")
    store.upsert("same", rows(2000 until 4000), "uuid")
    // a shifted current: the upper half of the domain only
    val shifted = rows(0 until 2000)
      .withColumn("v", col("v") / 2 + 500.0)
    store.upsert("shift", shifted, "uuid")
    val psiSame = store.served("ref").flatMap(r =>
      store.served("same").flatMap(r.drift(_, "v"))).get
    val psiShift = store.served("ref").flatMap(r =>
      store.served("shift").flatMap(r.drift(_, "v"))).get
    assert(psiSame < 0.05, s"identical law must score stable, got $psiSame")
    assert(psiShift > 0.5, s"planted shift must score large, got $psiShift")
    // version-to-version self-monitoring: a skewed revision drifts
    val v1 = store.snapshots("ref").max
    store.upsert("ref", shifted, "uuid") // full revision to the shifted law
    val v2 = store.snapshots("ref").max
    val psiVer = store.served("ref", Some(v1)).flatMap(r =>
      store.served("ref", Some(v2)).flatMap(r.drift(_, "v"))).get
    assert(psiVer > 0.5, s"version drift must surface, got $psiVer")
    // gates: undeclared column and bad bin count refuse
    assert(store.served("ref").flatMap(r =>
      store.served("same").flatMap(r.drift(_, "uuid"))).isEmpty)
    intercept[IllegalArgumentException] {
      store.served("ref").flatMap(r =>
        store.served("same").flatMap(r.drift(_, "v", buckets = 1)))
    }
  }

  test("history ledger: one row per retained snapshot, metadata-only counts") {
    val root = tmpDir("graft_hist_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", rows(0 until 100), "uuid")
    store.upsertWithBatch("t", rows(100 until 120), "uuid", batchId = 7L)
    store.delete("t", "uuid", (0L until 10L).toDF("uuid"))
    val h = store.history("t").get
      .orderBy("version")
      .collect()
      .map(r => (r.getInt(0), Option(r.get(1)), r.getLong(4)))
    assert(h.map(_._1).toSeq == Seq(0, 1, 2))
    assert(h.map(_._3).toSeq == Seq(100L, 120L, 110L))
    assert(h(1)._2.contains(7L), "batch mark must surface in the ledger")
    // vacuum trims the horizon; the ledger follows
    store.vacuum("t", retainSnapshots = 1)
    assert(store.history("t").get.count() == 1)
    assert(store.history("ghost").isEmpty)
  }

  test("undeclared / non-numeric columns and legacy manifests degrade to None") {
    val root = tmpDir("graft_qsk_none_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      quantileColumns = Seq("v", "src"))
    store.upsert("t", rows(0 until 50), "uuid")
    assert(store.served("t").flatMap(_.quantiles("uuid", Seq(0.5))).isEmpty,
      "uuid is not a quantile column")
    assert(store.served("t").flatMap(_.quantiles("src", Seq(0.5))).isEmpty,
      "src is declared but non-numeric — never sketched, must refuse")
    // strip the qsk lines → legacy manifest → None; counts unharmed
    val dir = new java.io.File(s"$root/t")
    val mf = dir.listFiles().filter(_.getName.matches("manifest-\\d+\\.txt"))
      .maxBy(_.getName)
    val txt = scala.io.Source.fromFile(mf).mkString
    java.nio.file.Files.writeString(mf.toPath,
      txt.linesIterator.filterNot(_.startsWith("qsk:")).mkString("", "\n", "\n"))
    assert(store.served("t").flatMap(_.quantiles("v", Seq(0.5))).isEmpty)
    assert(store.served("t").flatMap(_.count).contains(50L))
    // out-of-range rank refuses loudly
    intercept[IllegalArgumentException] {
      store.served("t").flatMap(_.quantiles("v", Seq(1.5)))
    }
  }
}
