package graft.io

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** Point-lookup data skipping ([[SnapshotBucketedStore]]
  * `keyColumns`, `pruned` with `Prune.Eq`): per-generation-dir key
  * membership Blooms in the manifest — min/max helps ranges,
  * membership helps the id-probe reads and GDPR delete targeting a
  * 100 TB table actually serves. Proof discipline as X182: a
  * dirs-scanned metric, result equality against the unpruned read,
  * and crash-atomicity with the data the Blooms describe. */
class KeyStatsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, s"u$i")).toDF("uuid", "val", "name")

  private final class CrashingStore(root: String, kc: Seq[String])(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, 8, "parquet", Nil, kc) {
    var crashNext = false
    override protected def beforeCommit(): Unit =
      if (crashNext) { crashNext = false; throw new RuntimeException("injected crash") }
  }

  test("append log: an id probe touches ~the one dir that wrote it, result-identical") {
    val root = tmpDir("graft_keys_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid", "name"))
    // disjoint id ranges per commit — each id lives in exactly one dir
    (0 until 8).foreach(g => store.append("log", rows(g * 100 until (g + 1) * 100, s"g$g")))
    val (kept, total) = store.pruned("log", Prune.Eq("uuid", 250L)).get.counts
    assert(total == 8 && kept <= 2,
      s"an id probe must skip nearly everything: $kept/$total")
    val got = store.pruned("log", Prune.Eq("uuid", 250L)).get.read.get.collect().toSeq
    val want = store.read("log").get.filter($"uuid" === 250L).collect().toSeq
    assert(got == want && got.size == 1)
    // string key column probes the same way
    val (keptS, _) = store.pruned("log", Prune.Eq("name", "u731")).get.counts
    assert(keptS <= 2, s"string probe kept $keptS")
    assert(store.pruned("log", Prune.Eq("name", "u731")).get.read.get.count() == 1)
    // an id that never existed: Bloom has no false negatives, and at
    // this fill rate the probe should scan (almost) nothing
    val (keptNo, _) = store.pruned("log", Prune.Eq("uuid", 999999L)).get.counts
    assert(keptNo <= 2, s"absent id kept $keptNo dirs")
    assert(store.pruned("log", Prune.Eq("uuid", 999999L)).get.read.get.count() == 0)
  }

  test("bucketed upsert: per-bucket Blooms from ONE grouped agg, carried by reference") {
    val root = tmpDir("graft_keys_up_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    store.upsert("tgt", rows(0 until 200, "v1"), "uuid")
    store.upsert("tgt", rows(198 until 203, "v2"), "uuid")
    // a live id scans exactly its bucket's dir (+fpp); equality holds
    val (kept, total) = store.pruned("tgt", Prune.Eq("uuid", 57L)).get.counts
    assert(total == 8 && kept <= 2, s"probe kept $kept/$total")
    val got = store.pruned("tgt", Prune.Eq("uuid", 57L)).get.read.get.collect().toSeq
    assert(got == store.read("tgt").get.filter($"uuid" === 57L).collect().toSeq)
    // the v2 rewrite updated ONLY its buckets' Blooms — id 202 (new in
    // v2) is found; untouched buckets answer from their g0 Blooms
    assert(store.pruned("tgt", Prune.Eq("uuid", 202L)).get.read.get
      .select("val").as[String].head() == "v2")
  }

  test("delete targets only the dirs that might contain the doomed keys") {
    val root = tmpDir("graft_keys_del_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    store.upsert("tgt", rows(0 until 100, "v1"), "uuid")
    val gen1 = new java.io.File(s"$root/tgt/data").listFiles().map(_.getName).toSet
    // deleting ids that never existed: bucket hashing alone would
    // rewrite their hash buckets; the Bloom proves absence, so NO
    // bucket is rewritten at all
    store.delete("tgt", "uuid", Seq(500000L, 600000L).toDF("uuid"))
    val gen2 = new java.io.File(s"$root/tgt/data").listFiles().map(_.getName).toSet
    assert(gen2 == gen1, s"absent-key delete must rewrite nothing: ${gen2 -- gen1}")
    assert(store.read("tgt").get.count() == 100)
    // a real delete still works and re-Blooms the rewritten buckets
    store.delete("tgt", "uuid", Seq(57L).toDF("uuid"))
    assert(store.read("tgt").get.count() == 99)
    assert(store.pruned("tgt", Prune.Eq("uuid", 57L)).get.read.get.count() == 0)
    assert(store.pruned("tgt", Prune.Eq("uuid", 58L)).get.read.get.count() == 1)
  }

  test("Blooms ride the manifest rename: a crash publishes neither dir nor membership") {
    val root = tmpDir("graft_keys_crash_")
    implicit val s = spark
    val store = new CrashingStore(root, Seq("uuid"))
    store.append("log", rows(0 until 100, "v1"))
    store.crashNext = true
    intercept[RuntimeException] { store.append("log", rows(100 until 200, "v2")) }
    assert(store.pruned("log", Prune.Eq("uuid", 150L)).get.counts == ((0, 1)))
    assert(store.pruned("log", Prune.Eq("uuid", 150L)).get.read.get.count() == 0)
    store.append("log", rows(100 until 200, "v2"))
    assert(store.pruned("log", Prune.Eq("uuid", 150L)).get.counts == ((1, 2)))
    assert(store.pruned("log", Prune.Eq("uuid", 150L)).get.read.get.count() == 1)
  }

  test("unconfigured or unBloomed dirs degrade to conservative keeps") {
    val root = tmpDir("graft_keys_cons_")
    implicit val s = spark
    // generation 0 written WITHOUT key columns configured, then the
    // store is reopened with them — old dirs have no Blooms and must
    // be kept by every probe; new dirs prune
    val plain = new SnapshotBucketedStore(root, 8)
    plain.append("log", rows(0 until 100, "old"))
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    store.append("log", rows(100 until 200, "new"))
    assert(store.pruned("log", Prune.Eq("uuid", 42L)).get.counts == ((1, 2)),
      "the unBloomed dir is kept; the Bloomed one prunes")
    assert(store.pruned("log", Prune.Eq("uuid", 42L)).get.read.get.count() == 1)
    assert(store.pruned("log", Prune.Eq("uuid", 142L)).get.read.get.count() == 1)
    // a probe on a column never declared keeps everything, still exact
    assert(store.pruned("log", Prune.Eq("name", "u5")).get.counts == ((2, 2)))
    assert(store.pruned("log", Prune.Eq("name", "u5")).get.read.get.count() == 1)
  }

  test("type-mismatched probes are cast to the column type — never a silent empty result") {
    val root = tmpDir("graft_keys_typed_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    (0 until 4).foreach(g => store.append("log", rows(g * 100 until (g + 1) * 100, s"g$g")))
    // xxhash64 is type-tagged: an Int probe of the Long column hashes
    // differently from the recorded Blooms — the probe must be cast
    // to Long first, matching read().filter's coercion semantics
    val wantRows = store.read("log").get.filter($"uuid" === 250).collect().toSeq
    assert(wantRows.size == 1)
    assert(store.pruned("log", Prune.Eq("uuid", 250)).get.read.get.collect().toSeq == wantRows,
      "Int probe of a Long column must find the row")
    // ...and still PRUNE (the cast probe hashes identically to the Bloom)
    val (keptInt, totalInt) = store.pruned("log", Prune.Eq("uuid", 250)).get.counts
    assert(totalInt == 4 && keptInt <= 2, s"cast probe must still skip: $keptInt/$totalInt")
    // a lossless Double probe behaves like the filter's coercion
    assert(store.pruned("log", Prune.Eq("uuid", 250.0)).get.read.get.collect().toSeq == wantRows)
    // a LOSSY probe (no Long equals 250.5) degrades to keep-all dirs,
    // and the residual filter still returns the coerced-exact answer
    assert(store.pruned("log", Prune.Eq("uuid", 250.5)).get.counts == ((4, 4)))
    assert(store.pruned("log", Prune.Eq("uuid", 250.5)).get.read.get.count() == 0)
  }

  test("delete with a type-mismatched keys frame still deletes (never a silent no-op)") {
    val root = tmpDir("graft_keys_delty_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    store.upsert("tgt", rows(0 until 100, "v1"), "uuid")
    // Int-typed keys frame against the Long key column: bucket hashes
    // and Blooms are type-tagged, so without the cast this delete
    // would target the WRONG buckets and leave the row in place
    store.delete("tgt", "uuid", Seq(57).toDF("uuid"))
    assert(store.read("tgt").get.filter($"uuid" === 57L).count() == 0,
      "Int-keyed delete of a Long column must remove the row")
    assert(store.read("tgt").get.count() == 99)
    // a keys frame whose values can't losslessly cast degrades to the
    // conservative full-bucket path — correct result, no silent miss
    store.delete("tgt", "uuid", Seq("58").toDF("uuid"))
    assert(store.read("tgt").get.filter($"uuid" === 58L).count() == 0)
    assert(store.read("tgt").get.count() == 98)
  }

  test("Prune.EqAny: multi-probe pruning is a superset, one Bloom decode per dir") {
    val root = tmpDir("graft_keys_any_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, 8, "parquet", Nil, Seq("uuid"))
    (0 until 8).foreach(g => store.append("log", rows(g * 100 until (g + 1) * 100, s"g$g")))
    // two live ids from two different generations + one absent id
    val probes = Seq[Any](50L, 450L, 999999L)
    val (kept, total) = store.pruned("log", Prune.EqAny("uuid", probes)).get.counts
    assert(total == 8 && kept <= 4, s"3 probes must skip most dirs: $kept/$total")
    val got = store.pruned("log", Prune.EqAny("uuid", probes)).get.read.get
    // superset contract: every row whose uuid is probed IS present
    val hits = got.filter($"uuid".isin(50L, 450L, 999999L)).collect()
    assert(hits.map(_.getLong(0)).toSet == Set(50L, 450L),
      "multi-probe read must contain every probed live row")
    // the anti-join caller's exactness: isin over the pruned read ==
    // isin over the full read
    assert(got.filter($"uuid".isin(probes.map(_.asInstanceOf[Long]): _*)).count() ==
      store.read("log").get.filter($"uuid".isin(probes.map(_.asInstanceOf[Long]): _*)).count())
    // type-mismatched probes keep everything (conservative), still a superset
    assert(store.pruned("log", Prune.EqAny("uuid", Seq(50.5))).get.counts == ((8, 8)))
  }
}
