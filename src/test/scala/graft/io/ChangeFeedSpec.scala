package graft.io

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[ChangeFeed.refresh]] — incrementally maintained derived keyed
  * table. The invariant under test after ANY source history and any
  * crash/replay interleaving: `dst.read` ≡ `transform(src.read)`
  * bit-for-bit, with the incremental path doing touched-fraction
  * work (proven by the cursor discipline + the store's own pruning
  * specs, not re-proven here). */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private implicit val s: SparkSession = spark

  private def docs(rows: (Long, String, Int)*): DataFrame =
    rows.toDF("id", "text", "score")

  // the derived view: a quality gate + a derived column — row-wise,
  // filtering, key-preserving
  private def view(df: DataFrame): DataFrame =
    df.filter(col("score") >= 10)
      .select(col("id"), upper(col("text")).as("text_u"),
        (col("score") * 2).as("score2"))

  private def expect(src: SnapshotBucketedStore): Seq[(Long, String, Int)] =
    view(src.read("docs").get)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq

  private def got(dst: SnapshotBucketedStore): Seq[(Long, String, Int)] =
    dst.read("dview").map(_.as[(Long, String, Int)].collect().sortBy(_._1).toSeq)
      .getOrElse(Nil)

  test("initial build, incremental upserts, gate-crossing changes, and deletes all converge to transform(source)") {
    val root = tmpDir("graft_cf_")
    val src = new SnapshotBucketedStore(s"$root/src", 8, "parquet")
    val dst = new SnapshotBucketedStore(s"$root/dst", 8, "parquet")

    def refresh(): Boolean =
      ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view)

    // source doesn't exist yet: nothing to do
    assert(!refresh())

    // initial build
    src.upsert("docs", docs((1L, "aa", 20), (2L, "bb", 5), (3L, "cc", 15)), "id")
    assert(refresh())
    assert(got(dst) == expect(src)) // row 2 gated out
    assert(got(dst).map(_._1) == Seq(1L, 3L))

    // already current: no-op, no new destination snapshot
    val vBefore = dst.snapshots("dview").size
    assert(!refresh())
    assert(dst.snapshots("dview").size == vBefore)

    // incremental: new row, changed row, gate-crossing change (row 1
    // falls below the gate — must be DELETED downstream), gate-entering
    // change (row 2 rises above it)
    src.upsert("docs", docs((1L, "aa", 3), (2L, "bb", 30), (4L, "dd", 40)), "id")
    assert(refresh())
    assert(got(dst) == expect(src))
    assert(got(dst).map(_._1) == Seq(2L, 3L, 4L))

    // source-side hard delete propagates
    src.delete("docs", "id", Seq(3L).toDF("id"))
    assert(refresh())
    assert(got(dst) == expect(src))
    assert(got(dst).map(_._1) == Seq(2L, 4L))
  }

  test("replay after a crash between the delete half and the mark-carrying upsert converges") {
    val root = tmpDir("graft_cf_crash_")
    val src = new SnapshotBucketedStore(s"$root/src", 8, "parquet")
    val dst = new SnapshotBucketedStore(s"$root/dst", 8, "parquet")
    src.upsert("docs", docs((1L, "aa", 20), (2L, "bb", 30)), "id")
    assert(ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))

    // window: row 1 falls below the gate, row 2 changes in place
    src.upsert("docs", docs((1L, "aa", 1), (2L, "bb", 31)), "id")
    // simulate the crash: the delete half ran, the upsert never did —
    // the cursor still points at the OLD source version
    dst.delete("dview", "id", Seq(1L).toDF("id"))
    assert(got(dst).map(_._1) == Seq(2L)) // the mid-seam state
    val cursorMid = dst.lastAppliedBatch("dview")

    // the replay: same window recomputed, delete no-ops, upsert lands
    assert(ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))
    assert(got(dst) == expect(src))
    assert(dst.lastAppliedBatch("dview").get > cursorMid.get)

    // and a second replay is refused outright (cursor at window end)
    assert(!ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))
  }

  test("vacuumed cursor snapshot falls back to a full rebuild that still matches and re-arms the cursor") {
    val root = tmpDir("graft_cf_vac_")
    val src = new SnapshotBucketedStore(s"$root/src", 8, "parquet")
    val dst = new SnapshotBucketedStore(s"$root/dst", 8, "parquet")
    src.upsert("docs", docs((1L, "aa", 20), (2L, "bb", 30)), "id")
    assert(ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))

    // burn through source history, then vacuum past the cursor
    (0 until 3).foreach(i =>
      src.upsert("docs", docs((10L + i, s"x$i", 50 + i)), "id"))
    src.delete("docs", "id", Seq(2L).toDF("id"))
    src.vacuum("docs", retainSnapshots = 1)
    assert(src.changesSince("docs",
      dst.lastAppliedBatch("dview").get.toInt, "id").isEmpty)

    assert(ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))
    assert(got(dst) == expect(src)) // stale key 2 gone via the rebuild
    assert(got(dst).map(_._1) == Seq(1L, 10L, 11L, 12L))
    // the rebuilt table still takes incremental refreshes
    src.upsert("docs", docs((20L, "zz", 99)), "id")
    assert(ChangeFeed.refresh(src, "docs", "id", dst, "dview")(view))
    assert(got(dst) == expect(src))
  }

  // ---- refreshJoined: star-join view maintenance ------------------

  private def facts(rows: (Long, Long, Int)*): DataFrame =
    rows.toDF("o_id", "c_id", "amount")

  private def dims(rows: (Long, String)*): DataFrame =
    rows.toDF("cust", "segment")

  private def jview(df: DataFrame): DataFrame =
    df.filter(col("amount") >= 10)
      .select(col("o_id"), col("amount"), col("segment"))

  private def jexpect(src: SnapshotBucketedStore,
      dimS: SnapshotBucketedStore): Seq[(Long, Int, String)] = {
    val f = src.read("orders").get
    val d = dimS.read("cust").get
    jview(f.join(d, f("c_id") === d("cust")))
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
  }

  private def jgot(dst: SnapshotBucketedStore): Seq[(Long, Int, String)] =
    dst.read("oview").map(_.select(col("o_id"), col("amount"), col("segment"))
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq).getOrElse(Nil)

  test("refreshJoined: fact-side and dim-side changes both converge to transform(fact join dim)") {
    val root = tmpDir("graft_cfj_")
    val factS = new SnapshotBucketedStore(s"$root/f", 8, "parquet",
      Nil, keyColumns = Seq("c_id"))
    val dimS = new SnapshotBucketedStore(s"$root/d", 8, "parquet")
    val dst = new SnapshotBucketedStore(s"$root/v", 8, "parquet")
    def refresh(): Boolean = ChangeFeed.refreshJoined(
      factS, "orders", "o_id", "c_id", dimS, "cust", "cust",
      dst, "oview")(jview)

    factS.upsert("orders",
      facts((1L, 100L, 20), (2L, 100L, 5), (3L, 200L, 15), (4L, 300L, 30)),
      "o_id")
    dimS.upsert("cust", dims((100L, "auto"), (200L, "mach")), "cust")
    assert(refresh())
    // order 2 gated out, order 4 has no dim row (inner join)
    assert(jgot(dst) == jexpect(factS, dimS))
    assert(jgot(dst).map(_._1) == Seq(1L, 3L))
    assert(!refresh()) // current: packed two-source cursor refuses

    // fact window only: add, change, remove
    factS.upsert("orders", facts((2L, 200L, 50), (5L, 100L, 11)), "o_id")
    factS.delete("orders", "o_id", Seq(1L).toDF("o_id"))
    assert(refresh())
    assert(jgot(dst) == jexpect(factS, dimS))
    assert(jgot(dst).map(_._1) == Seq(2L, 3L, 5L))

    // dim window only: revise a segment (its facts' images update),
    // ADD the missing dim key (order 4 resurrects), REMOVE another
    // (orders 2 and 3 drop — inner-join semantics)
    dimS.upsert("cust", dims((100L, "auto2"), (300L, "food")), "cust")
    dimS.delete("cust", "cust", Seq(200L).toDF("cust"))
    assert(refresh())
    assert(jgot(dst) == jexpect(factS, dimS))
    assert(jgot(dst) == Seq((4L, 30, "food"), (5L, 11, "auto2")))

    // both windows at once
    factS.upsert("orders", facts((6L, 300L, 60), (5L, 300L, 12)), "o_id")
    dimS.upsert("cust", dims((200L, "mach2")), "cust")
    assert(refresh())
    assert(jgot(dst) == jexpect(factS, dimS))
    assert(jgot(dst).map(_._1) == Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("refreshJoined: a 1-key dim change probes the fact side through fk Blooms, pruning dirs") {
    val root = tmpDir("graft_cfj_prune_")
    val factS = new SnapshotBucketedStore(s"$root/f", 8, "parquet",
      Nil, keyColumns = Seq("c_id"))
    val dimS = new SnapshotBucketedStore(s"$root/d", 8, "parquet")
    val dst = new SnapshotBucketedStore(s"$root/v", 8, "parquet")
    // 8 upsert generations, each touching a DISJOINT customer range —
    // the layout where fk membership Blooms shine
    (0 until 8).foreach { g =>
      factS.upsert("orders",
        facts((g * 100 until g * 100 + 50).map(i =>
          (i.toLong, (g * 1000 + i % 7).toLong, 20 + i % 5)): _*),
        "o_id")
    }
    dimS.upsert("cust",
      dims((0 until 8).flatMap(g => (0 until 7).map(i =>
        ((g * 1000 + i).toLong, s"seg$g"))): _*), "cust")
    def refresh(): Boolean = ChangeFeed.refreshJoined(
      factS, "orders", "o_id", "c_id", dimS, "cust", "cust",
      dst, "oview")(jview)
    assert(refresh())
    assert(jgot(dst) == jexpect(factS, dimS))
    // one dim key changes: only generation 3's customers are touched
    dimS.upsert("cust", dims((3002L, "seg3x")), "cust")
    val (kept, total) = factS.pruned("orders", Prune.EqAny("c_id", Seq(3002L))).get.counts
    assert(total >= 8 && kept * 2 <= total,
      s"fk probe must skip >= half the fact dirs: $kept/$total")
    assert(refresh())
    assert(jgot(dst) == jexpect(factS, dimS))
    assert(jgot(dst).count(_._3 == "seg3x") ==
      jexpect(factS, dimS).count(_._3 == "seg3x"))
  }

  test("changesSince carries the new payload, labels every transition, and prunes to touched buckets") {
    val root = tmpDir("graft_cf_cdc_")
    val store = new SnapshotBucketedStore(root, 8, "parquet")
    store.upsert("t", docs((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)), "id")
    val v1 = store.snapshots("t").last
    store.upsert("t", docs((2L, "b2", 20), (4L, "d", 4)), "id")
    store.delete("t", "id", Seq(3L).toDF("id"))
    val ch = store.changesSince("t", v1, "id").get
      .select($"id", $"change", $"text", $"score")
      .as[(Long, String, Option[String], Option[Int])].collect().sortBy(_._1)
    assert(ch.toSeq == Seq(
      (2L, "changed", Some("b2"), Some(20)),
      (3L, "removed", None, None),
      (4L, "added", Some("d"), Some(4))))
    // unchanged key 1 never appears even though it may share a bucket
    assert(!ch.exists(_._1 == 1L))
    // identical versions: empty window, not an error
    val latest = store.snapshots("t").last
    assert(store.changesSince("t", latest, "id").get.count() == 0)
  }
}
