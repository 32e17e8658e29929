package graft.io

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField}

/** Every commit family of [[SnapshotBucketedStore]], driven once each
  * through one scripted sequence on a call-counting (`cntfs:`) store:
  * the manifest each step publishes is pinned against golden text, and
  * the FS calls it makes are pinned to one base read — one listing of
  * the table dir and one open of its latest manifest per commit
  * (compactLogs re-checks its base before publishing: two). */
class CommitFamilySpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range, tag: String) =
    r.map(i => (i.toLong, i * 3L, tag)).toDF("uuid", "v", "tag")

  /** One scripted step: the family, the table it commits to, whether
    * its base manifest existed, the FS calls it made, the manifest it
    * published (if any), and after it the schema of a read of the table
    * and the recorded one (JSON; None while the table has no rows to
    * read). */
  private case class Step(family: String, table: String, existed: Boolean,
      listings: Int, latestOpens: Int, calls: Int, manifest: Option[String],
      readSchema: Option[String], schema: Option[String])

  private def latestOnDisk(local: String, table: String): Option[Int] =
    Option(new java.io.File(local, table).list()).toSeq.flatten
      .collect { case ManifestFile(n) => n.toInt }.sorted.lastOption

  private val ManifestFile = "manifest-(\\d+)\\.txt".r

  /** Manifest text without what legitimately varies between runs: the
    * commit stamp, file byte sizes, and sketch images (KLL compaction
    * is randomized; an HLL image depends on merge order) — a sketch
    * line keeps its dir and columns. */
  private def normalized(text: String): String =
    text.linesIterator.filterNot(l => l.startsWith("ts:") || l.startsWith("bytes:")).map { l =>
      if (l.startsWith("ndv:") || l.startsWith("qsk:")) {
        val Array(head, body) = l.split("=", 2)
        head + "=" + body.split(",").map(_.takeWhile(_ != ':')).mkString(",")
      } else l
    }.mkString("\n")

  private lazy val script: Seq[Step] = {
    val local = tmpDir("graft_commit_families_")
    val root = "cntfs:" + local
    implicit val s: SparkSession = spark
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    // small key Blooms keep the golden text short
    val store = new SnapshotBucketedStore(root, numBuckets = 4, statsColumns = Seq("v"),
      keyColumns = Seq("uuid"), keyExpectedItems = 16L, ndvColumns = Seq("v"),
      quantileColumns = Seq("v"))
    // the older, undeclared shape whose dirs analyzeTable backfills
    val bare = new SnapshotBucketedStore(root, numBuckets = 4)
    val steps = Seq.newBuilder[Step]
    def step(family: String, table: String, baseTable: Option[String] = None)(op: => Unit): Unit = {
      val base = baseTable.getOrElse(table)
      val (baseV, tableV) = (latestOnDisk(local, base), latestOnDisk(local, table))
      CountingFileSystem.reset()
      op
      val listings = Seq(table, base).distinct
        .map(t => CountingFileSystem.count("listStatus", s"$local/$t")).sum
      val opens = baseV.fold(0)(v => CountingFileSystem.count("open", s"$local/$base/manifest-$v.txt"))
      val calls = CountingFileSystem.log.size
      val published = latestOnDisk(local, table).filterNot(v => tableV.contains(v)).map { v =>
        normalized(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(local, table, s"manifest-$v.txt")), "UTF-8"))
      }
      steps += Step(family, table, baseV.isDefined, listings, opens, calls, published,
        store.read(table).map(_.schema.json), store.schema(table).map(_.json))
    }

    // append-log table: every log family
    step("append", "lg")(store.append("lg", rows(0 until 40, "a")))
    step("appendIfNew", "lg")(assert(store.appendIfNew("lg", rows(40 until 80, "b"), 5L)))
    step("appendIfNew (replay)", "lg")(assert(!store.appendIfNew("lg", rows(40 until 80, "b"), 5L)))
    step("compactLogs", "lg")(assert(store.compactLogs("lg")))
    step("append", "lg")(store.append("lg", rows(80 until 120, "c")))
    step("deleteRange", "lg")(assert(store.deleteRange("lg", "v", 0L, 150L).isDefined))
    step("rewriteClustered", "lg")(assert(store.rewriteClustered("lg", Seq("v"), slabs = 2) > 0))
    step("restore", "lg")(store.restore("lg", 1))
    step("replace", "lg")(store.replace("lg", rows(0 until 30, "r")))
    step("replaceWithBatch", "lg")(store.replaceWithBatch("lg", rows(0 until 20, "w"), 7L))
    step("dropColumns", "lg")(store.dropColumns("lg", Seq("tag")))
    // a table an older shape wrote, then analyzed under the declared one
    step("append (undeclared shape)", "an")(bare.append("an", rows(0 until 30, "x")))
    step("analyzeTable", "an")(assert(store.analyzeTable("an") == 1))
    // keyed table: every keyed family
    step("upsert", "kt")(store.upsert("kt", rows(0 until 40, "a"), "uuid"))
    step("upsert", "kt")(store.upsert("kt", rows(30 until 50, "b"), "uuid"))
    step("upsertWithBatch", "kt")(store.upsertWithBatch("kt", rows(45 until 55, "c"), "uuid", 3L))
    step("delete", "kt")(store.delete("kt", "uuid", Seq(1L, 2L).toDF("uuid")))
    step("applyDelta", "kt")(
      store.applyDelta("kt", rows(60 until 62, "d"), Seq(3L).toDF("uuid"), "uuid"))
    step("deleteLazy", "kt")(store.deleteLazy("kt", "uuid", Seq(4L, 5L).toDF("uuid")))
    step("applyDeletes", "kt")(assert(store.applyDeletes("kt") > 0))
    step("addColumns", "kt")(store.addColumns("kt", Seq(StructField("note", StringType))))
    step("cloneTable", "kc", Some("kt"))(store.cloneTable("kt", "kc"))
    step("rebuild", "kt")(store.rebuild("kt", rows(0 until 25, "rb"), "uuid"))
    step("createTable (keyed, truncate)", "kt")(
      store.createTable("kt", rows(0 until 1, "").schema, keyed = Some("uuid")))
    step("createTable (keyed)", "ct")(
      store.createTable("ct", rows(0 until 1, "").schema, keyed = Some("uuid")))
    steps.result()
  }

  private def rendered(steps: Seq[Step]): String =
    steps.zipWithIndex.map { case (st, i) =>
      f"== ${i + 1}%02d ${st.family} ${st.table}" +
        st.manifest.fold(" (no commit)")("\n" + _)
    }.mkString("", "\n", "\n")

  /** `actual` against the golden resource `graft/io/<file>`, section
    * by section; the actual text lands in `target/` for regenerating
    * the golden by copy. */
  private def matchesGolden(file: String, actual: String): Unit = {
    val out = java.nio.file.Paths.get("target", file.replace(".txt", ".actual.txt"))
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, actual.getBytes("UTF-8"))
    val in = getClass.getResourceAsStream(s"/graft/io/$file")
    assert(in != null, s"missing golden resource graft/io/$file")
    val golden = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def sections(t: String) = t.split("(?m)^(?=== )").toSeq
    sections(golden).zipAll(sections(actual), "", "").foreach { case (g, a) =>
      assert(a == g, s"$file: a section differs from the golden (actual in $out)")
    }
  }

  test("every commit family publishes its golden manifest") {
    matchesGolden("commit-goldens.txt", rendered(script))
  }

  test("every commit family keeps the golden read schema") {
    script.foreach(st => assert(st.schema == st.readSchema,
      s"${st.family} on ${st.table}: the recorded schema is not the read's"))
    matchesGolden("read-schema-goldens.txt", script.zipWithIndex.map { case (st, i) =>
      f"== ${i + 1}%02d ${st.family} ${st.table}\n" + st.readSchema.getOrElse("(no rows)")
    }.mkString("", "\n", "\n"))
  }

  test("every commit family reads its base manifest once") {
    val steps = script
    println("family | table | table-dir listings | latest-manifest opens | FS calls")
    steps.foreach(st => println(
      s"${st.family} | ${st.table} | ${st.listings} | ${st.latestOpens} | ${st.calls}"))
    steps.foreach { st =>
      val reads = if (!st.existed) 0 else if (st.family == "compactLogs") 2 else 1
      assert(st.listings == reads && st.latestOpens == reads,
        s"${st.family} on ${st.table}: ${st.listings} table-dir listings and " +
          s"${st.latestOpens} opens of the latest manifest, expected $reads of each")
    }
  }

  /** Race-injection store: the first commit after arming lands a
    * competing commit through a plain handle on the same table, between
    * this writer's base read and its publish. */
  private final class RacingStore(root: String)(implicit s: SparkSession)
      extends SnapshotBucketedStore(root, 4) {
    var raceNext: Option[() => Unit] = None
    override protected def beforeCommit(): Unit = {
      val r = raceNext
      raceNext = None
      r.foreach(_())
    }
  }

  test("a stale base loses loudly on the hard-link path") {
    val root = tmpDir("graft_commit_race_")
    implicit val s: SparkSession = spark
    val store = new RacingStore(root)
    val plain = new SnapshotBucketedStore(root, 4)
    val losers: Seq[(String, String => Unit, Array[org.apache.spark.sql.Row] => Boolean)] = Seq(
      ("upsert", t => store.upsert(t, rows(0 until 3, "lost"), "uuid"),
        got => !got.exists(_.getAs[String]("tag") == "lost")),
      ("delete", t => store.delete(t, "uuid", Seq(1L).toDF("uuid")),
        got => got.exists(_.getAs[Long]("uuid") == 1L)),
      ("dropColumns", t => store.dropColumns(t, Seq("tag")),
        got => got.head.schema.fieldNames.contains("tag")),
      ("restore", t => store.restore(t, 0),
        got => got.count(_.getAs[String]("tag") == "b") == 2))
    plain.upsert("seed", rows(0 until 10, "a"), "uuid")
    losers.foreach { case (family, lose, untouched) =>
      val t = s"race_$family"
      plain.cloneTable("seed", t)
      plain.upsert(t, rows(0 until 2, "b"), "uuid")
      val base = store.snapshots(t).last
      store.raceNext = Some(() => plain.upsertWithBatch(t, rows(100 until 103, "won"), "uuid", 9L))
      intercept[ConcurrentCommitException](lose(t))
      val got = store.read(t).get.collect()
      assert(got.count(_.getAs[String]("tag") == "won") == 3, s"$family: the winner's rows")
      assert(store.lastAppliedBatch(t).contains(9L), s"$family: the winner's batch mark")
      assert(store.snapshots(t).last == base + 1, s"$family: one commit per version")
      assert(untouched(got), s"$family: the loser's change must not land")
    }
  }

  test("keyed createTable records its empty bucket") {
    val root = tmpDir("graft_commit_create_")
    implicit val s: SparkSession = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4, keyColumns = Seq("uuid"))
    store.createTable("t", rows(0 until 1, "").schema, keyed = Some("uuid"))
    assert(store.served("t").get.count.contains(0L))
    // a key whose bucket is not 0: the empty bucket-0 dir stays live
    val k = (1L to 100L).find(k => Seq(k).toDF("uuid")
      .selectExpr("pmod(xxhash64(uuid), 4) AS b").as[Long].head() != 0L).get
    store.upsert("t", rows(k.toInt to k.toInt, "x"), "uuid")
    assert(store.served("t").get.count.contains(1L))
  }
}
