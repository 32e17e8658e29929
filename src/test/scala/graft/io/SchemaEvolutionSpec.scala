package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Numeric type-widening schema evolution (X212): a widening upsert
  * is metadata-only — pre-widening generations reconcile at read
  * through the promotion lattice; membership pruning keeps its
  * no-false-negative contract via multi-type probe hashes; the
  * bucket column itself is type-frozen (migrate via rebuild). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def bucketOf(k: Long, nb: Int): Long =
    spark.range(1).select(pmod(xxhash64(lit(k)), lit(nb.toLong))).as[Long].head()

  test("value column int→long widens at read; old generations intact") {
    val root = tmpDir("graft_evo_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    val gen1 = (0L until 100L).map(i => (i, i.toInt)).toDF("uuid", "val")
    store.upsert("t", gen1, "uuid")
    // widen: revised + new keys carry LONG values past int range
    val gen2 = Seq((10L, 5000000000L), (200L, 6000000000L))
      .toDF("uuid", "val")
    store.upsert("t", gen2, "uuid")
    val got = store.read("t").get
    assert(got.schema("val").dataType ==
      org.apache.spark.sql.types.LongType)
    val expect = ((0L until 100L).filter(_ != 10L).map(i => (i, i))
      ++ Seq((10L, 5000000000L), (200L, 6000000000L))).sortBy(_._1)
    assert(got.orderBy("uuid").as[(Long, Long)].collect().toSeq == expect)
  }

  test("widening + add-column compose: missing columns null, both types reconcile") {
    val root = tmpDir("graft_evo_add_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", Seq((1L, 1.5f)).toDF("uuid", "score"), "uuid")
    // find a key in a DIFFERENT bucket so gen1's dir is untouched
    val other = (2L until 50L).find(k => bucketOf(k, 4) != bucketOf(1L, 4)).get
    store.upsert("t",
      Seq((other, 2.5d, "tagged")).toDF("uuid", "score", "note"), "uuid")
    val got = store.read("t").get.orderBy("uuid")
      .select("uuid", "score", "note").collect()
    assert(got.length == 2)
    assert(got(0).getDouble(1) == 1.5d && got(0).isNullAt(2))
    assert(got(1).getDouble(1) == 2.5d && got(1).getString(2) == "tagged")
  }

  test("point lookup across a widened Bloom column: no false negatives, still prunes") {
    val root = tmpDir("graft_evo_bloom_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      keyColumns = Seq("tag"))
    // gen1: tag is INT — its dir Blooms record int-tagged hashes
    store.upsert("t",
      (0L until 40L).map(i => (i, (i * 7).toInt)).toDF("uuid", "tag"), "uuid")
    // gen2: tag widens to LONG on other keys
    val other = (1000L until 1050L).find(k => bucketOf(k, 4) != bucketOf(7L, 4)).get
    store.upsert("t",
      Seq((other, 9000000000L)).toDF("uuid", "tag"), "uuid")
    // probe a tag that lives ONLY in a pre-widening dir: the long-typed
    // probe must still find it (multi-type sibling hashes)
    val hit = store.pruned("t", Prune.Eq("tag", 49L)).get.read.get.collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 7L,
      s"widened probe lost the pre-widening row: ${hit.toSeq}")
    // equivalence with the unpruned filter, both probe types
    val all = store.read("t").get.filter(col("tag") === 49L).collect()
    assert(hit.toSeq == all.toSeq)
    // and pruning still does work: an absent tag keeps ~no dirs
    val (kept, total) = store.pruned("t", Prune.Eq("tag", 123456789L)).get.counts
    assert(kept < total, s"membership pruning dead after widening: $kept/$total")
  }

  test("outstanding tombstones compose with a widening upsert (§8 item 14)") {
    implicit val s = spark
    def build(root: String): SnapshotBucketedStore = {
      val store = new SnapshotBucketedStore(root, numBuckets = 4,
        keyColumns = Seq("uuid"))
      // gen1: val is INT across all four buckets
      store.upsert("t",
        (0L until 80L).map(i => (i, i.toInt)).toDF("uuid", "val"), "uuid")
      // gen2 widens val to LONG on a strict subset of buckets, so the
      // table mixes int and long generations
      store.upsert("t",
        Seq((10L, 5000000000L)).toDF("uuid", "val"), "uuid")
      store
    }
    // lazy ordering: delete stays outstanding over the widened table
    val lazyS = build(tmpDir("evo_tomb_l_"))
    lazyS.deleteLazy("t", "uuid", Seq(3L, 10L, 77L).toDF("uuid"))
    // eager ordering: same delete, physically applied first
    val eagerS = build(tmpDir("evo_tomb_e_"))
    eagerS.deleteLazy("t", "uuid", Seq(3L, 10L, 77L).toDF("uuid"))
    eagerS.applyDeletes("t")
    val l = lazyS.read("t").get.orderBy("uuid").collect().toSeq
    val e = eagerS.read("t").get.orderBy("uuid").collect().toSeq
    assert(l == e, "tombstoned read must equal the applyDeletes-first ordering")
    assert(l.size == 77)
    assert(lazyS.read("t").get.schema("val").dataType ==
      org.apache.spark.sql.types.LongType)
    // the pruned families agree over the composed state too
    assert(lazyS.pruned("t", Prune.Eq("uuid", 10L)).get.read.get.collect().isEmpty)
    assert(lazyS.pruned("t", Prune.Eq("uuid", 11L)).get.read.get
      .collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("non-promotable conflict refuses at upsert; the table keeps serving") {
    val root = tmpDir("graft_evo_bad_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", Seq((1L, 5)).toDF("uuid", "val"), "uuid")
    val other = (2L until 50L).find(k => bucketOf(k, 4) != bucketOf(1L, 4)).get
    val e = intercept[IllegalArgumentException] {
      store.upsert("t", Seq((other, "five")).toDF("uuid", "val"), "uuid")
    }
    assert(e.getMessage.contains("cannot widen column 'val'"), e.getMessage)
    assert(store.read("t").get.as[(Long, Int)].collect().toSeq == Seq((1L, 5)))
  }

  test("a widening upsert over a legacy manifest records the schema") {
    val root = tmpDir("graft_evo_legacy_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", (0L until 20L).map(i => (i, i.toInt)).toDF("uuid", "val"), "uuid")
    def manifest = java.nio.file.Paths.get(root, "t", s"manifest-${store.snapshots("t").last}.txt")
    def text = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
    // the manifest a store wrote before it recorded the schema
    java.nio.file.Files.write(manifest, text.linesIterator.filterNot(_.startsWith("schema:"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(store.schema("t").map(_.fieldNames.toSeq).contains(Seq("uuid", "val")))
    assert(store.read("t").get.count() == 20)
    store.upsert("t", Seq((5L, 5000000000L)).toDF("uuid", "val"), "uuid")
    assert(text.linesIterator.exists(_.startsWith("schema:")), text)
    assert(store.schema("t").get("val").dataType == org.apache.spark.sql.types.LongType)
    assert(store.read("t").get.orderBy("uuid").as[(Long, Long)].collect().toSeq ==
      (0L until 20L).map(i => (i, if (i == 5L) 5000000000L else i)))
  }

  test("bucket-column type drift refused; rebuild migrates and upserts resume") {
    val root = tmpDir("graft_evo_key_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", Seq((1, "a"), (2, "b")).toDF("uuid", "val"), "uuid")
    val e = intercept[IllegalArgumentException] {
      store.upsert("t", Seq((3L, "c")).toDF("uuid", "val"), "uuid")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // the sanctioned migration: one atomic rebuild at the wide type
    store.rebuild("t",
      Seq((1L, "a"), (2L, "b")).toDF("uuid", "val"), "uuid")
    store.upsert("t", Seq((3L, "c")).toDF("uuid", "val"), "uuid")
    assert(store.read("t").get.orderBy("uuid").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("array element widening: float embeddings reconcile as double") {
    val root = tmpDir("graft_evo_arr_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t",
      Seq((1L, Seq(1.5f, 2.5f))).toDF("uuid", "vec"), "uuid")
    val other = (2L until 50L).find(k => bucketOf(k, 4) != bucketOf(1L, 4)).get
    store.upsert("t",
      Seq((other, Seq(3.5d, 4.5d))).toDF("uuid", "vec"), "uuid")
    val got = store.read("t").get.orderBy("uuid")
      .as[(Long, Seq[Double])].collect().toSeq
    assert(got == Seq((1L, Seq(1.5d, 2.5d)), (other, Seq(3.5d, 4.5d))))
  }

  test("DROP COLUMN (X259): metadata-only suppression, retirement, travel, restore") {
    val root = tmpDir("graft_evo_drop_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.append("lg", (0L until 30L).map(i => (i, i * 2, s"t$i"))
      .toDF("uuid", "v", "tag"))
    val preDrop = store.snapshots("lg").last

    // the drop moves no data bytes: same generation dirs before/after
    val dirsBefore = store.manifestEntries("lg").get
      .select("dir").as[String].collect().toSet
    store.dropColumns("lg", Seq("tag"))
    assert(store.manifestEntries("lg").get
      .select("dir").as[String].collect().toSet == dirsBefore,
      "DROP COLUMN must be metadata-only")

    // reads serve without the column, everywhere
    val got = store.read("lg").get
    assert(got.columns.toSeq == Seq("uuid", "v"), got.columns.toSeq)
    assert(got.count() == 30)

    // the name is RETIRED: append/add-column with it refuse loudly
    val e1 = intercept[IllegalArgumentException](
      store.append("lg", Seq((99L, 99L, "zz")).toDF("uuid", "v", "tag")))
    assert(e1.getMessage.contains("retired"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](store.addColumns("lg",
      Seq(org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))))
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    // appends WITHOUT it flow on
    store.append("lg", Seq((99L, 99L)).toDF("uuid", "v"))
    assert(store.read("lg").get.count() == 31)

    // time travel serves the column at pre-drop versions; restore
    // resurrects it (the marker is snapshot state)
    assert(store.readAt("lg", preDrop).get.columns.contains("tag"))
    store.restore("lg", preDrop)
    assert(store.read("lg").get.columns.contains("tag"))
    assert(store.read("lg").get.count() == 30)

    // replace resets the marker: the name is reusable after a rewrite
    store.dropColumns("lg", Seq("tag"))
    store.replace("lg", Seq((1L, 1L, "fresh")).toDF("uuid", "v", "tag"))
    assert(store.read("lg").get.columns.contains("tag"))
  }

  test("DROP COLUMN on a keyed table: upserts shed the column physically") {
    val root = tmpDir("graft_evo_dropk_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"))
    store.upsert("t", (0L until 40L).map(i => (i, i * 2, s"x$i"))
      .toDF("uuid", "v", "tag"), "uuid")
    store.dropColumns("t", Seq("tag"))
    assert(store.read("t").get.columns.toSeq == Seq("uuid", "v"))

    // an upsert carrying the retired name refuses; without it, merges
    intercept[IllegalArgumentException](store.upsert("t",
      Seq((1L, 100L, "boo")).toDF("uuid", "v", "tag"), "uuid"))
    store.upsert("t", Seq((1L, 100L)).toDF("uuid", "v"), "uuid")
    val got = store.read("t").get
    assert(got.columns.toSeq == Seq("uuid", "v"))
    assert(got.where("uuid = 1").select("v").as[Long].head() == 100L)
    assert(got.count() == 40)

    // the rewritten bucket PHYSICALLY shed the column (its footer no
    // longer carries it) — the lazy-then-compact lifecycle
    val touched = store.manifestEntries("t").get
      .where("dir LIKE '%-g%'").select("dir").as[String].collect()
      .maxBy(d => d.substring(d.lastIndexOf("-g") + 2).toInt)
    val footer = spark.read.parquet(s"$root/t/$touched").schema
    assert(!footer.fieldNames.contains("tag"),
      s"rewrite must shed the dropped column: ${footer.fieldNames.toSeq}")

    // merge-on-read deletes and metadata counts keep composing
    store.deleteLazy("t", "uuid", Seq(2L, 3L).toDF("uuid"))
    assert(store.read("t").get.count() == 38)
    assert(store.applyDeletes("t") >= 1)
    assert(store.read("t").get.count() == 38)
  }

  test("DROP COLUMN: CDC capture never leaks the retired name; compaction sheds it") {
    val root = tmpDir("graft_evo_dropcdc_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.append("lg", Seq((1L, 10L, "a")).toDF("uuid", "v", "tag"))
    val v0 = store.snapshots("lg").last
    store.append("lg", Seq((2L, 20L, "b")).toDF("uuid", "v", "tag"))
    store.dropColumns("lg", Seq("tag"))
    store.append("lg", Seq((3L, 30L)).toDF("uuid", "v"))

    // the capture range spans a PRE-drop dir (gen 2 physically carries
    // tag) — the change feed must serve the table's current schema
    val feed = store.appendsSince("lg", v0).get
    assert(feed.columns.toSeq == Seq("uuid", "v"), feed.columns.toSeq)
    assert(feed.select("uuid").as[Long].collect().sorted.toSeq == Seq(2L, 3L))

    // compaction folds the log READING SUPPRESSED: the compacted
    // generation physically sheds the dropped column
    assert(store.compactLogs("lg"))
    val m = store.manifestEntries("lg").get
    val dirs = m.where("kind = 'log'").select("dir").as[String].collect()
    assert(dirs.length == 1, dirs.toSeq)
    val footer = spark.read.parquet(s"$root/lg/${dirs.head}").schema
    assert(!footer.fieldNames.contains("tag"), footer.fieldNames.toSeq)
    assert(store.read("lg").get.count() == 3)
  }

  test("DROP COLUMN: metadata serves go silent and deletes refuse on the retired name") {
    val root = tmpDir("graft_evo_dropmeta_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      statsColumns = Seq("v"), keyColumns = Seq("uuid"),
      ndvColumns = Seq("v"), quantileColumns = Seq("v"))
    store.upsert("t", (0L until 50L).map(i => (i, i * 2, s"x$i"))
      .toDF("uuid", "v", "tag"), "uuid")
    assert(store.served("t").flatMap(_.minMax("v")).isDefined)
    assert(store.served("t").flatMap(_.approxDistinct("v")).isDefined)
    assert(store.served("t").flatMap(_.quantiles("v", Seq(0.5))).isDefined)
    assert(store.served("t").flatMap(_.rangeCount("v", 0.0, 100.0)).isDefined)
    assert(store.served("t").get.columnStats.contains("v"))

    store.dropColumns("t", Seq("v"))
    // every metadata tier refuses to describe a name the schema no
    // longer carries — recorded figures for it are hidden state
    assert(store.served("t").flatMap(_.minMax("v")).isEmpty)
    assert(store.served("t").flatMap(_.approxDistinct("v")).isEmpty)
    assert(store.served("t").flatMap(_.quantiles("v", Seq(0.5))).isEmpty)
    // the recorded KLL sketches are still there: a range count over
    // them must refuse too, not answer "no rows in range"
    assert(store.served("t").flatMap(_.rangeCount("v", 0.0, 100.0)).isEmpty)
    assert(!store.served("t").get.columnStats.contains("v"))
    // and a delete predicate on the retired name refuses loudly
    // (silently targeting hidden values would be worse than either
    // serving or failing)
    val e1 = intercept[IllegalArgumentException](
      store.deleteLazy("t", "v", Seq(4L).toDF("v"), targetByKeyHash = false))
    assert(e1.getMessage.contains("retired"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      store.delete("t", "v", Seq(4L).toDF("v")))
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      store.deleteRange("t", "v", 0L, 10L))
    assert(e3.getMessage.contains("retired"), e3.getMessage)
    // the surviving key column still deletes fine
    store.deleteLazy("t", "uuid", Seq(7L).toDF("uuid"))
    assert(store.read("t").get.count() == 49)
  }

  test("DROP COLUMN after a delete on that column keeps the delete") {
    val root = tmpDir("graft_evo_droptomb_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4)
    store.upsert("t", (0L until 20L).map(i => (i, s"x${i % 5}")).toDF("uuid", "tag"), "uuid")
    // a non-key delete leaves tombstones keyed on `tag` outstanding
    store.deleteLazy("t", "tag", Seq("x3").toDF("tag"), targetByKeyHash = false)
    store.dropColumns("t", Seq("tag"))
    val got = store.read("t").get
    assert(got.columns.toSeq == Seq("uuid"))
    assert(got.as[Long].collect().sorted.toSeq == (0L until 20L).filter(_ % 5 != 3))
  }

  test("SQL ALTER TABLE DROP COLUMN; RENAME and key-drop refuse with guidance") {
    val root = tmpDir("graft_evo_dropsql_")
    implicit val s = spark
    val cat = "lakedrop" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (uuid BIGINT, v BIGINT, tag STRING) " +
      "TBLPROPERTIES('key'='uuid', 'insert'='upsert', 'buckets'='4')")
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("uuid", "v", "tag")
      .createOrReplaceTempView("drop_seed")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM drop_seed")

    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN tag")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("uuid", "v"))
    assert(spark.sql(s"SELECT SUM(v) FROM $cat.t").head.getLong(0) == 30L)
    // MERGE keeps working against the narrowed schema
    Seq((2L, 25L), (3L, 30L)).toDF("uuid", "v")
      .createOrReplaceTempView("drop_delta")
    spark.sql(s"MERGE INTO $cat.t t USING drop_delta s ON t.uuid = s.uuid " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT SUM(v) FROM $cat.t").head.getLong(0) == 65L)

    val r = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w"))
    assert(r.getMessage.contains("rebuild"), r.getMessage)
    val k = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN uuid"))
    assert(k.getMessage.contains("upsert key"), k.getMessage)
  }
}
