package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only approximate NDV (X216): per-dir HLL sketches union
  * to exactly the whole-table sketch (register max-merge), the
  * estimate tracks exact distinct within the lgK=12 error band,
  * deletes/rewrites re-sketch, the answer serves without data files,
  * and undeclared columns / legacy manifests degrade to None. */
class MetadataNdvSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Range) =
    r.map(i => (i.toLong, (i % 37).toLong, s"s${i % 11}")).toDF("uuid", "grp", "src")

  test("estimate equals the direct whole-table sketch and tracks exact NDV") {
    val root = tmpDir("graft_ndv_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      ndvColumns = Seq("grp", "src"))
    store.upsert("t", rows(0 until 500), "uuid")
    store.upsert("t", rows(480 until 600), "uuid") // second generation
    val est = store.served("t").flatMap(_.approxDistinct("grp")).get
    // merged per-dir sketches ≡ one sketch over the whole table
    val direct = store.read("t").get
      .agg(hll_sketch_estimate(hll_sketch_agg(col("grp"),
        SnapshotBucketedStore.NdvLgK))).head().getLong(0)
    assert(est == direct, s"union-of-dirs $est != direct $direct")
    // and both track the exact answer (37 distinct) within the band
    assert(math.abs(est - 37L) <= 3, s"estimate $est far from 37")
    assert(store.served("t").flatMap(_.approxDistinct("src")).exists(e =>
      math.abs(e - 11L) <= 2))
  }

  test("serves without data files; deletes re-sketch their buckets") {
    val root = tmpDir("graft_ndv_gone_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      ndvColumns = Seq("grp"))
    store.upsert("t", rows(0 until 200), "uuid")
    store.delete("t", "uuid", (0L until 150L).toDF("uuid"))
    val exact = store.read("t").get.select("grp").distinct().count()
    // wipe the data; the manifest alone must still answer
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(s"$root/t/data"))
    val est = store.served("t").flatMap(_.approxDistinct("grp")).get
    assert(math.abs(est - exact) <= math.max(2L, exact / 20),
      s"post-delete estimate $est vs exact $exact")
  }

  test("undeclared column and legacy manifest degrade to None") {
    val root = tmpDir("graft_ndv_none_")
    implicit val s = spark
    val store = new SnapshotBucketedStore(root, numBuckets = 4,
      ndvColumns = Seq("grp"))
    store.upsert("t", rows(0 until 50), "uuid")
    assert(store.served("t").flatMap(_.approxDistinct("src")).isEmpty,
      "src is not an ndv column")
    // strip the ndv lines → legacy manifest → None
    val dir = new java.io.File(s"$root/t")
    val mf = dir.listFiles().filter(_.getName.matches("manifest-\\d+\\.txt"))
      .maxBy(_.getName)
    val txt = scala.io.Source.fromFile(mf).mkString
    java.nio.file.Files.writeString(mf.toPath,
      txt.linesIterator.filterNot(_.startsWith("ndv:")).mkString("", "\n", "\n"))
    assert(store.served("t").flatMap(_.approxDistinct("grp")).isEmpty)
    // count still serves (rows lines untouched)
    assert(store.served("t").flatMap(_.count).contains(50L))
  }
}
