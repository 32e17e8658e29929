package graft.io

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestCodec]] as a pure function pair: round trip over generated
  * manifests, byte-for-byte reproduction of manifests written by an
  * earlier build, and a named error for every cut line. No Spark. */
class ManifestCodecSpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val col = Gen.oneOf("uuid", "v", "tag_1", "X9")
  private val decimal = Gen.oneOf(
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.chooseNum(-1e9, 1e9).map(BigDecimal(_).toString))
  private val base64 = Gen.chooseNum(0, 24)
    .flatMap(Gen.listOfN(_, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))
    .map(bs => java.util.Base64.getEncoder.encodeToString(bs.toArray))
  private def some[A](g: Gen[A]): Gen[Seq[A]] =
    Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, g))
  private def maybe[A](g: Gen[A]): Gen[Seq[A]] = Gen.oneOf(Gen.const(Nil), some(g))
  private val count = Gen.option(Gen.chooseNum(0L, Long.MaxValue))

  private def dirMeta(sidecar: Gen[String], tombs: Boolean): Gen[DirMeta] = for {
    stats <- maybe(for { c <- col; mn <- decimal; mx <- decimal } yield (c, mn, mx))
    keys <- maybe(Gen.zip(col, base64))
    rows <- count
    ndv <- maybe(Gen.zip(col, base64))
    qsk <- maybe(Gen.zip(col, base64))
    bytes <- count
    ts <- if (tombs) maybe(Gen.zip(col, sidecar)) else Gen.const(Nil)
  } yield DirMeta(stats, keys, rows, ndv, qsk, bytes, ts)

  /** Canonical manifests: records only for live dirs and never empty
    * (render drops the rest), tombstones only on bucket dirs, an
    * explicit drop marker and a commit stamp — what parse returns. */
  private val manifest: Gen[Manifest] = for {
    version <- Gen.chooseNum(0, Int.MaxValue)
    owner <- Gen.oneOf("", "@src/")
    bucketIds <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, Gen.chooseNum(-1L, 63L)))
    buckets = bucketIds.distinct.map(b => b -> s"${owner}data/b$b-g$version").toMap
    logGens <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, Gen.chooseNum(0, 500)))
    logs = logGens.distinct.map(g => s"${owner}data/log-$g")
    sidecar = Gen.chooseNum(0, 500).map(g => s"${owner}data/tomb-g$g")
    bucketMeta <- Gen.listOfN(buckets.size, dirMeta(sidecar, tombs = true))
    logMeta <- Gen.listOfN(logs.size, dirMeta(sidecar, tombs = false))
    lastBatch <- Gen.option(Gen.chooseNum(0L, Long.MaxValue))
    statsVersion <- Gen.oneOf(1, 2)
    stamp <- Gen.chooseNum(0L, Long.MaxValue)
    fanout <- Gen.option(Gen.chooseNum(1, 4096))
    dropped <- Gen.listOf(col).map(_.distinct)
  } yield Manifest(version, buckets, logs, lastBatch,
    (buckets.values.zip(bucketMeta) ++ logs.zip(logMeta))
      .filter(_._2 != DirMeta()).toMap,
    statsVersion, Some(stamp), fanout, Some(dropped))

  private val samples = sample(manifest, 200, seed = 41L)

  private def tagOf(line: String): String = line.takeWhile(_ != ':')

  test("parse(render(m)) == m over generated manifests using every line kind") {
    samples.foreach { m =>
      val text = ManifestCodec.render(m, m.commitMillis.get)
      assert(ManifestCodec.parse("t", m.version, text) == m, text)
    }
    val kinds = samples.flatMap(m =>
      ManifestCodec.render(m, 0L).linesIterator.map(tagOf)).toSet
    assert(kinds == Set("bucket", "log", "batch", "statsver", "stats", "keys",
      "rows", "bytes", "ndv", "qsk", "tomb", "fanout", "drop", "ts"), kinds)
  }

  /** Two manifests of one table, written by commit f0ce0b5 (before the
    * codec existed) with a store of 2 buckets, stats and quantiles on
    * `v`, a 16-item key Bloom and NDV on `uuid`: v0 is `appendIfNew`
    * of 6 rows as batch 7 (the append-log phase); v3 follows `rebuild`,
    * `dropColumns(tag)` and `deleteLazy(uuid = 1)`. Together they use
    * every line kind the format has. */
  private val golden: Seq[(Int, String)] = Seq(0 -> "log", 3 -> "bucketed").map {
    case (v, kind) =>
      val in = getClass.getResourceAsStream(s"/graft/io/manifest-golden-$kind.txt")
      try v -> scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("golden manifests parse and render back byte for byte") {
    golden.foreach { case (v, text) =>
      val m = ManifestCodec.parse("t", v, text)
      assert(ManifestCodec.render(m, m.commitMillis.get) == text)
      // the stamp is the commit's own, not carried: only ts: moves
      assert(ManifestCodec.render(m, 42L) ==
        text.linesIterator.map(l => if (l.startsWith("ts:")) "ts:42" else l)
          .mkString("", "\n", "\n"))
    }
    val kinds = golden.flatMap(_._2.linesIterator.map(tagOf)).toSet
    Seq("log", "batch", "stats", "keys", "rows", "bytes", "ndv", "qsk", "tomb",
      "fanout", "drop").foreach(k => assert(kinds(k), s"golden lacks a $k: line"))
  }

  test("a manifest from before statsver, ts and drop lines parses as v1, unstamped, nothing dropped") {
    val m = ManifestCodec.parse("t", 5,
      "bucket:0=data/b0-g5\nstats:data/b0-g5=v:1.5:2.5\nrows:data/b0-g5=3\n")
    assert(m == Manifest(5, Map(0L -> "data/b0-g5"), Nil,
      dirs = Map("data/b0-g5" -> DirMeta(stats = Seq(("v", "1.5", "2.5")), rows = Some(3L))),
      statsVersion = 1, dropped = Some(Nil)))
  }

  test("a schema: line round-trips a nested StructType; every cut of it parses or is corrupt") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("uuid", LongType),
      StructField("vec", ArrayType(DoubleType)),
      StructField("p", StructType(Seq(StructField("a:b,c", DecimalType(10, 2)))))))
    val m = samples.head.copy(schema = Some(schema))
    val text = ManifestCodec.render(m, m.commitMillis.get)
    assert(ManifestCodec.parse("t", m.version, text) == m, text)
    val line = text.linesIterator.filter(_.startsWith("schema:")).toSeq
    assert(line.size == 1, text)
    (0 to line.head.length).foreach { at =>
      try ManifestCodec.parse("t", 1, line.head.take(at))
      catch { case e: CorruptManifestException => assert(e.line == line.head.take(at).trim) }
    }
  }

  test("render refuses tombstones on a log dir") {
    val m = Manifest(0, Map.empty, Seq("data/log-0"),
      dirs = Map("data/log-0" -> DirMeta(tombs = Seq("uuid" -> "data/tomb-g0"))))
    intercept[IllegalArgumentException](ManifestCodec.render(m, 0L))
  }

  test("every cut of a valid line parses or raises CorruptManifestException naming it") {
    // parsing is line-local, so each cut line is parsed on its own
    val lines = (golden.map(_._2) ++
      samples.map(m => ManifestCodec.render(m, m.commitMillis.get)))
      .flatMap(_.linesIterator)
    val rng = new scala.util.Random(7L)
    var raised = 0
    for ((line, i) <- lines.zipWithIndex; at <- Seq.fill(3)(rng.nextInt(line.length + 1))) {
      val cut = line.take(at)
      try ManifestCodec.parse("t", i, cut)
      catch {
        case e: CorruptManifestException =>
          raised += 1
          assert(e.table == "t" && e.version == i && e.line == cut.trim, e.getMessage)
      }
    }
    assert(raised > 0)
  }
}
