package graft.io

import java.util.Properties

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** [[JdbcStore]] against a REAL database: embedded Derby, which ships
  * on Spark's own classpath (it backs the Hive metastore), so the
  * reference's warehouse path (lambda.py:163-190, MySQL) finally
  * executes actual SQL round-trips with zero new dependencies.
  * `jdbc:derby:memory:` keeps the database in-heap — nothing lands on
  * disk and each suite run starts clean. */
class JdbcStoreSpec extends SparkSpec {
  import spark.implicits._

  // Derby writes a derby.log in user.dir unless told otherwise; keep
  // the repo clean.
  System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    // Spark's DerbyDialect maps StringType to CLOB, which Derby cannot
    // compare against string literals (so pushed-down filters break) —
    // the standard production fix is pinning DDL types at write time.
    p.setProperty("createTableColumnTypes", "name VARCHAR(64)")
    p
  }

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.5)).toDF("uuid", "name", "m")

  test("append creates the table and read round-trips through real SQL") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    store.append("sales_log", rows(0 until 50, "a"))
    store.append("sales_log", rows(50 until 80, "b"))
    val back = store.read("sales_log").get
    assert(back.count() == 80)
    assert(back.filter($"name" === "b").count() == 30)
    assert(back.filter($"uuid" === 7L).select("m").as[Double].head() == 10.5)
  }

  test("missing table reads as None (the reference's catch-and-proceed, lambda.py:177-178)") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    assert(store.read("no_such_table").isEmpty)
  }

  test("replace overwrites the whole table") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    store.append("sales_tgt", rows(0 until 40, "v1"))
    store.replace("sales_tgt", rows(100 until 110, "v2"))
    val back = store.read("sales_tgt").get
    assert(back.count() == 10)
    assert(back.filter($"name" === "v1").count() == 0)
  }

  test("trait upsert (read-merge-replace) executes the reference's keep-LAST semantics") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    store.replace("sales_up", rows(0 until 30, "old"))
    store.upsert("sales_up", rows(25 until 35, "new"), "uuid")
    val back = store.read("sales_up").get
    assert(back.count() == 35)
    assert(back.filter($"uuid" === 27L).select("name").as[String].head() == "new")
    assert(back.filter($"uuid" === 3L).select("name").as[String].head() == "old")
  }

  test("staged replace: a concurrent reader never observes an empty or partial table") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    store.replace("sales_swap", rows(0 until 400, "v1"))

    // a raw-JDBC reader hammering the table from its own connection
    // while replaces run: every observation must be a COMPLETE
    // version — (400, only v1) or (150, only v2/v3) — never 0 rows,
    // never a mix, never a missing table
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        while (!stop.get()) {
          try {
            // Spark's JDBC writer quotes column identifiers (they stay
            // lowercase in Derby's catalog) — the raw reader must too
            val rs = st.executeQuery(
              "SELECT COUNT(*), COUNT(DISTINCT \"name\"), MAX(\"name\") FROM sales_swap")
            rs.next()
            observed.add((rs.getLong(1), rs.getLong(2), rs.getString(3)))
            rs.close()
          } catch {
            case e: java.sql.SQLException => errors.add(e.getMessage)
          }
        }
      } finally conn.close()
    })
    reader.start()
    try {
      store.replace("sales_swap", rows(0 until 150, "v2"))
      store.replace("sales_swap", rows(0 until 150, "v3"))
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(errors.isEmpty, s"reader saw errors: ${errors.toArray.take(3).toSeq}")
    import scala.jdk.CollectionConverters._
    val obs = observed.asScala.toSeq
    assert(obs.nonEmpty, "reader never got a sample in the window")
    val legal = Set((400L, 1L, "v1"), (150L, 1L, "v2"), (150L, 1L, "v3"))
    val illegal = obs.filterNot(legal)
    assert(illegal.isEmpty, s"reader observed partial states: ${illegal.take(5)}")
    // and the final state is the last replace, exactly
    val back = store.read("sales_swap").get
    assert(back.count() == 150)
    assert(back.select("name").distinct().as[String].collect().toSeq == Seq("v3"))
  }

  test("staged replace survives self-replace (the plan reads the table it replaces)") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props)
    store.replace("sales_self", rows(0 until 60, "x"))
    val doubled = store.read("sales_self").get
      .withColumn("m", $"m" * 2)
    store.replace("sales_self", doubled)
    val back = store.read("sales_self").get
    assert(back.count() == 60)
    assert(back.filter($"uuid" === 10L).select("m").as[Double].head() == 30.0)
  }

  test("DELETE+INSERT fallback: explicit column list survives a column-order change") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props, renameSwap = false)
    store.replace("sales_fb", rows(0 until 40, "v1"))
    // same columns, DIFFERENT order: a positional `INSERT SELECT *`
    // would transpose uuid into m — the checked column list must not
    val reordered = rows(0 until 25, "v2").select("m", "uuid", "name")
    store.replace("sales_fb", reordered)
    val back = store.read("sales_fb").get
    assert(back.count() == 25)
    assert(back.filter($"uuid" === 10L).select("m").as[Double].head() == 15.0)
    assert(back.select("name").distinct().as[String].collect().toSeq == Seq("v2"))
  }

  test("DELETE+INSERT fallback: schema CHANGE degrades to drop+publish, never transposes") {
    implicit val s: SparkSession = spark
    val store = new JdbcStore(url, props, renameSwap = false)
    store.replace("sales_fb2", rows(0 until 40, "v1"))
    // replacement drops a column and adds another — the fallback must
    // detect the mismatch and recreate instead of mis-inserting
    val changed = (0 until 12).map(i => (i.toLong, s"v$i", i * 3L))
      .toDF("uuid", "name", "quality")
    store.replace("sales_fb2", changed)
    val back = store.read("sales_fb2").get
    assert(back.columns.toSet == Set("uuid", "name", "quality"))
    assert(back.count() == 12)
    // and the store keeps working after the degraded path
    store.replace("sales_fb2", rows(0 until 7, "v3"))
    assert(store.read("sales_fb2").get.count() == 7)
  }

  test("strand recovery: a committed rename-1 + dead rename-2 leaves the live name serving") {
    implicit val s: SparkSession = spark
    // Simulate an autocommitting-DDL dialect (MySQL): the seam commits
    // the FIRST rename — which a later rollback then cannot undo, the
    // exact strand — and dies on the second. Derby itself rides
    // transactional DDL, so only the seam can reach this branch.
    var renames = 0
    val store = new JdbcStore(url, props) {
      override protected def renameTable(conn: java.sql.Connection,
          from: String, to: String): Unit = {
        renames += 1
        if (renames == 2) {
          conn.commit() // rename 1 is now beyond rollback
          throw new java.sql.SQLException("injected: rename 2 died")
        }
        super.renameTable(conn, from, to)
      }
    }
    store.replace("sales_strand", rows(0 until 30, "v1"))
    // the failing swap must RECOVER: live table back under its own
    // name, then the checked DELETE+INSERT fallback lands v2
    store.replace("sales_strand", rows(0 until 12, "v2"))
    assert(renames == 3, s"expected rename1, dead rename2, recovery: $renames")
    val back = store.read("sales_strand").get
    assert(back.count() == 12)
    assert(back.select("name").distinct().as[String].collect().toSeq == Seq("v2"))
    // and no debris tables remain under the strand names
    assert(store.read("sales_strand_graft_replace_old").isEmpty)
    assert(store.read("sales_strand_graft_replace_stage").isEmpty)
  }

  test("partitioned read slices the scan into numPartitions range queries") {
    implicit val s: SparkSession = spark
    val plain = new JdbcStore(url, props)
    plain.replace("sales_part", rows(0 until 200, "p"))
    val sliced = new JdbcStore(url, props,
      Some(JdbcPartitioning("uuid", lowerBound = 0, upperBound = 200, numPartitions = 4)))
    val df = sliced.read("sales_part").get
    // the slicing is real: 4 concurrent range-bounded SELECTs, not one
    // single-connection scan — the difference between a funnel and a
    // fan at 100 TB
    assert(df.rdd.getNumPartitions == 4)
    // and no row is lost or duplicated by the range arithmetic
    assert(df.count() == 200)
    assert(df.select("uuid").distinct().count() == 200)
    // per-partition counts prove every slice carries real work
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.forall(_ > 0), s"empty slice in ${perPart.toSeq}")
  }

  test("JdbcStore partitioned-read option plumbing") {
    implicit val s = spark
    val props = new java.util.Properties()
    props.setProperty("user", "u")
    val store = new JdbcStore(
      "jdbc:mysql://db:3306/sales", props,
      Some(JdbcPartitioning("uuid", 0L, 1000000000L, 32)))
    val opts = store.readOptions("sales_tgt")
    assert(opts("partitionColumn") == "uuid")
    assert(opts("numPartitions") == "32")
    assert(opts("lowerBound") == "0" && opts("upperBound") == "1000000000")
    assert(opts("dbtable") == "sales_tgt" && opts("user") == "u")
    // unpartitioned store omits the slicing options entirely
    val plain = new JdbcStore("jdbc:mysql://db:3306/sales", props)
    assert(!plain.readOptions("sales").contains("partitionColumn"))
  }
}
