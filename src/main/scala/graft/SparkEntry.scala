package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Catalog.summaryByNation.run(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Catalog.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Catalog.oracleSql

  /** Cores (`local[n]`, n shuffle partitions) of the dev mains' sessions. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session of the dev mains (Bench, Verify, PlanDump,
    * StageProf): `local[cpus]` with as many shuffle partitions, UTC,
    * the graft extensions, no UI, WARN logging, and parquet
    * TIMESTAMP(NANOS) read as long epoch-ns (events.ts). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in a query's SQL or an
    * error message would otherwise break the reader's json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The queries a dev-time `SPARK_GRAFT_ONLY=q51,q54` list selects,
    * sorted by name (unset → all). An
    * entry names a query in full or by its number: `q5` selects
    * `q5_*`, never `q50_*`. A set list and its selection are printed
    * to stderr, so a typo selects visibly nothing. */
  def selectedQueries(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val picked = queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      names.forall(_.exists(p =>
        name == p || (name.startsWith(p) && name.charAt(p.length) == '_')))
    }
    names.foreach(ns => System.err.println(s"SPARK_GRAFT_ONLY=${ns.mkString(",")} " +
      s"selects ${picked.size} queries: ${picked.map(_._1).mkString(", ")}"))
    picked
  }
}
