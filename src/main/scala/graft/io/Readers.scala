package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Input format dispatch + readers (reference S2–S5,
  * /root/reference/lambda.py:58-79).
  *
  * The reference routes on file extension and rejects anything else
  * (lambda.py:64-74); its JSON reader tries array-of-records form first
  * and falls back to NDJSON (lambda.py:66-71). Spark's JSON source is
  * NDJSON-native and needs `multiLine` for the array form, so the
  * dispatch sniffs the first non-whitespace byte instead of
  * try-and-fallback — same observable semantics, one pass.
  */
object Readers {

  sealed trait InputFormat
  case object Csv extends InputFormat
  case object JsonRecords extends InputFormat // array-of-records / single doc
  case object JsonLines extends InputFormat   // NDJSON
  case object Avro extends InputFormat        // self-describing containers
  final case class Unsupported(ext: String) extends InputFormat

  /** S5: extension-based routing, as in lambda.py:64-74 (+ `.avro`,
    * the X165 format-breadth extension). */
  def formatOf(spark: SparkSession, path: String): InputFormat = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) Csv
    else if (lower.endsWith(".avro")) Avro
    else if (lower.endsWith(".json")) {
      if (sniffJsonArray(spark, path)) JsonRecords else JsonLines
    } else Unsupported(lower.split('.').lastOption.getOrElse(""))
  }

  /** Peek at the first non-whitespace byte: '[' → array-of-records.
    * Reads a single small range, never the whole object (unlike the
    * reference's whole-file BytesIO buffering, lambda.py:63). */
  private def sniffJsonArray(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](256)
      val n = in.read(buf)
      (0 until math.max(n, 0)).iterator
        .map(buf(_).toChar)
        .find(!_.isWhitespace)
        .contains('[')
    } finally in.close()
  }

  /** S2: CSV scan with explicit schema (no inference in the prod path). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S3: array-of-records JSON (pandas' default orientation). */
  def jsonRecords(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(path)

  /** S4: NDJSON — Spark's native JSON form. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S2–S5 combined: route by format, read with the given schema.
    * Unsupported extensions raise, matching lambda.py:73-74. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    formatOf(spark, path) match {
      case Csv         => csv(spark, path, schema)
      case JsonRecords => jsonRecords(spark, path, schema)
      case JsonLines   => jsonLines(spark, path, schema)
      case Avro =>
        // self-describing: read with the embedded writer schema, then
        // align to the caller's contract (column order + types)
        import org.apache.spark.sql.functions.col
        AvroIo.read(spark, path)
          .select(schema.fields.toSeq
            .map(f => col(f.name).cast(f.dataType)): _*)
      case Unsupported(ext) =>
        throw new IllegalArgumentException(s"Unsupported file format: .$ext")
    }
}
