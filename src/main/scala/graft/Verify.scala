package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    // dev-only: SPARK_GRAFT_ONLY=q51,q54 restricts the dump to those
    // queries
    val picked = SparkEntry.selectedQueries()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val names = picked.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter(kv => sys.env.get("SPARK_GRAFT_ONLY").isEmpty || names(kv._1))
      .map { case (k, v) => s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
