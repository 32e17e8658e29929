package graft

/** Dev-only measurement harness (guide §1): isolates named queries with
  * the noop sink so the computation is timed without the parquet-encode
  * cost, and dumps `.explain("formatted")` for each to plans/<tag>/.
  *
  * Not part of the driver contract — Bench's methodology is unchanged.
  *
  * Usage: SPARK_GRAFT_ONLY=q51,q54 SPARK_GRAFT_PLAN_TAG=r21/before \
  *          sbt "runMain graft.PlanDump"
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (cores),
  *      SPARK_GRAFT_PASSES (timing passes, default 3),
  *      SPARK_GRAFT_PLAN_TAG (subdir under plans/, default "scratch"),
  *      SPARK_GRAFT_PLAN_SUFFIX (file suffix, e.g. "_before").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "scratch")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = SparkEntry.session()
    // same untimed warmup as Bench
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    val ordered = SparkEntry.selectedQueries()
    println(s"PlanDump: ${ordered.size} queries selected")
    val planDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(planDir)
    val out = new StringBuilder
    for ((name, fn) <- ordered) {
      spark.sparkContext.setJobDescription(name)
      // plan dump (pre-execution; AQE initial plan)
      try {
        val df = fn(spark, sfDir)
        val planTxt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(planDir.resolve(s"$name$suffix.txt"),
          planTxt.getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"PLAN_FAIL $name: ${e.getMessage}") }
      // a failed pass records NaN, not its near-zero duration — so a
      // failing query can never read as a fast one in the timing files
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"RUN_FAIL $name: ${e.getMessage}"); Double.NaN }
      }
      val ok = ts.filterNot(_.isNaN)
      val med = if (ok.isEmpty) Double.NaN else ok.sorted.apply(ok.size / 2)
      val line = f"$name%-32s $med%8.3f  (all: ${ts.map(t => if (t.isNaN) "FAIL" else f"$t%.3f").mkString(", ")})"
      println(line); out.append(line).append('\n')
    }
    java.nio.file.Files.write(planDir.resolve(s"timings$suffix.txt"),
      out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
