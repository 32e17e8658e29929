package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only stage profiler (guide §1/§7): runs selected queries once
  * (after one untimed warmup pass) with a SparkListener and prints,
  * per stage, wall duration, summed task time, GC time, shuffle
  * read/write bytes and the first line of the stage's call site — the
  * local[] stand-in for the Spark UI's stage page, since the sandbox
  * has no browser. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_ONLY=q170_winnowed_pairs sbt "runMain graft.StageProf"
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    val ordered = SparkEntry.selectedQueries()

    case class St(var name: String, var wall: Long = 0, var task: Long = 0,
      var gc: Long = 0, var sr: Long = 0, var sw: Long = 0, var in: Long = 0,
      var tasks: Int = 0, var submitted: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val st = stages.getOrElseUpdate(i.stageId, St("?"))
        st.name = i.name.split("\n")(0).take(90)
        st.wall += i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        st.submitted = i.submissionTime.getOrElse(0L)
        st.tasks += i.numTasks
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(te.stageId, St("?"))
        val m = te.taskMetrics
        if (m != null) {
          st.task += m.executorRunTime
          st.gc += m.jvmGCTime
          st.sr += m.shuffleReadMetrics.totalBytesRead
          st.sw += m.shuffleWriteMetrics.bytesWritten
          st.in += m.inputMetrics.bytesRead
        }
      }
    }
    for ((name, fn) <- ordered) {
      // untimed warmup pass: codegen-compile and JIT the query's plan
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        println(s"WARMUP_FAIL $name: ${e.getMessage}") }
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        println(s"RUN_FAIL $name: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // deliver every event the run posted before the listener goes
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name: $wall%.3f s wall, ${stages.size} stages ==")
      val base = stages.values.map(_.submitted).filter(_ > 0).minOption.getOrElse(0L)
      for ((id, s) <- stages.toSeq.sortBy(_._1)) {
        println(f"  stage $id%4d @${(s.submitted - base) / 1000.0}%7.2fs wall=${s.wall / 1000.0}%7.3f task=${s.task / 1000.0}%8.3f gc=${s.gc / 1000.0}%6.3f in=${s.in / 1048576.0}%7.1fMB sr=${s.sr / 1048576.0}%6.1fMB sw=${s.sw / 1048576.0}%6.1fMB n=${s.tasks}%3d  ${s.name}")
      }
    }
    spark.stop()
  }
}
