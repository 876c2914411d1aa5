package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level timing probe for one declared entry: runs the entry under
  * a listener that prints every driver job's wall time and first-stage
  * name, so an iterative operator's per-round action cost is visible
  * without the UI (which Bench/Verify disable). Measurement tooling
  * only — never on any query path.
  * Usage: runMain graft.ProbeJobs <entry> [reps]; env like Bench. */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val Seq((entry, fn)) = Harness.entries(Some(args(0)))
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name.take(60)))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"[job ${je.jobId}%4d] ${ms}%9.1f ms  $desc")
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        val run = si.taskMetrics.executorRunTime
        val site = si.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("Probe"))
          .getOrElse(si.name).trim.take(90)
        println(f"[stage ${si.stageId}%4d] wall ${wall}%6d ms run ${run}%7d ms tasks ${si.numTasks}%4d  $site")
      }
    })
    for (r <- 1 to reps) Harness.scoped(spark, spareShared = false) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[entry $entry rep $r] ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
    sys.exit(0)
  }
}
