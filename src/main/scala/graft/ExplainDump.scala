package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for declared entries to files — the
  * r18 optimization round's plan evidence (plans/r18/<entry>_{before,
  * after}.txt). Usage:
  *   runMain graft.ExplainDump <out_dir> <suffix> <entry1,entry2,...>
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. Entries
  * whose construction RUNS work (streaming gates, trainers) still
  * produce the plan of the RETURNED frame — the part the caller
  * materializes. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val entries = Harness.entries(Some(args(2)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, fn) <- entries) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
