package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional SPARK_GRAFT_ONLY entry filter for focused iteration
    // (driver runs unfiltered)
    val entries = Harness.entries()
    val spark = Harness.session(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // the sweep releases shared frames too (SharedFrames scaladoc), so
    // every gated entry computes its standalone form
    for ((name, fn) <- entries) Harness.scoped(spark, spareShared = false) {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // explicit exit: entries may have started shared loopback HTTP
    // servers (daemon threads by construction, but belt-and-braces —
    // a hung gate JVM silently zeroes the round's correctness)
    sys.exit(0)
  }
}
