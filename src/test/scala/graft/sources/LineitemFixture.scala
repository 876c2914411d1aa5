package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** sf0.1 lineitem rewritten as ONE parquet file, `li.parquet`, of
  * ~1 MiB row groups in `l_orderkey` order: a 1 MiB split size plans one
  * split per row group, so most splits start past row group 0 and
  * sibling splits stream side by side, and a key range prunes row
  * groups on their statistics. Written once per JVM; readers must not
  * modify it. */
object LineitemFixture {
  /** Write `df` as the single parquet file `path`, in `df`'s row order,
    * replacing a file already there (a rewrite in place: same path, new
    * length and modification time). */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft-single").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/d")
    val part = new java.io.File(s"$out/d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private var written: String = _

  /** The directory holding `li.parquet`, written on first use from
    * `sf01`'s lineitem. */
  def dir(spark: SparkSession, sf01: String): String = synchronized {
    if (written == null) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-li-1mib").toString
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = hc.get("parquet.block.size")
      hc.setInt("parquet.block.size", 1024 * 1024)
      try writeSingleFile(spark.read.parquet(s"$sf01/lineitem.parquet").repartition(1)
          .sortWithinPartitions("l_orderkey", "l_linenumber"), s"$tmp/li.parquet")
      finally {
        if (oldBlock == null) hc.unset("parquet.block.size")
        else hc.set("parquet.block.size", oldBlock)
      }
      written = tmp
    }
    written
  }
}
