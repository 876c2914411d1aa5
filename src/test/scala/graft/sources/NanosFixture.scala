package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64

/** Repo-owned TIMESTAMP(NANOS) parquet fixture.
  *
  * The nanos read/decline behaviors (raw-nanos row check and `/ 1000`
  * micros rescale in [[LocalParquetEndpoint]], overflow decline in
  * [[ParquetFilters]]) used
  * to be exercised against the driver's `events.parquet`, which was
  * TIMESTAMP(NANOS) until the r10 testdata regeneration switched it to
  * micros — taking the nanos paths from tested to untested without any
  * code change. Tests must not borrow a data contract the repo doesn't
  * control, so this fixture owns it: Spark itself cannot WRITE nanos
  * parquet (and rejects reading it with PARQUET_TYPE_ILLEGAL — that
  * rejection is exactly what the graft-arrow source exists to lift,
  * matching the reference scanner's capability), so the file is
  * produced via the low-level parquet Group API from the Spark-bundled
  * parquet-hadoop jar.
  */
object NanosFixture {
  val Rows = 1000

  private val Base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L

  /** Hourly steps plus a sub-microsecond nano component (i % 1000) so
    * the micros rescale genuinely truncates — reads must agree with
    * themselves, not with a lossless fiction. */
  def tsNanos(i: Int): Long = Base + i * 3600L * 1000000000L + i % 1000

  /** Writes `events_ns.parquet` into a fresh temp dir; returns the dir
    * (a [[LocalParquetEndpoint]]-servable table root). */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events_ns")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events_ns.parquet"))
      .withConf(conf).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until Rows).foreach { i =>
      val g = gf.newGroup()
      g.add("event_id", i.toLong)
      g.add("ts", tsNanos(i))
      writer.write(g)
    } finally writer.close()
    dir
  }
}
