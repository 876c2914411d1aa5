package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.graft.ArrowBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The in-process Arrow endpoint over a directory of parquet tables —
  * the zero-egress stand-in for a DazzleDuck server (SURVEY.md §6): it
  * executes the pushed projection + filters against
  * `<dir>/<table>.parquet` and streams Arrow IPC record batches, just
  * like the reference server answers `dd_read_arrow`'s HTTP query.
  *
  * Pushdown is real, not cosmetic: splits are decoded column-wise by
  * Spark's vectorized parquet reader, the projection becomes its
  * requested schema (unread columns are never decoded), filters become
  * parquet FilterPredicates (row groups are skipped on statistics, rows
  * checked per decoded batch), and splits are row-group byte ranges so N
  * splits decode disjoint data — the same parallel-split contract as the
  * reference's `/plan` API (split_info.cpp). A killed task stops at the
  * next reader batch of [[LocalParquetEndpoint.CancelCheckRows]] rows.
  */
class LocalParquetEndpoint(dir: String) extends Endpoint {

  import LocalParquetEndpoint.{CancelCheckRows, SplitFile, hadoopConf, splitFile}

  private def tablePath(table: String) = new Path(s"$dir/$table.parquet")

  /** A table is a single parquet file OR a directory of part files (the
    * realistic at-scale layout — a 100 TB table is tens of thousands of
    * part files, and splits parallelize across all of them). Part files
    * must share one schema, like any parquet table. Deterministic
    * name-sorted order so split ids are stable. Each part comes with its
    * status, the [[FooterCache]] key. */
  private def partFiles(table: String): Seq[(Path, FileStatus)] = {
    val p = tablePath(table)
    val fs = p.getFileSystem(hadoopConf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val parts = fs.listStatus(p).toSeq
        .filter(f => f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .map(f => (f.getPath, f))
      require(parts.nonEmpty,
        s"graft-arrow: table '$table' at $p is a directory with no part files" +
          " (aborted write?)")
      parts
    } else Seq((p, st))
  }

  /** The table schema (from the first part file). */
  private def tableSchema(table: String): MessageType =
    FooterCache.footer(partFiles(table).head._2).getFileMetaData.getSchema

  override def schema(table: String): StructType =
    ArrowBridge.parquetToSparkSchema(tableSchema(table), hadoopConf)

  // ------------------------------------------------------------- plan
  override def plan(table: String, query: QuerySpec,
                    splitSizeBytes: Long): Seq[SplitInfo] = {
    val sql = query.toSql
    val checksum = java.security.MessageDigest.getInstance("MD5")
      .digest(sql.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val queryId = java.util.UUID.nameUUIDFromBytes(sql.getBytes("UTF-8"))
      .getMostSignificantBits.abs
    var sid = 0
    partFiles(table).flatMap { case (file, status) =>
      val blocks = FooterCache.footer(status).getBlocks.asScala.toSeq
      // greedily pack consecutive row groups into ≤ splitSizeBytes
      // splits; splits never span files (byte ranges are per-file)
      val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[Int]]
      var current = Vector.empty[Int]
      var currentBytes = 0L
      blocks.zipWithIndex.foreach { case (b, i) =>
        if (current.nonEmpty && currentBytes + b.getCompressedSize > splitSizeBytes) {
          groups += current; current = Vector.empty; currentBytes = 0L
        }
        current = current :+ i
        currentBytes += b.getCompressedSize
      }
      if (current.nonEmpty) groups += current
      groups.map { rgs =>
        val bs = rgs.map(blocks(_))
        sid += 1
        SplitInfo(
          endpoint = s"local://$file",
          queryId = queryId,
          producerId = "graft-local",
          query = sql,
          queryChecksum = checksum,
          splitId = sid - 1,
          rowGroups = rgs,
          startByte = bs.map(_.getStartingPos).min,
          endByte = bs.map(b => b.getStartingPos + b.getCompressedSize).max,
          rowCount = bs.map(_.getRowCount).sum)
      }.toSeq
    }
  }

  // ------------------------------------------------------------- scan
  override def scan(split: SplitInfo, query: QuerySpec): IpcStream = {
    val (rows, sparkSchema, close) = readRows(split, splitFile(split.endpoint), query)
    IpcStream(ArrowBridge.toIpc(rows, sparkSchema), close)
  }

  override def scanAgg(split: SplitInfo, query: QuerySpec,
                       agg: AggSpec): IpcStream = {
    // STRICT filtering contract (r14): a raw scan may under-filter (the
    // client re-evaluates residuals — the DSv2 contract), but a partial
    // AGGREGATE over under-filtered rows is silently wrong, so every
    // filter must translate to an exact parquet predicate here
    // or the request is refused loudly.
    val file = splitFile(split.endpoint)
    val fsch = file.footer.getFileMetaData.getSchema
    val unapplied = query.filters.filterNot(ParquetFilters.translatable(_, fsch))
    if (unapplied.nonEmpty) throw new UnsupportedOperationException(
      s"graft-arrow: aggregate pushdown requires exactly-applicable filters; " +
        s"cannot apply: ${unapplied.mkString(", ")}")
    val aggCols = agg.calls.collect { case AggCall(op, c) if op != "count_star" => c }.distinct
    val cols = (agg.groupBy ++ aggCols.filterNot(agg.groupBy.contains)).toSeq
    val (rows, sparkSchema, close) = readRows(split, file, query.copy(requiredColumns = cols.toArray))
    val idx = cols.zipWithIndex.toMap
    val fieldIdx = agg.calls.map(c => if (c.op == "count_star") -1 else idx(c.column))
    val types = agg.calls.zip(fieldIdx).map {
      case (AggCall("count_star", _), _) => LongType
      case (AggCall("count", _), _) => LongType
      case (AggCall(_, _), i) => sparkSchema.fields(i).dataType
    }
    val aggFields = agg.calls.zip(types).zipWithIndex.map {
      case ((c, t), i) => StructField(s"${c.op}_$i", PartialAgg.outputType(c.op, t), nullable = true)
    }
    if (agg.groupBy.isEmpty) {
      // compute consumes the rows eagerly, so the reader is exhausted
      // and released here; the explicit close is the cancellation path
      val acc = try PartialAgg.compute(rows, agg.calls, fieldIdx, types) finally close()
      IpcStream(ArrowBridge.toIpc(Iterator.single(acc), StructType(aggFields)), () => ())
    } else {
      // grouped partials (r8): key columns lead the projection, so key
      // ordinal i reads field i; one row per distinct key in the split
      // up to the r9 cap, then streamed singleton partials. The
      // iterator is lazy over the reader, so the close rides the
      // IpcStream like a raw scan (exhaustion or caller close)
      val keyIdx = agg.groupBy.indices
      val keyTypes = keyIdx.map(sparkSchema.fields(_).dataType)
      val grouped = PartialAgg.computeGrouped(rows, agg.calls, fieldIdx, types,
        keyIdx, keyTypes, agg.maxGroupsPerSplit)
      val outSchema = StructType(
        agg.groupBy.zip(keyTypes).map { case (g, t) => StructField(g, t, nullable = true) } ++
        aggFields)
      IpcStream(ArrowBridge.toIpc(grouped, outSchema), close)
    }
  }

  /** Read the split's rows with projection + filter applied at the
    * source, through Spark's vectorized parquet reader over the split's
    * byte range. The third element closes the reader (idempotent —
    * exhaustion also triggers it).
    *
    * The translated filter goes to the reader, which skips row groups on
    * their statistics and dictionaries, and is then checked on every
    * decoded row with the record filter's semantics
    * ([[ParquetFilters.rowCheck]]).
    *
    * Filters may reference columns OUTSIDE the projection (the DSv2
    * client always projects filter columns for re-evaluation, but a
    * hand-built HTTP client need not): those columns are appended to the
    * read schema past the emitted ordinals, so the row check sees them,
    * and are never emitted (r14).
    *
    * The rows are views of the reader's reused batch: a consumer that
    * keeps a value past the next row must copy it ([[PartialAgg]] does).
    * TIMESTAMP(NANOS) columns decode as raw nanos (the check compares in
    * that unit) and are emitted rescaled to micros with `/ 1000`. */
  private def readRows(split: SplitInfo, file: SplitFile,
                       query: QuerySpec): (Iterator[InternalRow], StructType, () => Unit) = {
    // the schema is per-file but uniform across the table
    val SplitFile(status, footer) = file
    val fs = footer.getFileMetaData.getSchema
    // columns the translated filter needs but the projection lacks
    val extraRefs: Array[String] =
      if (query.requiredColumns.isEmpty) Array.empty
      else query.filters
        .filter(f => ParquetFilters.translatable(f, fs))
        .flatMap(_.references)
        .distinct
        .filterNot(query.requiredColumns.contains)
        .filter(fs.containsField)
    val projected: MessageType =
      if (query.requiredColumns.isEmpty) fs
      else {
        val b = Types.buildMessage()
        (query.requiredColumns ++ extraRefs)
          .foreach(c => b.addField(fs.getType(fs.getFieldIndex(c))))
        b.named(fs.getName)
      }
    val readSchema = ArrowBridge.parquetToSparkSchema(projected, hadoopConf)
    // the emitted schema: extras (appended last) stay past its ordinals
    val nOut = readSchema.length - extraRefs.length
    val sparkSchema = StructType(readSchema.fields.take(nOut))
    val nanos = projected.getFields.asScala.map(_.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ => false
    }).toArray
    val requested = StructType(readSchema.fields.zip(nanos).map {
      case (f, true) => f.copy(dataType = LongType)
      case (f, false) => f
    })
    val conf = readerConf(requested)
    val predicate = ParquetFilters.translate(query.filters, fs)
    predicate.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, CancelCheckRows)
    // the emitted view: the reader's columns, NANOS ones swapped for
    // micros vectors refilled per batch
    val micros: Array[WritableColumnVector] = (0 until nOut).map { i =>
      if (nanos(i)) new OnHeapColumnVector(CancelCheckRows, readSchema(i).dataType)
      else null
    }.toArray
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closeOnce: () => Unit = () => if (closed.compareAndSet(false, true)) {
      try reader.close() finally micros.foreach(v => if (v != null) v.close())
    }
    // the reader gets the cached footer restricted to the split's row
    // groups, so it parses none itself; it closes the stream it is handed
    val input = HadoopInputFile.fromStatus(status, hadoopConf)
    val stream = input.newStream()
    val batch =
      try {
        reader.initialize(
          new FileSplit(status.getPath, split.startByte, split.endByte - split.startByte,
            Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()),
          Some(input), Some(stream), Some(FooterCache.restrict(footer, split.startByte, split.endByte)))
        reader.resultBatch()
      } catch { case e: Throwable => try closeOnce() finally stream.close(); throw e }
    val check: Int => Boolean = predicate
      .map(ParquetFilters.rowCheck(_, fs, batch, projected.getFieldIndex))
      .orNull
    val out = new ColumnarBatch((0 until nOut).map { i =>
      if (micros(i) != null) micros(i) else batch.column(i)
    }.toArray)
    // Mid-stream cancellation (the reference runs a cancel monitor that
    // aborts in-flight HTTP streams — src/http/cancel_monitor.cpp): a
    // killed Spark task stops consuming promptly instead of finishing
    // its split. Checked once per reader batch of CancelCheckRows rows,
    // so the row loop carries no check; PartitionReader.close releases
    // the reader either way.
    val ctx = org.apache.spark.TaskContext.get()
    val it = new Iterator[InternalRow] {
      private var rowId = 0
      private var numRows = 0
      private var ready = false // rowId is a row that passed the check
      private var done = false
      private def nextBatch(): Unit = {
        if (ctx != null && ctx.isInterrupted()) {
          closeOnce()
          throw new org.apache.spark.TaskKilledException("graft-arrow scan cancelled")
        }
        if (reader.nextBatch()) {
          numRows = batch.numRows()
          rowId = 0
          var c = 0
          while (c < nOut) {
            val dst = micros(c)
            if (dst != null) {
              val src = batch.column(c)
              dst.reset()
              var i = 0
              while (i < numRows) {
                if (src.isNullAt(i)) dst.putNull(i) else dst.putLong(i, src.getLong(i) / 1000L)
                i += 1
              }
            }
            c += 1
          }
          out.setNumRows(numRows)
        } else {
          done = true
          closeOnce()
        }
      }
      override def hasNext: Boolean = {
        while (!ready && !done) {
          if (rowId < numRows) {
            if (check == null || check(rowId)) ready = true else rowId += 1
          } else nextBatch()
        }
        ready
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("graft-arrow split exhausted")
        ready = false
        rowId += 1
        out.getRow(rowId - 1)
      }
    }
    (it, sparkSchema, closeOnce)
  }

  /** Reader configuration: Spark's parquet read support with the
    * requested schema, and the schema-conversion flags of the session
    * [[ArrowBridge.parquetToSparkSchema]] reads, except that
    * TIMESTAMP(NANOS) converts to a long. Names match exactly — they
    * come from the file schema itself. */
  private def readerConf(requested: StructType): Configuration = {
    val sql = SQLConf.get
    val conf = new Configuration(hadoopConf)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, true)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, true)
    conf
  }
}

object LocalParquetEndpoint {
  /** Rows per reader batch; the task-interrupt check runs once per
    * batch. */
  val CancelCheckRows = 1024

  private final case class SplitFile(status: FileStatus, footer: ParquetMetadata)

  /** The part file a split locator names (splits never span files):
    * its status and whole footer, resolved once per request. */
  private def splitFile(locator: String): SplitFile = {
    val file = new Path(locator.stripPrefix("local://"))
    val status = file.getFileSystem(hadoopConf).getFileStatus(file)
    SplitFile(status, FooterCache.footer(status))
  }

  /** The whole schema of the part file a split locator names, from its
    * cached footer — part files share their table's schema, so this is
    * the table's schema without resolving the table. */
  private[sources] def fileSchema(locator: String): StructType =
    ArrowBridge.parquetToSparkSchema(
      splitFile(locator).footer.getFileMetaData.getSchema, hadoopConf)

  /** The Hadoop configuration of every endpoint in the JVM, parsed once:
    * a `new Configuration()` parses `core-default.xml` out of its jar on
    * first use, which cost more than a footer read per request. Never
    * modified — code that sets keys works on a copy
    * (`new Configuration(hadoopConf)`). */
  private[sources] lazy val hadoopConf: Configuration = new Configuration()
}

/** JVM-wide cache of parquet footers, so a footer is parsed once per
  * file state rather than once per schema probe, plan and split.
  *
  * Key: the file's qualified path; an entry holds the (length,
  * modification time) it was read at, and a lookup whose status differs
  * re-reads and replaces it, so a file rewritten in place is never
  * served its old footer. Bound: [[MaxFiles]] footers, least recently
  * used evicted first. Directories whose files are deleted (superseded
  * `sql :=` results) drop their entries through [[evictUnder]]. */
private[sources] object FooterCache {
  /** Footers kept; a footer is a few KB to a few hundred KB (it grows
    * with row groups × columns). */
  val MaxFiles = 256

  private final case class Entry(length: Long, mtime: Long, footer: ParquetMetadata)

  private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxFiles
  }

  private val parsed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Footers parsed from disk so far (misses, a test observable). */
  private[sources] def reads: Long = parsed.get()

  /** The whole footer of the file `status` describes. Two concurrent
    * misses on one file may both parse it; the later entry wins. */
  def footer(status: FileStatus): ParquetMetadata = {
    val key = status.getPath.toString
    val hit = entries.synchronized(entries.get(key))
    if (hit != null && hit.length == status.getLen && hit.mtime == status.getModificationTime)
      hit.footer
    else {
      parsed.incrementAndGet()
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, LocalParquetEndpoint.hadoopConf))
      val f = try r.getFooter finally r.close()
      entries.synchronized(entries.put(key, Entry(status.getLen, status.getModificationTime, f)))
      f
    }
  }

  /** `full` restricted to the row groups of the byte range [start, end):
    * those whose midpoint lies in it — parquet's own rule for a split
    * range, which a reader handed a footer does not apply itself. */
  def restrict(full: ParquetMetadata, start: Long, end: Long): ParquetMetadata =
    new ParquetMetadata(full.getFileMetaData, full.getBlocks.asScala.filter { b =>
      val mid = b.getStartingPos + b.getCompressedSize / 2
      mid >= start && mid < end
    }.asJava)

  /** Drop the entries of every file under `dir` (a qualified path). */
  def evictUnder(dir: Path): Unit = {
    val prefix = dir.toString.stripSuffix("/") + "/"
    entries.synchronized(entries.keySet.removeIf(_.startsWith(prefix)))
  }
}

/** Spark [[Filter]] → parquet [[FilterPredicate]]. Conservative: only
  * types with unambiguous value mapping are translated (int32/int64/
  * float/double/string/timestamp); everything else stays a Spark-side
  * filter. Record-level semantics of the translated subset are exact.
  *
  * Timestamps matter most at scale: time ranges are the dominant
  * pruning predicate of a 100 TB log/fact table, and translating them
  * lets the parquet layer skip row groups on min/max stats instead of
  * shipping every row for Spark to re-filter. Values are rescaled to
  * the column's physical unit (nanos/micros/millis). */
object ParquetFilters {
  def translate(filters: Array[Filter], schema: MessageType): Option[FilterPredicate] = {
    val ps = filters.flatMap(one(_, schema))
    ps.reduceOption(FilterApi.and)
  }

  def translatable(f: Filter, schema: MessageType): Boolean = one(f, schema).isDefined

  /** A translated predicate as a check on row `i` of a decoded batch,
    * with the semantics of parquet's record-level filter: each leaf
    * compares the value in the column's physical type and unit with the
    * column's own comparator, a null never matches, AND/OR combine.
    * `ordinal` maps a column name to its position in `batch`; MILLIS
    * timestamps decode to micros and compare back in millis (exact), a
    * BINARY column orders by unsigned bytes — UTF8String's order. */
  def rowCheck(p: FilterPredicate, schema: MessageType, batch: ColumnarBatch,
               ordinal: String => Int): Int => Boolean = p match {
    case a: Operators.And =>
      val l = rowCheck(a.getLeft, schema, batch, ordinal)
      val r = rowCheck(a.getRight, schema, batch, ordinal)
      i => l(i) && r(i)
    case o: Operators.Or =>
      val l = rowCheck(o.getLeft, schema, batch, ordinal)
      val r = rowCheck(o.getRight, schema, batch, ordinal)
      i => l(i) || r(i)
    case e: Operators.Eq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ == 0)
    case e: Operators.Lt[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ < 0)
    case e: Operators.LtEq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ <= 0)
    case e: Operators.Gt[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ > 0)
    case e: Operators.GtEq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ >= 0)
    case other => throw new IllegalArgumentException(s"not a translated predicate: $other")
  }

  /** One comparison leaf of [[rowCheck]]; `test` reads the comparator's
    * sign. */
  private def leaf(schema: MessageType, batch: ColumnarBatch, ordinal: String => Int,
                   column: Operators.Column[_], value: Any,
                   test: Int => Boolean): Int => Boolean = {
    val name = column.getColumnPath.toDotString
    val v = batch.column(ordinal(name))
    val pt = schema.getType(schema.getFieldIndex(name)).asPrimitiveType
    val cmp = pt.comparator()
    pt.getPrimitiveTypeName match {
      case INT32 =>
        val x = value.asInstanceOf[java.lang.Integer].intValue
        v.dataType match {
          case ByteType => i => !v.isNullAt(i) && test(cmp.compare(v.getByte(i).toInt, x))
          case ShortType => i => !v.isNullAt(i) && test(cmp.compare(v.getShort(i).toInt, x))
          case _ => i => !v.isNullAt(i) && test(cmp.compare(v.getInt(i), x))
        }
      case INT64 =>
        val x = value.asInstanceOf[java.lang.Long].longValue
        val millis = pt.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS
          case _ => false
        }
        if (millis) i => !v.isNullAt(i) && test(cmp.compare(v.getLong(i) / 1000L, x))
        else i => !v.isNullAt(i) && test(cmp.compare(v.getLong(i), x))
      case FLOAT =>
        val x = value.asInstanceOf[java.lang.Float].floatValue
        i => !v.isNullAt(i) && test(cmp.compare(v.getFloat(i), x))
      case DOUBLE =>
        val x = value.asInstanceOf[java.lang.Double].doubleValue
        i => !v.isNullAt(i) && test(cmp.compare(v.getDouble(i), x))
      case BINARY =>
        val x = UTF8String.fromBytes(value.asInstanceOf[Binary].getBytes)
        if (v.dataType == StringType) i => !v.isNullAt(i) && test(v.getUTF8String(i).compareTo(x))
        else i => !v.isNullAt(i) && test(UTF8String.fromBytes(v.getBinary(i)).compareTo(x))
      case other => throw new IllegalArgumentException(s"not a translated column type: $other")
    }
  }

  private def primitive(schema: MessageType, name: String): Option[PrimitiveType] = {
    if (!schema.containsField(name)) return None
    schema.getType(schema.getFieldIndex(name)) match {
      case p: PrimitiveType if translatableAnnotation(p) => Some(p)
      case _ => None
    }
  }

  /** Annotations whose value ordering matches the physical column's
    * (so FilterApi comparisons are exact): none, string, timestamp
    * (INT64, unit rescaled), date (INT32 epoch-day), signed ints.
    * Unsigned ints and decimals stay Spark-side. */
  private def translatableAnnotation(p: PrimitiveType): Boolean =
    p.getLogicalTypeAnnotation match {
      case null => true
      case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
      case _: TimestampLogicalTypeAnnotation => p.getPrimitiveTypeName == INT64
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
        p.getPrimitiveTypeName == INT32
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        p.getPrimitiveTypeName == INT32 && i.isSigned
      case _ => false
    }

  /** Session TZ is UTC engine-wide (Tables/Bench/Verify), so NTZ
    * LocalDateTime values convert at UTC. Returns the value in the
    * COLUMN's unit. */
  private def toEpoch(v: Any, ann: TimestampLogicalTypeAnnotation): Option[java.lang.Long] = {
    val micros: Option[Long] = v match {
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case ldt: java.time.LocalDateTime =>
        Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
      case _ => None
    }
    micros.flatMap { us =>
      ann.getUnit match {
        // lossy/overflowing conversions DECLINE the filter (it stays a
        // Spark-side filter — the documented conservative policy): a
        // truncating us/1000 on a MILLIS column would push e.g.
        // `ts < ...00.0015` as lt(1ms) and drop the 1ms rows before
        // Spark's re-evaluation could see them; NANOS us*1000 overflows
        // Long past ~year 2262 into a negative bound that excludes
        // every row.
        case LogicalTypeAnnotation.TimeUnit.NANOS =>
          try Some(Math.multiplyExact(us, 1000L))
          catch { case _: ArithmeticException => None }
        case LogicalTypeAnnotation.TimeUnit.MICROS => Some(us)
        case LogicalTypeAnnotation.TimeUnit.MILLIS =>
          if (us % 1000L == 0L) Some(us / 1000L) else None
      }
    }.map(java.lang.Long.valueOf)
  }

  private def one(f: Filter, schema: MessageType): Option[FilterPredicate] = f match {
    case EqualTo(a, v) => cmp(schema, a, v, "eq")
    case GreaterThan(a, v) => cmp(schema, a, v, "gt")
    case GreaterThanOrEqual(a, v) => cmp(schema, a, v, "gtEq")
    case LessThan(a, v) => cmp(schema, a, v, "lt")
    case LessThanOrEqual(a, v) => cmp(schema, a, v, "ltEq")
    case In(a, vs) if vs.nonEmpty =>
      val eqs = vs.toSeq.map(v => cmp(schema, a, v, "eq"))
      if (eqs.exists(_.isEmpty)) None else Some(eqs.flatten.reduce(FilterApi.or))
    case And(l, r) => for (lp <- one(l, schema); rp <- one(r, schema)) yield FilterApi.and(lp, rp)
    case Or(l, r) => for (lp <- one(l, schema); rp <- one(r, schema)) yield FilterApi.or(lp, rp)
    case _ => None
  }

  private def cmp(schema: MessageType, name: String, v: Any,
                  op: String): Option[FilterPredicate] = {
    if (v == null) return None
    primitive(schema, name).flatMap { p =>
      try {
        (p.getPrimitiveTypeName, op) match {
          case (INT64, _) =>
            val c = FilterApi.longColumn(name)
            val xOpt = p.getLogicalTypeAnnotation match {
              case ts: TimestampLogicalTypeAnnotation => toEpoch(v, ts)
              case _ => Some(java.lang.Long.valueOf(v.asInstanceOf[Number].longValue()))
            }
            xOpt.map { x =>
              op match {
                case "eq" => FilterApi.eq(c, x); case "gt" => FilterApi.gt(c, x)
                case "gtEq" => FilterApi.gtEq(c, x); case "lt" => FilterApi.lt(c, x)
                case "ltEq" => FilterApi.ltEq(c, x)
              }
            }
          case (INT32, _) =>
            val c = FilterApi.intColumn(name)
            val xOpt: Option[java.lang.Integer] = v match {
              case n: Number => Some(java.lang.Integer.valueOf(n.intValue()))
              // DATE columns: Spark hands LocalDate / java.sql.Date
              case d: java.time.LocalDate =>
                Some(java.lang.Integer.valueOf(d.toEpochDay.toInt))
              case d: java.sql.Date =>
                Some(java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt))
              case _ => None
            }
            xOpt.map { x =>
              op match {
                case "eq" => FilterApi.eq(c, x); case "gt" => FilterApi.gt(c, x)
                case "gtEq" => FilterApi.gtEq(c, x); case "lt" => FilterApi.lt(c, x)
                case "ltEq" => FilterApi.ltEq(c, x)
              }
            }
          case (DOUBLE, _) =>
            val c = FilterApi.doubleColumn(name)
            val x = java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
            Some(op match {
              case "eq" => FilterApi.eq(c, x); case "gt" => FilterApi.gt(c, x)
              case "gtEq" => FilterApi.gtEq(c, x); case "lt" => FilterApi.lt(c, x)
              case "ltEq" => FilterApi.ltEq(c, x)
            })
          case (FLOAT, _) =>
            val c = FilterApi.floatColumn(name)
            val x = java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())
            Some(op match {
              case "eq" => FilterApi.eq(c, x); case "gt" => FilterApi.gt(c, x)
              case "gtEq" => FilterApi.gtEq(c, x); case "lt" => FilterApi.lt(c, x)
              case "ltEq" => FilterApi.ltEq(c, x)
            })
          case (BINARY, _) if v.isInstanceOf[String] =>
            val c = FilterApi.binaryColumn(name)
            val x = Binary.fromString(v.asInstanceOf[String])
            Some(op match {
              case "eq" => FilterApi.eq(c, x); case "gt" => FilterApi.gt(c, x)
              case "gtEq" => FilterApi.gtEq(c, x); case "lt" => FilterApi.lt(c, x)
              case "ltEq" => FilterApi.ltEq(c, x)
            })
          case _ => None
        }
      } catch { case _: ClassCastException => None }
    }
  }
}

/** Streaming partial-aggregate computation for aggregation pushdown. */
object PartialAgg {
  /** Spark's expected result type for a pushed aggregate (must line up
    * with the final-aggregation plan Spark builds over the partials). */
  def outputType(op: String, colType: DataType): DataType = op match {
    case "count_star" | "count" => LongType
    case "sum" => colType match {
      case LongType | IntegerType | ShortType | ByteType => LongType
      case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
      case _ => DoubleType
    }
    case "min" | "max" => colType
  }

  /** Types this partial-aggregator can fold for the given op; anything
    * else declines pushdown (whole query stays local — the reference's
    * all-or-nothing fallback contract). */
  def supports(op: String, colType: DataType): Boolean = op match {
    case "count_star" | "count" => true
    case "sum" => colType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | _: DecimalType => true
      case _ => false
    }
    case "min" | "max" => ordFor(colType).isDefined
    case _ => false
  }

  private def ordFor(t: DataType): Option[Ordering[Any]] = (t match {
    case LongType | TimestampType | TimestampNTZType => Some(Ordering.Long)
    case IntegerType | DateType => Some(Ordering.Int)
    case ShortType => Some(Ordering.Short)
    case ByteType => Some(Ordering.Byte)
    case BooleanType => Some(Ordering.Boolean)
    case DoubleType => Some(Ordering.Double.TotalOrdering)
    case FloatType => Some(Ordering.Float.TotalOrdering)
    case StringType => Some(Ordering.by[Any, UTF8String](_.asInstanceOf[UTF8String]))
    case _: DecimalType => Some(Ordering.ordered[Decimal].on[Any](_.asInstanceOf[Decimal]))
    case _ => None
  }).asInstanceOf[Option[Ordering[_]]].map(_.asInstanceOf[Ordering[Any]])

  /** Types usable as pushed GROUP BY keys: extracted values carry
    * proper equals/hashCode (UTF8String, Decimal, boxed primitives),
    * so they can key the per-split hash aggregation. */
  def groupable(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DoubleType | FloatType | StringType | DateType | TimestampType |
         TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  /** One in-flight partial-aggregation state (per split, or per group
    * in the grouped path). */
  private final class Acc(n: Int) {
    val counts = new Array[Long](n)
    val sumsL = new Array[Long](n)
    val sumsD = new Array[Double](n)
    val sumsB = new Array[java.math.BigDecimal](n)
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
  }

  private def update(acc: Acc, r: InternalRow, calls: Seq[AggCall],
                     fieldIdx: Seq[Int], types: Seq[DataType],
                     ords: Seq[Ordering[Any]]): Unit = {
    val n = calls.length
    var i = 0
    while (i < n) {
      calls(i).op match {
        case "count_star" => acc.counts(i) += 1
        case "count" => if (!r.isNullAt(fieldIdx(i))) acc.counts(i) += 1
        case "sum" =>
          if (!r.isNullAt(fieldIdx(i))) {
            types(i) match {
              case LongType => acc.sumsL(i) += r.getLong(fieldIdx(i)); acc.counts(i) += 1
              case IntegerType => acc.sumsL(i) += r.getInt(fieldIdx(i)); acc.counts(i) += 1
              case ShortType => acc.sumsL(i) += r.getShort(fieldIdx(i)); acc.counts(i) += 1
              case ByteType => acc.sumsL(i) += r.getByte(fieldIdx(i)); acc.counts(i) += 1
              case DoubleType => acc.sumsD(i) += r.getDouble(fieldIdx(i)); acc.counts(i) += 1
              case FloatType => acc.sumsD(i) += r.getFloat(fieldIdx(i)); acc.counts(i) += 1
              case d: DecimalType =>
                val v = r.getDecimal(fieldIdx(i), d.precision, d.scale).toJavaBigDecimal
                acc.sumsB(i) = if (acc.sumsB(i) == null) v else acc.sumsB(i).add(v)
                acc.counts(i) += 1
              case _ =>
            }
          }
        case "min" | "max" =>
          if (!r.isNullAt(fieldIdx(i))) {
            val v = r.get(fieldIdx(i), types(i))
            val cur = if (calls(i).op == "min") acc.mins(i) else acc.maxs(i)
            val better = cur == null ||
              (calls(i).op == "min" && ords(i).lt(v, cur)) ||
              (calls(i).op == "max" && ords(i).gt(v, cur))
            if (better) {
              // rows are views of a reused batch: keep a copy
              val kept = InternalRow.copyValue(v)
              if (calls(i).op == "min") acc.mins(i) = kept else acc.maxs(i) = kept
            }
          }
      }
      i += 1
    }
  }

  private def result(acc: Acc, calls: Seq[AggCall], types: Seq[DataType]): Array[Any] = {
    val n = calls.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = calls(i).op match {
        case "count_star" | "count" => acc.counts(i)
        case "sum" =>
          if (acc.counts(i) == 0) null
          else types(i) match {
            case LongType | IntegerType | ShortType | ByteType => acc.sumsL(i)
            case d: DecimalType =>
              // overflow of the widened precision → null, matching
              // Spark's non-ANSI decimal SUM, instead of throwing
              val ot = outputType("sum", d).asInstanceOf[DecimalType]
              val dec = Decimal(acc.sumsB(i))
              if (dec.changePrecision(ot.precision, ot.scale)) dec else null
            case _ => acc.sumsD(i)
          }
        case "min" => acc.mins(i)
        case "max" => acc.maxs(i)
      }
      i += 1
    }
    out
  }

  private def ordsFor(types: Seq[DataType]): Seq[Ordering[Any]] =
    types.map(t => ordFor(t).getOrElse(
      throw new UnsupportedOperationException(s"agg over $t")))

  def compute(rows: Iterator[InternalRow], calls: Seq[AggCall],
              fieldIdx: Seq[Int], types: Seq[DataType]): InternalRow = {
    val ords = ordsFor(types)
    val acc = new Acc(calls.length)
    rows.foreach(r => update(acc, r, calls, fieldIdx, types, ords))
    new GenericInternalRow(result(acc, calls, types))
  }

  /** Grouped partials (r8, capped r9): one output row per distinct key
    * tuple the hash map holds, key values first then partials. Rows are
    * views of the reader's reused batch, so a key is copied when it is
    * stored; lookups use the view.
    *
    * Memory: the map is bounded by `maxGroups` entries, NOT by the
    * split's group cardinality — a near-unique group key would
    * otherwise make the whole split's projection resident at once
    * (boxed keys + an Acc per group), which is WORSE peak memory than
    * streaming the raw split. Past the cap, rows with a NEW key go
    * through a SECONDARY run map (also `maxGroups`-bounded, so peak
    * memory is 2×cap accumulators): same-key overflow rows keep
    * combining there, and when the run fills it flushes as merged
    * partial rows and starts a new run (r10 — the r9 form streamed
    * every new key as a singleton partial, so an adversarial key order
    * that cycled a few hot keys after the cap degraded to one wire row
    * per input row; sort-run merging keeps the wire volume at
    * O(distinct keys) per run window instead). Spark's final
    * aggregation merges however many partials a key produced, so the
    * result is identical under any flush pattern. The returned
    * iterator is LAZY over `rows` — the caller keeps the reader open
    * until it is exhausted or closed. */
  def computeGrouped(rows: Iterator[InternalRow], calls: Seq[AggCall],
                     fieldIdx: Seq[Int], types: Seq[DataType],
                     keyIdx: Seq[Int], keyTypes: Seq[DataType],
                     maxGroups: Int = AggSpec.DefaultMaxGroupsPerSplit): Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    require(maxGroups >= 1, s"maxGroups must be >= 1: $maxGroups")
    val ords = ordsFor(types)
    val n = calls.length
    val groups = new java.util.LinkedHashMap[Seq[Any], Acc]()
    val run = new java.util.LinkedHashMap[Seq[Any], Acc]()
    def row(key: Seq[Any], acc: Acc): InternalRow =
      new GenericInternalRow(key.toArray[Any] ++ result(acc, calls, types))
    def drain(m: java.util.LinkedHashMap[Seq[Any], Acc]): Vector[InternalRow] = {
      val out = m.entrySet().iterator().asScala
        .map(e => row(e.getKey, e.getValue)).toVector
      m.clear(); out
    }
    val overflow = rows.flatMap { r =>
      val key: Seq[Any] = keyIdx.zip(keyTypes).map {
        case (i, t) => if (r.isNullAt(i)) null else r.get(i, t)
      }
      val existing = groups.get(key)
      if (existing != null) {
        update(existing, r, calls, fieldIdx, types, ords); Nil
      } else if (groups.size < maxGroups) {
        val acc = new Acc(n); groups.put(key.map(InternalRow.copyValue), acc)
        update(acc, r, calls, fieldIdx, types, ords); Nil
      } else {
        // primary cap reached: combine into the bounded secondary run;
        // flush the run as merged partials only when IT fills
        val inRun = run.get(key)
        if (inRun != null) {
          update(inRun, r, calls, fieldIdx, types, ords); Nil
        } else {
          val flushed = if (run.size < maxGroups) Vector.empty else drain(run)
          val acc = new Acc(n); run.put(key.map(InternalRow.copyValue), acc)
          update(acc, r, calls, fieldIdx, types, ords)
          flushed
        }
      }
    }
    // `++`'s right operand is BY-NAME: each drain below runs only after
    // everything to its left is exhausted, i.e. after every input row
    // has been consumed — both maps are complete by then
    overflow ++ drain(run).iterator ++ drain(groups).iterator
  }
}
