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
import org.apache.spark.sql.catalyst.util.DateTimeUtils
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
  * `<dir>/<table>.parquet` and hands each split's rows to the caller, as
  * the reference server answers `dd_read_arrow`'s HTTP query.
  *
  * Pushdown is real, not cosmetic: splits are decoded column-wise by
  * Spark's vectorized parquet reader, the projection becomes its
  * requested schema (unread columns are never decoded), filters become
  * parquet FilterPredicates (row groups are skipped on statistics, rows
  * checked per decoded batch; [[exactFilters]] reports which of them
  * Spark need not evaluate again), and splits are row-group byte
  * ranges so N splits decode disjoint data — the same parallel-split
  * contract as the reference's `/plan` API (split_info.cpp). A killed
  * task stops at the next reader batch of
  * [[LocalParquetEndpoint.CancelCheckRows]] rows.
  */
class LocalParquetEndpoint(dir: String) extends Endpoint {

  import LocalParquetEndpoint.{CancelCheckRows, SplitFile, decoded, hadoopConf, splitFile}

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

  /** From the table's cached footer: part files share its schema. */
  override def exactFilters(table: String, filters: Array[Filter]): Array[Boolean] = {
    val fs = tableSchema(table)
    filters.map(ParquetFilters.exact(_, fs))
  }

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

  // ------------------------------------------------------------- read
  override def read(split: SplitInfo, query: QuerySpec,
                    agg: Option[AggSpec]): CloseableIterator[InternalRow] = {
    val file = splitFile(split.endpoint)
    requireExact(query, file)
    agg.fold(readRows(split, file, query)._1)(readAgg(split, file, query, _))
  }

  /** A filter the client dropped from its plan as exact must be exact
    * on this split's file too, or the scan would emit rows the client
    * no longer filters out: refused loudly instead. */
  private def requireExact(query: QuerySpec, file: SplitFile): Unit = {
    val fsch = file.footer.getFileMetaData.getSchema
    val inexact = query.exact.filterNot(ParquetFilters.exact(_, fsch))
    if (inexact.nonEmpty) throw new UnsupportedOperationException(
      "graft-arrow: cannot apply filters marked exact exactly: " +
        inexact.map(f => FilterSql.toSql(f).getOrElse(f.toString)).mkString(", "))
  }

  private def readAgg(split: SplitInfo, file: SplitFile, query: QuerySpec,
                      agg: AggSpec): CloseableIterator[InternalRow] = {
    // STRICT filtering contract (r14): a raw scan may return rows a
    // filter not marked exact rejects (the client re-evaluates those —
    // the DSv2 contract), but a partial AGGREGATE over such rows is
    // silently wrong, so every filter must translate to a parquet
    // predicate the endpoint applies here, or the request is refused
    // loudly.
    val fsch = file.footer.getFileMetaData.getSchema
    val unapplied = query.filters.filterNot(ParquetFilters.translatable(_, fsch))
    if (unapplied.nonEmpty) throw new UnsupportedOperationException(
      s"graft-arrow: aggregate pushdown requires exactly-applicable filters; " +
        s"cannot apply: ${unapplied.mkString(", ")}")
    val aggCols = agg.calls.collect { case AggCall(op, c) if op != "count_star" => c }.distinct
    val cols = (agg.groupBy ++ aggCols.filterNot(agg.groupBy.contains)).toSeq
    val (rows, sparkSchema) = readRows(split, file, query.copy(requiredColumns = cols.toArray))
    val idx = cols.zipWithIndex.toMap
    val fieldIdx = agg.calls.map(c => if (c.op == "count_star") -1 else idx(c.column))
    val types = agg.calls.zip(fieldIdx).map {
      case (AggCall("count_star", _), _) => LongType
      case (AggCall("count", _), _) => LongType
      case (AggCall(_, _), i) => sparkSchema.fields(i).dataType
    }
    if (agg.groupBy.isEmpty) {
      // compute consumes the rows eagerly, so the reader is exhausted
      // and released here; the explicit close is the cancellation path
      val acc = try PartialAgg.compute(rows, agg.calls, fieldIdx, types) finally rows.close()
      CloseableIterator(Iterator.single(acc), () => ())
    } else {
      // grouped partials (r8): key columns lead the projection, so key
      // ordinal i reads field i; one row per distinct key in the split
      // up to the r9 cap, then streamed singleton partials. The
      // iterator is lazy over the reader, so the close rides the
      // returned rows like a raw read (exhaustion or caller close)
      val keyIdx = agg.groupBy.indices
      val keyTypes = keyIdx.map(sparkSchema.fields(_).dataType)
      CloseableIterator(PartialAgg.computeGrouped(rows, agg.calls, fieldIdx, types,
        keyIdx, keyTypes, agg.maxGroupsPerSplit), () => rows.close())
    }
  }

  /** Read the split's rows with projection + filter applied at the
    * source, through Spark's vectorized parquet reader over the split's
    * byte range, and their schema. Closing the rows closes the reader
    * (exhaustion also does).
    *
    * The translated filter goes to the reader, which skips row groups on
    * their statistics (and on their dictionaries, when the filter has an
    * equality or IN leaf — [[ParquetFilters.usesDictionary]]), and is
    * then checked on every decoded row ([[ParquetFilters.rowCheck]]).
    *
    * Filters may reference columns OUTSIDE the projection (the DSv2
    * client projects only the columns of filters it evaluates again,
    * not those of exact ones, and a hand-built HTTP client need not
    * project any): those columns are appended to the
    * read schema past the emitted ordinals, so the row check sees them,
    * and are never emitted (r14).
    *
    * The rows are views of the reader's reused batch: a consumer that
    * keeps a value past the next row must copy it ([[PartialAgg]] does).
    * TIMESTAMP(NANOS) columns decode as raw nanos (only null tests on
    * them translate) and are emitted rescaled to micros with `/ 1000`. */
  private def readRows(split: SplitInfo, file: SplitFile,
                       query: QuerySpec): (CloseableIterator[InternalRow], StructType) = {
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
    val predicate = ParquetFilters.translate(query.filters, fs)
    val conf = readerConf(requested, predicate.exists(ParquetFilters.usesDictionary))
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
          decoded.add(numRows)
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
    (CloseableIterator(it, closeOnce), sparkSchema)
  }

  /** Reader configuration: Spark's parquet read support with the
    * requested schema, and the schema-conversion flags of the session
    * [[ArrowBridge.parquetToSparkSchema]] reads, except that
    * TIMESTAMP(NANOS) converts to a long. Names match exactly — they
    * come from the file schema itself. Parquet's dictionary row-group
    * filter runs only when `dictionary` is set. */
  private def readerConf(requested: StructType, dictionary: Boolean): Configuration = {
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
    conf.setBoolean(ParquetInputFormat.DICTIONARY_FILTERING_ENABLED, dictionary)
    conf
  }
}

object LocalParquetEndpoint {
  /** Rows per reader batch; the task-interrupt check runs once per
    * batch. */
  val CancelCheckRows = 1024

  private final case class SplitFile(status: FileStatus, footer: ParquetMetadata)

  private val decoded = new java.util.concurrent.atomic.LongAdder

  /** Rows the split readers of this JVM decoded so far, before the row
    * check (a test observable: row groups pruned are never decoded). */
  private[sources] def rowsDecoded: Long = decoded.sum()

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
  * types with an unambiguous value mapping are translated (signed
  * int32/int64, date, float/double, string, int64 timestamps), plus
  * null tests on any primitive column; everything else stays a
  * Spark-side filter. A translated filter prunes row groups on their
  * statistics and is checked on every decoded row ([[rowCheck]]);
  * [[exact]] says which translated filters that check applies exactly
  * as Spark evaluates them.
  *
  * Timestamps matter most at scale: time ranges are the dominant
  * pruning predicate of a 100 TB log/fact table, and translating them
  * lets the parquet layer skip row groups on min/max stats instead of
  * shipping every row for Spark to re-filter. Values are rescaled to
  * the column's physical unit (micros/millis); comparisons on a
  * TIMESTAMP(NANOS) column, emitted as truncated micros, stay with
  * Spark. */
object ParquetFilters {
  def translate(filters: Array[Filter], schema: MessageType): Option[FilterPredicate] =
    filters.flatMap(one(_, schema)).reduceOption(FilterApi.and)

  def translatable(f: Filter, schema: MessageType): Boolean = one(f, schema).isDefined

  /** Whether the endpoint applies `f` exactly: it translates, and each
    * leaf keeps a row exactly when Spark's evaluation of it is true.
    * Exact leaves: null tests, and comparisons on signed ints, dates,
    * strings and MICROS or MILLIS timestamps (a MILLIS literal that does
    * not convert exactly declines translation; TIMESTAMP(NANOS)
    * comparisons never translate). Not exact: FLOAT/DOUBLE leaves,
    * whose row groups parquet prunes on statistics that order −0.0
    * before 0.0. `And`/`Or`/`In` are exact when their leaves are. */
  def exact(f: Filter, schema: MessageType): Boolean =
    one(f, schema).exists(exactLeaves(_, schema))

  private def exactLeaves(p: FilterPredicate, schema: MessageType): Boolean = p match {
    case a: Operators.And => exactLeaves(a.getLeft, schema) && exactLeaves(a.getRight, schema)
    case o: Operators.Or => exactLeaves(o.getLeft, schema) && exactLeaves(o.getRight, schema)
    case e: Operators.Eq[_] if e.getValue == null => true
    case e: Operators.NotEq[_] if e.getValue == null => true
    case e: Operators.Eq[_] => exactColumn(schema, e.getColumn)
    case e: Operators.Lt[_] => exactColumn(schema, e.getColumn)
    case e: Operators.LtEq[_] => exactColumn(schema, e.getColumn)
    case e: Operators.Gt[_] => exactColumn(schema, e.getColumn)
    case e: Operators.GtEq[_] => exactColumn(schema, e.getColumn)
    case s: Operators.In[_] => exactColumn(schema, s.getColumn)
    case _ => false
  }

  private def exactColumn(schema: MessageType, c: Operators.Column[_]): Boolean =
    !Seq(FLOAT, DOUBLE).contains(physical(schema, c).getPrimitiveTypeName)

  /** Whether `p` has an equality or IN leaf on a value: the leaves
    * parquet's dictionary row-group filter drops groups for that the
    * statistics keep (a value inside a group's min/max but absent from
    * its dictionary). For range leaves the statistics decide the same,
    * and the dictionary filter would read and hash every group's
    * dictionary for nothing. */
  def usesDictionary(p: FilterPredicate): Boolean = p match {
    case a: Operators.And => usesDictionary(a.getLeft) || usesDictionary(a.getRight)
    case o: Operators.Or => usesDictionary(o.getLeft) || usesDictionary(o.getRight)
    case e: Operators.Eq[_] => e.getValue != null
    case _: Operators.In[_] => true
    case _ => false
  }

  /** A translated predicate as a check on row `i` of a decoded batch:
    * a null never matches a comparison, AND/OR combine, null tests read
    * the null mask. Each comparison is Spark's on the column's values:
    * ints, dates and timestamps compare in the column's physical type
    * and unit (MILLIS timestamps decode to micros and compare back in
    * millis, exact), a BINARY column orders by unsigned bytes —
    * UTF8String's order — and FLOAT/DOUBLE values compare as Spark
    * compares them, −0.0 equal to 0.0 and NaN equal to NaN and above
    * every other value. An IN leaf is one lookup in its value set.
    * `ordinal` maps a column name to its position in `batch`. */
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
    case e: Operators.Eq[_] if e.getValue == null =>
      val v = batch.column(ordinal(e.getColumn.getColumnPath.toDotString))
      i => v.isNullAt(i)
    case e: Operators.NotEq[_] if e.getValue == null =>
      val v = batch.column(ordinal(e.getColumn.getColumnPath.toDotString))
      i => !v.isNullAt(i)
    case e: Operators.Eq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ == 0)
    case e: Operators.Lt[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ < 0)
    case e: Operators.LtEq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ <= 0)
    case e: Operators.Gt[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ > 0)
    case e: Operators.GtEq[_] => leaf(schema, batch, ordinal, e.getColumn, e.getValue, _ >= 0)
    case s: Operators.In[_] => in(schema, batch, ordinal, s.getColumn, s.getValues.asScala.toArray[Any])
    case other => throw new IllegalArgumentException(s"not a translated predicate: $other")
  }

  /** Spark's order on doubles (and, widened, floats). */
  private def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** A double's key under Spark's equality: −0.0 as 0.0, every NaN as
    * one. */
  private def sqlKey(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  /** One comparison leaf of [[rowCheck]]; `test` reads the comparison's
    * sign. */
  private def leaf(schema: MessageType, batch: ColumnarBatch, ordinal: String => Int,
                   column: Operators.Column[_], value: Any,
                   test: Int => Boolean): Int => Boolean = {
    val v = batch.column(ordinal(column.getColumnPath.toDotString))
    val pt = physical(schema, column)
    // only signed ints, dates and timestamps translate: signed compares
    pt.getPrimitiveTypeName match {
      case INT32 =>
        val x = value.asInstanceOf[java.lang.Integer].intValue
        v.dataType match {
          case ByteType => i => !v.isNullAt(i) && test(Integer.compare(v.getByte(i), x))
          case ShortType => i => !v.isNullAt(i) && test(Integer.compare(v.getShort(i), x))
          case _ => i => !v.isNullAt(i) && test(Integer.compare(v.getInt(i), x))
        }
      case INT64 =>
        val x = value.asInstanceOf[java.lang.Long].longValue
        if (unit(pt).contains(LogicalTypeAnnotation.TimeUnit.MILLIS))
          i => !v.isNullAt(i) && test(java.lang.Long.compare(v.getLong(i) / 1000L, x))
        else i => !v.isNullAt(i) && test(java.lang.Long.compare(v.getLong(i), x))
      case FLOAT =>
        val x = value.asInstanceOf[java.lang.Float].doubleValue
        i => !v.isNullAt(i) && test(sqlCompare(v.getFloat(i), x))
      case DOUBLE =>
        val x = value.asInstanceOf[java.lang.Double].doubleValue
        i => !v.isNullAt(i) && test(sqlCompare(v.getDouble(i), x))
      case BINARY =>
        val x = UTF8String.fromBytes(value.asInstanceOf[Binary].getBytes)
        if (v.dataType == StringType) i => !v.isNullAt(i) && test(v.getUTF8String(i).compareTo(x))
        else i => !v.isNullAt(i) && test(UTF8String.fromBytes(v.getBinary(i)).compareTo(x))
      case other => throw new IllegalArgumentException(s"not a translated column type: $other")
    }
  }

  /** The IN leaf of [[rowCheck]]: a binary search in the sorted values
    * (ints, longs, double keys) or a hash lookup (strings). */
  private def in(schema: MessageType, batch: ColumnarBatch, ordinal: String => Int,
                 column: Operators.Column[_], values: Array[Any]): Int => Boolean = {
    import java.util.Arrays.binarySearch
    val v = batch.column(ordinal(column.getColumnPath.toDotString))
    val pt = physical(schema, column)
    pt.getPrimitiveTypeName match {
      case INT32 =>
        val set = values.map(_.asInstanceOf[java.lang.Integer].intValue).sorted
        v.dataType match {
          case ByteType => i => !v.isNullAt(i) && binarySearch(set, v.getByte(i).toInt) >= 0
          case ShortType => i => !v.isNullAt(i) && binarySearch(set, v.getShort(i).toInt) >= 0
          case _ => i => !v.isNullAt(i) && binarySearch(set, v.getInt(i)) >= 0
        }
      case INT64 =>
        val set = values.map(_.asInstanceOf[java.lang.Long].longValue).sorted
        if (unit(pt).contains(LogicalTypeAnnotation.TimeUnit.MILLIS))
          i => !v.isNullAt(i) && binarySearch(set, v.getLong(i) / 1000L) >= 0
        else i => !v.isNullAt(i) && binarySearch(set, v.getLong(i)) >= 0
      case FLOAT =>
        val set = values.map(x => sqlKey(x.asInstanceOf[java.lang.Float].doubleValue)).sorted
        i => !v.isNullAt(i) && binarySearch(set, sqlKey(v.getFloat(i))) >= 0
      case DOUBLE =>
        val set = values.map(x => sqlKey(x.asInstanceOf[java.lang.Double].doubleValue)).sorted
        i => !v.isNullAt(i) && binarySearch(set, sqlKey(v.getDouble(i))) >= 0
      case BINARY =>
        val set = new java.util.HashSet[UTF8String]()
        values.foreach(x => set.add(UTF8String.fromBytes(x.asInstanceOf[Binary].getBytes)))
        if (v.dataType == StringType) i => !v.isNullAt(i) && set.contains(v.getUTF8String(i))
        else i => !v.isNullAt(i) && set.contains(UTF8String.fromBytes(v.getBinary(i)))
      case other => throw new IllegalArgumentException(s"not a translated column type: $other")
    }
  }

  private def physical(schema: MessageType, c: Operators.Column[_]): PrimitiveType = {
    val name = c.getColumnPath.toDotString
    schema.getType(schema.getFieldIndex(name)).asPrimitiveType
  }

  private def unit(pt: PrimitiveType): Option[LogicalTypeAnnotation.TimeUnit] =
    pt.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => Some(t.getUnit)
      case _ => None
    }

  /** The top-level, non-repeated primitive column `name`. */
  private def column(schema: MessageType, name: String): Option[PrimitiveType] =
    if (!schema.containsField(name)) None
    else schema.getType(schema.getFieldIndex(name)) match {
      case p: PrimitiveType if !p.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED) =>
        Some(p)
      case _ => None
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
    * LocalDateTime values convert at UTC; a `java.sql.Timestamp` or
    * `Date` converts as Spark made it (its calendar rebase undone).
    * Returns the value in the COLUMN's unit. */
  private def toEpoch(v: Any, ann: TimestampLogicalTypeAnnotation): Option[java.lang.Long] = {
    val micros: Option[Long] = v match {
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
      case ldt: java.time.LocalDateTime =>
        Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
      case _ => None
    }
    // anything else DECLINES the filter, which stays with Spark: a
    // truncating us/1000 would push `ts < ...00.0015` as lt(1ms) and
    // drop the 1ms rows, and NANOS rows are emitted as truncated micros
    micros.flatMap { us =>
      ann.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MICROS => Some(us)
        case LogicalTypeAnnotation.TimeUnit.MILLIS if us % 1000L == 0L => Some(us / 1000L)
        case _ => None
      }
    }.map(java.lang.Long.valueOf)
  }

  private def one(f: Filter, schema: MessageType): Option[FilterPredicate] = f match {
    case EqualTo(a, v) => compare(schema, a, "eq", Seq(v))
    case GreaterThan(a, v) => compare(schema, a, "gt", Seq(v))
    case GreaterThanOrEqual(a, v) => compare(schema, a, "gtEq", Seq(v))
    case LessThan(a, v) => compare(schema, a, "lt", Seq(v))
    case LessThanOrEqual(a, v) => compare(schema, a, "ltEq", Seq(v))
    // a null in the list never makes IN true
    case In(a, vs) => compare(schema, a, "in", vs.toSeq.filter(_ != null))
    case IsNull(a) => nullTest(schema, a, isNull = true)
    case IsNotNull(a) => nullTest(schema, a, isNull = false)
    case And(l, r) => for (lp <- one(l, schema); rp <- one(r, schema)) yield FilterApi.and(lp, rp)
    case Or(l, r) => for (lp <- one(l, schema); rp <- one(r, schema)) yield FilterApi.or(lp, rp)
    case _ => None
  }

  /** `name IS [NOT] NULL` as parquet's eq/notEq against null, on any
    * primitive column but INT96. */
  private def nullTest(schema: MessageType, name: String, isNull: Boolean): Option[FilterPredicate] = {
    def test[T <: Comparable[T], C <: Operators.Column[T] with Operators.SupportsEqNotEq](
        c: C): FilterPredicate =
      if (isNull) FilterApi.eq[T, C](c, null.asInstanceOf[T])
      else FilterApi.notEq[T, C](c, null.asInstanceOf[T])
    column(schema, name).map(_.getPrimitiveTypeName).collect {
      case INT32 => test[java.lang.Integer, Operators.IntColumn](FilterApi.intColumn(name))
      case INT64 => test[java.lang.Long, Operators.LongColumn](FilterApi.longColumn(name))
      case FLOAT => test[java.lang.Float, Operators.FloatColumn](FilterApi.floatColumn(name))
      case DOUBLE => test[java.lang.Double, Operators.DoubleColumn](FilterApi.doubleColumn(name))
      case BOOLEAN => test[java.lang.Boolean, Operators.BooleanColumn](FilterApi.booleanColumn(name))
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        test[Binary, Operators.BinaryColumn](FilterApi.binaryColumn(name))
    }
  }

  /** A comparison (`op` one of eq, gt, gtEq, lt, ltEq, in) of column
    * `name` with the literals `vs`, each converted to the column's
    * physical value; None when the column or any literal does not
    * convert exactly. */
  private def compare(schema: MessageType, name: String, op: String,
                      vs: Seq[Any]): Option[FilterPredicate] =
    if (vs.isEmpty) None
    else column(schema, name).filter(translatableAnnotation).flatMap { p =>
      p.getPrimitiveTypeName match {
        case INT32 => build(FilterApi.intColumn(name), op, vs.map(int32(p, _)))
        case INT64 => build(FilterApi.longColumn(name), op, vs.map(int64(p, _)))
        case FLOAT => build(FilterApi.floatColumn(name), op, vs.map {
          case n: Number => Some(java.lang.Float.valueOf(n.floatValue)); case _ => None })
        case DOUBLE => build(FilterApi.doubleColumn(name), op, vs.map {
          case n: Number => Some(java.lang.Double.valueOf(n.doubleValue)); case _ => None })
        case BINARY => build(FilterApi.binaryColumn(name), op, vs.map {
          case s: String => Some(Binary.fromString(s)); case _ => None })
        case _ => None
      }
    }

  private def build[T <: Comparable[T], C <: Operators.Column[T] with Operators.SupportsLtGt](
      c: C, op: String, xs: Seq[Option[T]]): Option[FilterPredicate] =
    if (xs.exists(_.isEmpty)) None
    else {
      val vs = xs.flatten
      Some(op match {
        case "eq" => FilterApi.eq[T, C](c, vs.head)
        case "gt" => FilterApi.gt[T, C](c, vs.head)
        case "gtEq" => FilterApi.gtEq[T, C](c, vs.head)
        case "lt" => FilterApi.lt[T, C](c, vs.head)
        case "ltEq" => FilterApi.ltEq[T, C](c, vs.head)
        case "in" => FilterApi.in[T, C](c, new java.util.HashSet[T](vs.asJava))
      })
    }

  private def integral(v: Any): Option[Long] = v match {
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
      Some(n.asInstanceOf[Number].longValue)
    case _ => None
  }

  /** An INT32 literal as the column's value: an epoch day on a DATE
    * column, an integer in range otherwise. */
  private def int32(p: PrimitiveType, v: Any): Option[java.lang.Integer] =
    (p.getLogicalTypeAnnotation match {
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => v match {
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
        case _ => None
      }
      case _ => integral(v)
    }).filter(_.isValidInt).map(x => java.lang.Integer.valueOf(x.toInt))

  /** An INT64 literal as the column's value: epoch time in the column's
    * unit on a TIMESTAMP column, an integer otherwise. */
  private def int64(p: PrimitiveType, v: Any): Option[java.lang.Long] =
    p.getLogicalTypeAnnotation match {
      case ts: TimestampLogicalTypeAnnotation => toEpoch(v, ts)
      case _ => integral(v).map(java.lang.Long.valueOf)
    }
}

/** Streaming partial-aggregate computation for aggregation pushdown.
  * Each aggregate call becomes a [[Fold]] typed for its op and column
  * once per split, so a row costs each call one typed read and update:
  * no op lookup, boxing or generic ordering per row. */
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
    case "min" | "max" => groupable(colType)
    case _ => false
  }

  /** Types usable as pushed GROUP BY keys: extracted values carry
    * proper equals/hashCode (UTF8String, Decimal, boxed primitives),
    * so they can key the per-split hash aggregation. The same types
    * have a typed min/max [[Fold]]. */
  def groupable(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DoubleType | FloatType | StringType | DateType | TimestampType |
         TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  /** One aggregate call's running state over the column at ordinal
    * `o`; `fresh` starts another of the same kind (one per group). A
    * SUM, MIN or MAX that saw no non-null value is null. */
  private abstract class Fold {
    def add(r: InternalRow): Unit
    def result: Any
    def fresh(): Fold
  }

  private final class CountStar extends Fold {
    private var n = 0L
    def add(r: InternalRow): Unit = n += 1
    def result: Any = n
    def fresh(): Fold = new CountStar
  }

  private final class Count(o: Int) extends Fold {
    private var n = 0L
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) n += 1
    def result: Any = n
    def fresh(): Fold = new Count(o)
  }

  private abstract class LongSum extends Fold {
    protected var s = 0L
    protected var seen = false
    def result: Any = if (seen) s else null
  }
  private final class SumLong(o: Int) extends LongSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getLong(o); seen = true }
    def fresh(): Fold = new SumLong(o)
  }
  private final class SumInt(o: Int) extends LongSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getInt(o); seen = true }
    def fresh(): Fold = new SumInt(o)
  }
  private final class SumShort(o: Int) extends LongSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getShort(o); seen = true }
    def fresh(): Fold = new SumShort(o)
  }
  private final class SumByte(o: Int) extends LongSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getByte(o); seen = true }
    def fresh(): Fold = new SumByte(o)
  }

  private abstract class DoubleSum extends Fold {
    protected var s = 0.0
    protected var seen = false
    def result: Any = if (seen) s else null
  }
  private final class SumDouble(o: Int) extends DoubleSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getDouble(o); seen = true }
    def fresh(): Fold = new SumDouble(o)
  }
  private final class SumFloat(o: Int) extends DoubleSum {
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) { s += r.getFloat(o); seen = true }
    def fresh(): Fold = new SumFloat(o)
  }

  private final class SumDecimal(o: Int, d: DecimalType) extends Fold {
    private var s: java.math.BigDecimal = _
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val v = r.getDecimal(o, d.precision, d.scale).toJavaBigDecimal
      s = if (s == null) v else s.add(v)
    }
    // overflow of the widened precision → null, matching Spark's
    // non-ANSI decimal SUM, instead of throwing
    def result: Any =
      if (s == null) null
      else {
        val ot = outputType("sum", d).asInstanceOf[DecimalType]
        val dec = Decimal(s)
        if (dec.changePrecision(ot.precision, ot.scale)) dec else null
      }
    def fresh(): Fold = new SumDecimal(o, d)
  }

  /** MIN (`min`) or MAX over a column: `better(c)` reads the sign of
    * comparing a candidate with the kept value. */
  private abstract class Extreme(min: Boolean) extends Fold {
    protected var seen = false
    protected final def better(c: Int): Boolean = !seen || (if (min) c < 0 else c > 0)
  }
  private final class ExtLong(o: Int, min: Boolean) extends Extreme(min) {
    private var v = 0L
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getLong(o)
      if (better(java.lang.Long.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtLong(o, min)
  }
  private final class ExtInt(o: Int, min: Boolean) extends Extreme(min) {
    private var v = 0
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getInt(o)
      if (better(Integer.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtInt(o, min)
  }
  private final class ExtShort(o: Int, min: Boolean) extends Extreme(min) {
    private var v: Short = 0
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getShort(o)
      if (better(java.lang.Short.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtShort(o, min)
  }
  private final class ExtByte(o: Int, min: Boolean) extends Extreme(min) {
    private var v: Byte = 0
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getByte(o)
      if (better(java.lang.Byte.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtByte(o, min)
  }
  private final class ExtBoolean(o: Int, min: Boolean) extends Extreme(min) {
    private var v = false
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getBoolean(o)
      if (better(java.lang.Boolean.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtBoolean(o, min)
  }
  /** Doubles and floats keep the total order (−0.0 < 0.0, NaN last). */
  private final class ExtDouble(o: Int, min: Boolean) extends Extreme(min) {
    private var v = 0.0
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getDouble(o)
      if (better(java.lang.Double.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtDouble(o, min)
  }
  private final class ExtFloat(o: Int, min: Boolean) extends Extreme(min) {
    private var v = 0f
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getFloat(o)
      if (better(java.lang.Float.compare(x, v))) { v = x; seen = true }
    }
    def result: Any = if (seen) v else null
    def fresh(): Fold = new ExtFloat(o, min)
  }
  /** Rows are views of a reused batch: a kept string is copied. */
  private final class ExtString(o: Int, min: Boolean) extends Extreme(min) {
    private var v: UTF8String = _
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getUTF8String(o)
      if (!seen || better(x.compareTo(v))) { v = x.copy(); seen = true }
    }
    def result: Any = v
    def fresh(): Fold = new ExtString(o, min)
  }
  private final class ExtDecimal(o: Int, d: DecimalType, min: Boolean) extends Extreme(min) {
    private var v: Decimal = _
    def add(r: InternalRow): Unit = if (!r.isNullAt(o)) {
      val x = r.getDecimal(o, d.precision, d.scale)
      if (!seen || better(x.compare(v))) { v = x; seen = true }
    }
    def result: Any = v
    def fresh(): Fold = new ExtDecimal(o, d, min)
  }

  /** The folds of `calls`, call i reading ordinal `fieldIdx(i)` of type
    * `types(i)`. */
  private def folds(calls: Seq[AggCall], fieldIdx: Seq[Int], types: Seq[DataType]): Array[Fold] =
    calls.indices.map { i =>
      val (o, min) = (fieldIdx(i), calls(i).op == "min")
      (calls(i).op, types(i)) match {
        case ("count_star", _) => new CountStar
        case ("count", _) => new Count(o)
        case ("sum", LongType) => new SumLong(o)
        case ("sum", IntegerType) => new SumInt(o)
        case ("sum", ShortType) => new SumShort(o)
        case ("sum", ByteType) => new SumByte(o)
        case ("sum", DoubleType) => new SumDouble(o)
        case ("sum", FloatType) => new SumFloat(o)
        case ("sum", d: DecimalType) => new SumDecimal(o, d)
        case ("min" | "max", LongType | TimestampType | TimestampNTZType) => new ExtLong(o, min)
        case ("min" | "max", IntegerType | DateType) => new ExtInt(o, min)
        case ("min" | "max", ShortType) => new ExtShort(o, min)
        case ("min" | "max", ByteType) => new ExtByte(o, min)
        case ("min" | "max", BooleanType) => new ExtBoolean(o, min)
        case ("min" | "max", DoubleType) => new ExtDouble(o, min)
        case ("min" | "max", FloatType) => new ExtFloat(o, min)
        case ("min" | "max", StringType) => new ExtString(o, min)
        case ("min" | "max", d: DecimalType) => new ExtDecimal(o, d, min)
        case (op, t) => throw new UnsupportedOperationException(s"$op over $t")
      }
    }.toArray

  private def addAll(fs: Array[Fold], r: InternalRow): Unit = {
    var i = 0
    while (i < fs.length) { fs(i).add(r); i += 1 }
  }

  def compute(rows: Iterator[InternalRow], calls: Seq[AggCall],
              fieldIdx: Seq[Int], types: Seq[DataType]): InternalRow = {
    val fs = folds(calls, fieldIdx, types)
    rows.foreach(addAll(fs, _))
    new GenericInternalRow(fs.map(_.result))
  }

  /** Grouped partials (r8, capped r9): one output row per distinct key
    * tuple the hash map holds, key values first then partials. Rows are
    * views of the reader's reused batch, so a key is copied when it is
    * stored; lookups use the view. A single key column keys the map
    * with its value, several with an `ArraySeq` of theirs.
    *
    * Memory: the map is bounded by `maxGroups` entries, NOT by the
    * split's group cardinality — a near-unique group key would
    * otherwise make the whole split's projection resident at once
    * (boxed keys + folds per group), which is WORSE peak memory than
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
    import scala.collection.immutable.ArraySeq
    import scala.jdk.CollectionConverters._
    require(maxGroups >= 1, s"maxGroups must be >= 1: $maxGroups")
    val proto = folds(calls, fieldIdx, types)
    val (ks, kt) = (keyIdx.toArray, keyTypes.toArray)
    val nk = ks.length
    def keyAt(r: InternalRow, j: Int): Any = if (r.isNullAt(ks(j))) null else r.get(ks(j), kt(j))
    def keyOf(r: InternalRow): Any =
      if (nk == 1) keyAt(r, 0) else ArraySeq.unsafeWrapArray(Array.tabulate[Any](nk)(keyAt(r, _)))
    def stored(key: Any): Any =
      if (nk == 1) InternalRow.copyValue(key)
      else key.asInstanceOf[ArraySeq[Any]].map(InternalRow.copyValue)
    def open(key: Any, m: java.util.LinkedHashMap[Any, Array[Fold]]): Array[Fold] = {
      val fs = proto.map(_.fresh()); m.put(stored(key), fs); fs
    }
    val groups = new java.util.LinkedHashMap[Any, Array[Fold]]()
    val run = new java.util.LinkedHashMap[Any, Array[Fold]]()
    def row(key: Any, fs: Array[Fold]): InternalRow = {
      val out = new Array[Any](nk + fs.length)
      if (nk == 1) out(0) = key else key.asInstanceOf[ArraySeq[Any]].copyToArray(out)
      var i = 0
      while (i < fs.length) { out(nk + i) = fs(i).result; i += 1 }
      new GenericInternalRow(out)
    }
    def drain(m: java.util.LinkedHashMap[Any, Array[Fold]]): Vector[InternalRow] = {
      val out = m.entrySet().iterator().asScala
        .map(e => row(e.getKey, e.getValue)).toVector
      m.clear(); out
    }
    val overflow = rows.flatMap { r =>
      val key = keyOf(r)
      val existing = groups.get(key)
      if (existing != null) {
        addAll(existing, r); Nil
      } else if (groups.size < maxGroups) {
        addAll(open(key, groups), r); Nil
      } else {
        // primary cap reached: combine into the bounded secondary run;
        // flush the run as merged partials only when IT fills
        val inRun = run.get(key)
        if (inRun != null) {
          addAll(inRun, r); Nil
        } else {
          val flushed = if (run.size < maxGroups) Vector.empty else drain(run)
          addAll(open(key, run), r)
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
