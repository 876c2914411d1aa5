package graft.sources

import java.util.Locale

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The arrow-endpoint contract (SURVEY.md §2 A1): the Spark-first
  * re-expression of the reference's remote Arrow-IPC server surface
  * (`dd_read_arrow(url, sql|table, …)` in
  * /root/reference/src/scanner/read_arrow_dd.cpp plus the `/plan` split
  * API in /root/reference/src/http/split_info.cpp).
  *
  * An endpoint can describe a table, plan a split set for a scan, and
  * read each split back as Spark rows: in process
  * ([[LocalParquetEndpoint]]), or over the reference's REST protocol
  * ([[HttpEndpoint]]), the only place rows cross Arrow IPC.
  */
trait Endpoint extends Serializable {
  /** Table schema, as Spark types. */
  def schema(table: String): StructType

  /** For each of `filters` on `table`, whether this endpoint applies it
    * exactly: its scans emit a row exactly when Spark's own evaluation
    * of the filter is true, so Spark need not evaluate it again.
    * Answered from metadata, once per scan build, never per split. A
    * scan that marks a filter exact ([[QuerySpec.exact]]) is refused
    * when the endpoint cannot apply it exactly. */
  def exactFilters(table: String, filters: Array[Filter]): Array[Boolean]

  /** Plan the scan: one [[SplitInfo]] per parallel unit, row-group
    * aligned, each targeting ≤ splitSizeBytes of on-disk data (the
    * reference's `split_size` named parameter). */
  def plan(table: String, query: QuerySpec, splitSizeBytes: Long): Seq[SplitInfo]

  /** Read one split: its rows of `query`'s projection, or with `agg`
    * its partial-aggregate rows ([[AggSpec.outputSchema]]; reference
    * optimizer/aggregation_pushdown.cpp: partials are merged across
    * splits by the caller — here, by Spark's final aggregation). A row
    * may be a view that the next one overwrites. The caller MUST
    * close() the rows (Spark does, via PartitionReader.close) —
    * exhaustion also releases resources, but early-terminated scans
    * (limit/take/cancelled tasks) only release through close(). */
  def read(split: SplitInfo, query: QuerySpec,
           agg: Option[AggSpec]): CloseableIterator[InternalRow]
}

/** Token-enforcing endpoint decorator — the server side of the
  * reference's `auth_token` named parameter (read_arrow_dd.cpp:309-363
  * sends the token with every HTTP request; the server rejects
  * missing/invalid/expired ones). Verification happens on EVERY request
  * — schema, plan, and each split scan — and on whichever node runs it:
  * the token and secret ship with the serialized endpoint exactly like
  * the reference attaches them to each split request. */
class AuthEndpoint(inner: Endpoint, secret: String,
                   token: Option[String]) extends Endpoint {
  private def check(): Unit =
    token.flatMap(t =>
      graft.functions.Jwt.verify(t, secret, System.currentTimeMillis() / 1000))
      .getOrElse(throw new SecurityException(
        "graft-arrow: missing, invalid, or expired auth token"))

  override def schema(table: String): StructType = { check(); inner.schema(table) }
  override def exactFilters(table: String, filters: Array[Filter]): Array[Boolean] = {
    check(); inner.exactFilters(table, filters)
  }
  override def plan(table: String, query: QuerySpec, splitSizeBytes: Long): Seq[SplitInfo] = {
    check(); inner.plan(table, query, splitSizeBytes)
  }
  override def read(split: SplitInfo, query: QuerySpec,
                    agg: Option[AggSpec]): CloseableIterator[InternalRow] = {
    check(); inner.read(split, query, agg)
  }
}

/** An iterator that owns upstream resources (open parquet readers
  * here; an HTTP response there). close() is idempotent and safe at
  * any point of consumption. */
trait CloseableIterator[A] extends Iterator[A] with AutoCloseable

object CloseableIterator {
  def apply[A](it: Iterator[A], onClose: () => Unit): CloseableIterator[A] =
    new CloseableIterator[A] {
      private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def hasNext: Boolean = it.hasNext
      override def next(): A = it.next()
      override def close(): Unit = if (closed.compareAndSet(false, true)) onClose()
    }
}

/** What the scan asks of the endpoint: projected columns + filters, both
  * structurally (for execution) and as ANSI SQL (the wire protocol the
  * reference sends to the server — surfaced by `dd_splits`). `exact` are
  * those of `filters` the client left out of its own plan because the
  * endpoint reported them exact ([[Endpoint.exactFilters]]): the
  * endpoint applies them exactly or refuses the scan. */
case class QuerySpec(table: String, requiredColumns: Array[String],
                     filters: Array[Filter], exact: Array[Filter] = Array.empty) {
  /** The SQL the reference would send over the wire. */
  def toSql: String = {
    val cols = if (requiredColumns.isEmpty) "*" else requiredColumns.mkString(", ")
    val where = FilterSql.toWhere(filters)
    s"SELECT $cols FROM $table$where"
  }
}

/** One pushed aggregate: op ∈ count_star|count|sum|min|max. */
case class AggCall(op: String, column: String)

/** A pushed aggregation: the aggregate calls plus (r8) optional GROUP
  * BY columns — the wire form is standard SQL either way. Grouped
  * pushdown EXCEEDS the reference optimizer's contract (it falls back
  * local on any GROUP BY, aggregation_pushdown.cpp) — divergence
  * recorded in SURVEY §2/A4: the server executes SQL anyway, so
  * declining grouped aggregates would ship raw rows for no reason.
  *
  * `maxGroupsPerSplit` (r9) bounds the endpoint-side hash map: past
  * that many distinct keys in one split, further NEW keys stream
  * through as per-row singleton partials instead of entering the map
  * (Spark's final aggregation merges partial rows for the same key
  * regardless of how many the split emitted, so the degradation is
  * pure perf — worst case the split ships ~one partial per input row,
  * the no-combine shape, with O(cap) endpoint memory); the client
  * always sends [[AggSpec.DefaultMaxGroupsPerSplit]]. */
case class AggSpec(calls: Seq[AggCall], groupBy: Seq[String] = Nil,
                   maxGroupsPerSplit: Int = AggSpec.DefaultMaxGroupsPerSplit) {
  def toSql(table: String, filters: Array[Filter]): String = {
    val exprs = calls.map {
      case AggCall("count_star", _) => "count(*)"
      case AggCall(op, c) => s"$op($c)"
    }
    val select = (groupBy ++ exprs).mkString(", ")
    val group = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    s"SELECT $select FROM $table${FilterSql.toWhere(filters)}$group"
  }

  /** The partial-row schema of this spec's split reads: group-by
    * columns first (original names/types), then one partial per
    * aggregate call — the contract Spark's final aggregation merges.
    * Shared by the scan builder and the HTTP server so the wire schema
    * can never drift from the plan's. */
  def outputSchema(fullSchema: StructType): StructType = {
    val byName = fullSchema.fields.map(f => f.name -> f).toMap
    val groupFields = groupBy.map(g =>
      StructField(g, byName(g).dataType, nullable = true))
    val outFields = calls.zipWithIndex.map { case (c, i) =>
      val colType = if (c.op == "count_star") LongType else byName(c.column).dataType
      StructField(s"${c.op}_$i", PartialAgg.outputType(c.op, colType), nullable = true)
    }
    StructType(groupFields ++ outFields)
  }
}

object AggSpec {
  /** ~tens of MB of Acc map at worst — far below a split's raw data,
    * and far above any GROUP BY that benefits from pushdown. */
  val DefaultMaxGroupsPerSplit: Int = 1 << 20

  private val SupportedOps = Set("count_star", "count", "sum", "min", "max")

  /** Engine-neutral JSON wire form (r14 — replaces Java serialization
    * on the HTTP `agg` parameter): a small spec any client can build,
    * e.g. `{"calls":[{"op":"sum","col":"l_quantity"}],
    * "group_by":["l_returnflag"],"max_groups":1048576}`. */
  def toJson(a: AggSpec): String = {
    def js(s: String) = GraftHttpProtocol.jsonStr(s)
    val calls = a.calls.map(c =>
      s"""{"op":${js(c.op)},"col":${js(c.column)}}""").mkString("[", ",", "]")
    val groups = a.groupBy.map(js).mkString("[", ",", "]")
    s"""{"calls":$calls,"group_by":$groups,"max_groups":${a.maxGroupsPerSplit}}"""
  }

  /** STRICT inverse of [[toJson]]: None on malformed JSON, unknown
    * ops, or a non-positive cap — the server 400s rather than compute
    * a partial it can't stand behind. */
  def fromJson(json: String): Option[AggSpec] =
    try {
      val root = GraftHttpProtocol.Json.readTree(json)
      val callsNode = root.get("calls")
      if (callsNode == null || !callsNode.isArray) return None
      val calls = (0 until callsNode.size()).map { i =>
        val c = callsNode.get(i)
        val op = Option(c.get("op")).filter(_.isTextual).map(_.asText())
          .getOrElse(return None)
        val col = Option(c.get("col")).filter(_.isTextual).map(_.asText())
          .getOrElse(return None)
        if (!SupportedOps.contains(op)) return None
        AggCall(op, col)
      }
      if (calls.isEmpty) return None
      val gNode = root.get("group_by")
      val groups =
        if (gNode == null) Nil
        else if (!gNode.isArray) return None
        else (0 until gNode.size()).map { i =>
          val g = gNode.get(i)
          if (!g.isTextual) return None
          g.asText()
        }.toSeq
      val cap = Option(root.get("max_groups")).map { n =>
        if (!n.canConvertToInt) return None
        n.asInt()
      }.getOrElse(DefaultMaxGroupsPerSplit)
      if (cap < 1) return None
      Some(AggSpec(calls, groups, cap))
    } catch { case _: Exception => None }
}

/** A planned split (reference split_info.cpp / dd_splits.cpp): an
  * endpoint locator plus the row-group range it covers.
  *
  * `file` (r13): when `endpoint` is a remote URL (the HTTP transport),
  * the server-side locator of the part file this split covers — an
  * OPAQUE token the client hands back verbatim with each split fetch,
  * like the reference's descriptor handle. Empty for local endpoints,
  * where `endpoint` itself is the file locator.
  *
  * `altEndpoints` (r14): the REST of the plan's `endpoints` array
  * (split_info.cpp:44-81 — a split may be served by several
  * interchangeable endpoints). The HTTP client opens `endpoint` first
  * and fails over down this list when a connection dies before any
  * data was delivered.
  *
  * `nonce` (r14): a per-plan token minted by the server and echoed
  * with every split fetch and cancel, so a cancel only aborts streams
  * belonging to THIS plan — query ids are deterministic hashes of the
  * wire SQL, so without the nonce a cancel aimed at one consumer
  * would truncate an unrelated concurrent re-issue of the same query. */
case class SplitInfo(
    endpoint: String,       // locator ("local://<path>" here; URL remotely)
    queryId: Long,
    producerId: String,
    query: String,          // serialized SQL sent to the server
    queryChecksum: String,
    splitId: Int,
    rowGroups: Seq[Int],    // row-group ordinals this split covers
    startByte: Long,        // file range [startByte, endByte) — row-group aligned
    endByte: Long,
    rowCount: Long,
    file: String = "",
    altEndpoints: Seq[String] = Nil,
    nonce: Long = 0L)

/** Spark DSv2 [[Filter]] ⇄ ANSI SQL (SURVEY.md §2 A3): the reference
  * serializes pushed filters back to SQL text and sends THAT to the
  * server (FilterToSQL, read_arrow_dd.cpp:198-295; expression-to-SQL
  * also in optimizer/aggregation_pushdown.cpp:44-127), and the server
  * recovers structure by parsing the SQL. [[toSql]]/[[toWhere]] are the
  * client side; [[parse]]/[[parseWhere]] are the server side — a strict
  * recursive-descent parser over exactly the grammar the serializer
  * emits (plus case-insensitive keywords for hand-built clients), so
  * the wire format is engine-neutral SQL text, not JVM serialization
  * (r14 — replaces the Java-serialized `filt` sidecar). Unsupported
  * filters are simply not serialized — the caller keeps them local;
  * unparseable text is a loud error — a silently dropped conjunct
  * under an aggregate pushdown would be a wrong answer, never risked.
  *
  * Round-trip law (GraftProperties): `parseWhere(toWhere(fs))` is
  * defined and semantically equal to the serialized subset of `fs`.
  * LIKE-family filters whose value itself contains a `%`/`_` wildcard
  * are NOT serialized (the pattern would be ambiguous to invert and
  * wrong under LIKE semantics anyway). */
object FilterSql {
  def toWhere(filters: Array[Filter]): String = {
    val parts = filters.flatMap(toSql)
    if (parts.isEmpty) "" else parts.mkString(" WHERE ", " AND ", "")
  }

  /** The bare conjunction (no ` WHERE ` prefix) — the r14 `where` wire
    * parameter. None when nothing serializes. */
  def toConjunction(filters: Array[Filter]): Option[String] = {
    val parts = filters.flatMap(toSql)
    if (parts.isEmpty) None else Some(parts.mkString(" AND "))
  }

  private def likeSafe(v: String): Boolean =
    !v.contains('%') && !v.contains('_')

  def toSql(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(x => s"$a = $x")
    case EqualNullSafe(a, v) => lit(v).map(x => s"$a IS NOT DISTINCT FROM $x")
    case GreaterThan(a, v) => lit(v).map(x => s"$a > $x")
    case GreaterThanOrEqual(a, v) => lit(v).map(x => s"$a >= $x")
    case LessThan(a, v) => lit(v).map(x => s"$a < $x")
    case LessThanOrEqual(a, v) => lit(v).map(x => s"$a <= $x")
    case In(a, vs) if vs.nonEmpty && vs.forall(lit(_).isDefined) =>
      Some(s"$a IN (${vs.flatMap(lit).mkString(", ")})")
    case IsNull(a) => Some(s"$a IS NULL")
    case IsNotNull(a) => Some(s"$a IS NOT NULL")
    // empty values are declined too: '%x' / 'x%' / '%x%' are mutually
    // unambiguous to invert only when x is nonempty (an empty-value
    // LIKE is the vacuous always-true-on-non-null filter anyway)
    case StringStartsWith(a, v) if likeSafe(v) && v.nonEmpty =>
      lit(v + "%").map(p => s"$a LIKE $p")
    case StringEndsWith(a, v) if likeSafe(v) && v.nonEmpty =>
      lit("%" + v).map(p => s"$a LIKE $p")
    case StringContains(a, v) if likeSafe(v) && v.nonEmpty =>
      lit("%" + v + "%").map(p => s"$a LIKE $p")
    case And(l, r) => for (ls <- toSql(l); rs <- toSql(r)) yield s"($ls AND $rs)"
    case Or(l, r) => for (ls <- toSql(l); rs <- toSql(r)) yield s"($ls OR $rs)"
    case Not(c) => toSql(c).map(s => s"(NOT $s)")
    case _ => None
  }

  // ------------------------------------------------------- parse (r14)
  /** Parse a WHERE-clause conjunction back into filters. STRICT: None
    * on any syntax error or construct outside the serializer's grammar
    * — the server 400s rather than scan with a partial predicate. Top-
    * level ANDs are flattened back into the array form the serializer
    * started from. */
  def parseWhere(text: String): Option[Array[Filter]] =
    parse(text).map(flattenAnd(_).toArray)

  private def flattenAnd(f: Filter): Seq[Filter] = f match {
    case And(l, r) => flattenAnd(l) ++ flattenAnd(r)
    case other => Seq(other)
  }

  /** One boolean expression → one [[Filter]]; standard precedence
    * OR < AND < NOT < comparison. */
  def parse(text: String): Option[Filter] = {
    val p = new WhereParser(text)
    try {
      val f = p.orExpr()
      p.skipWs()
      if (p.atEnd) Some(f) else None
    } catch { case _: WhereParseError => None }
  }

  private final class WhereParseError extends RuntimeException(null, null, false, false)

  /** Hand-rolled scanner+parser: ~the grammar `toSql` emits. Throws
    * [[WhereParseError]] (caught by [[parse]]) on any deviation. */
  private final class WhereParser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    private def fail(): Nothing = throw new WhereParseError
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1

    /** Case-insensitive keyword, must end at a word boundary. */
    private def keyword(kw: String): Boolean = {
      skipWs()
      if (i + kw.length > s.length) return false
      if (!s.regionMatches(true, i, kw, 0, kw.length)) return false
      val end = i + kw.length
      if (end < s.length && (s.charAt(end).isLetterOrDigit || s.charAt(end) == '_'))
        return false
      i = end; true
    }

    private def expect(c: Char): Unit = {
      skipWs()
      if (atEnd || s.charAt(i) != c) fail()
      i += 1
    }

    private def peek(c: Char): Boolean = { skipWs(); !atEnd && s.charAt(i) == c }

    private def ident(): String = {
      skipWs()
      val start = i
      if (atEnd || !(s.charAt(i).isLetter || s.charAt(i) == '_')) fail()
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      s.substring(start, i)
    }

    private def stringLit(): String = {
      skipWs()
      expect('\'')
      val sb = new StringBuilder
      while (true) {
        if (atEnd) fail()
        val c = s.charAt(i); i += 1
        if (c == '\'') {
          if (i < s.length && s.charAt(i) == '\'') { sb += '\''; i += 1 }
          else return sb.toString()
        } else sb += c
      }
      fail()
    }

    /** Literal → the value type the serializer started from (or an
      * equivalent under the endpoint's comparison semantics): integers
      * as Long, non-integers as Double (toString/parse round-trips are
      * value-exact for long/double/float), strings, DATE as LocalDate,
      * TIMESTAMP as LocalDateTime (compared at UTC — the engine-wide
      * session zone), booleans, NULL as null. */
    def literal(): Any = {
      skipWs()
      if (atEnd) fail()
      val c = s.charAt(i)
      if (c == '\'') return stringLit()
      if (c.isDigit || c == '-' || c == '+' || c == '.') return number()
      // word-shaped literal: NULL / TRUE / FALSE / DATE '…' / TIMESTAMP '…'
      val w = ident()
      w.toUpperCase(Locale.ROOT) match {
        case "NULL" => null
        case "TRUE" => java.lang.Boolean.TRUE
        case "FALSE" => java.lang.Boolean.FALSE
        case "DATE" =>
          val d = stringLit()
          try java.time.LocalDate.parse(d)
          catch { case _: java.time.format.DateTimeParseException => fail() }
        case "TIMESTAMP" =>
          val t = stringLit()
          try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          catch { case _: java.time.format.DateTimeParseException => fail() }
        case _ => fail()
      }
    }

    private def number(): Any = {
      skipWs()
      val start = i
      if (!atEnd && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      var sawDigit = false
      var sawDot = false
      var sawExp = false
      var done = false
      while (!done && i < s.length) {
        val c = s.charAt(i)
        if (c.isDigit) { sawDigit = true; i += 1 }
        else if (c == '.' && !sawDot && !sawExp) { sawDot = true; i += 1 }
        else if ((c == 'e' || c == 'E') && sawDigit && !sawExp) {
          sawExp = true; i += 1
          if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
        } else done = true
      }
      if (!sawDigit) fail()
      val tok = s.substring(start, i)
      try {
        if (sawDot || sawExp) java.lang.Double.valueOf(tok)
        else java.lang.Long.valueOf(tok)
      } catch { case _: NumberFormatException => fail() }
    }

    def orExpr(): Filter = {
      var f = andExpr()
      while (keyword("OR")) f = Or(f, andExpr())
      f
    }

    private def andExpr(): Filter = {
      var f = notExpr()
      while (keyword("AND")) f = And(f, notExpr())
      f
    }

    private def notExpr(): Filter =
      if (keyword("NOT")) Not(notExpr()) else primary()

    private def primary(): Filter = {
      skipWs()
      if (peek('(')) {
        expect('(')
        val f = orExpr()
        expect(')')
        f
      } else predicate()
    }

    private def predicate(): Filter = {
      val a = ident()
      skipWs()
      if (keyword("IS")) {
        if (keyword("NULL")) return IsNull(a)
        if (keyword("NOT")) {
          if (keyword("NULL")) return IsNotNull(a)
          if (keyword("DISTINCT") && keyword("FROM"))
            return EqualNullSafe(a, literal())
        }
        fail()
      }
      if (keyword("IN")) {
        expect('(')
        val vs = scala.collection.mutable.ArrayBuffer[Any](literal())
        while (peek(',')) { expect(','); vs += literal() }
        expect(')')
        return In(a, vs.toArray)
      }
      if (keyword("LIKE")) {
        val pat = stringLit()
        val starts = pat.startsWith("%")
        val ends = pat.endsWith("%")
        val f =
          if (starts && ends && pat.length >= 2) {
            val inner = pat.substring(1, pat.length - 1)
            if (likeSafe(inner)) StringContains(a, inner) else fail()
          } else if (ends) {
            val inner = pat.substring(0, pat.length - 1)
            if (likeSafe(inner)) StringStartsWith(a, inner) else fail()
          } else if (starts) {
            val inner = pat.substring(1)
            if (likeSafe(inner)) StringEndsWith(a, inner) else fail()
          } else fail()
        return f
      }
      if (atEnd) fail()
      val op2 = if (i + 1 < s.length) s.substring(i, i + 2) else ""
      if (op2 == ">=") { i += 2; return GreaterThanOrEqual(a, literal()) }
      if (op2 == "<=") { i += 2; return LessThanOrEqual(a, literal()) }
      s.charAt(i) match {
        case '=' => i += 1; EqualTo(a, literal())
        case '>' => i += 1; GreaterThan(a, literal())
        case '<' => i += 1; LessThan(a, literal())
        case _ => fail()
      }
    }
  }

  /** A literal in the grammar [[parse]] reads back; None for a value
    * with no form there (binary, non-finite floating point, …), whose
    * filter then stays unserialized and Spark applies it. */
  private def lit(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case s: org.apache.spark.unsafe.types.UTF8String => lit(s.toString)
    // the instant a Timestamp denotes, printed at UTC like an Instant:
    // the server reads a TIMESTAMP literal at UTC, and the Timestamp's
    // own toString prints it in the JVM's default zone
    case t: java.sql.Timestamp =>
      lit(DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp(t)))
    case d: java.sql.Date => Some(s"DATE '$d'")
    case i: java.time.Instant => Some(s"TIMESTAMP '${i.toString.replace("T", " ").stripSuffix("Z")}'")
    case ld: java.time.LocalDate => Some(s"DATE '$ld'")
    case ldt: java.time.LocalDateTime => Some(s"TIMESTAMP '${ldt.toString.replace("T", " ")}'")
    case n: java.lang.Number if !java.lang.Double.isFinite(n.doubleValue) => None
    case n @ (_: java.lang.Number | _: java.lang.Boolean) => Some(n.toString)
    case _ => None
  }
}
