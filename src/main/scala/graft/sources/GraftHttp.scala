package graft.sources

import java.net.{HttpURLConnection, InetAddress, InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ArrowBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.{GraftAuth, Jwt}

/** The loopback HTTP transport (SURVEY.md §2 A1/A5/A7; r12 verdict top
  * item): the reference's defining deployment is Arrow IPC over HTTP —
  * `GET /v1/query?q=<sql>&id=<qid>` with `Accept:
  * application/vnd.apache.arrow.stream` and `Authorization: Bearer
  * <jwt>` streaming a standard Arrow IPC stream
  * (/root/reference/src/http/arrow_http_client.cpp:37-115), `GET
  * /v1/plan?q=<sql>` returning a JSON split plan
  * (arrow_http_client.cpp:118-163, parsed in src/http/split_info.cpp),
  * `POST /v1/login` JSON → `{"accessToken": …}`
  * (src/scalar_function/dd_login.cpp:84-131), and best-effort `GET
  * /v1/cancel?q=&id=<qid>` (arrow_http_client.cpp:170-199, polled by
  * src/http/cancel_monitor.cpp).
  *
  * [[GraftHttpServer]] serves that protocol over a [[LocalParquetEndpoint]]
  * (or [[SqlEndpoint]] for `sql :=` requests) bound to the LOOPBACK
  * interface only — zero egress; the sandbox contract holds.
  * [[HttpEndpoint]] is the client: an [[Endpoint]] whose state is just
  * (url, token), so it serializes to executors like the reference
  * attaches (url, auth_token) to every split request, and each task
  * opens its own connection for its own split — N executors fetch N
  * splits concurrently, the remote parallel-scan contract.
  *
  * Wire body = genuine `application/vnd.apache.arrow.stream` (schema
  * message, record-batch messages, end-of-stream marker — framed by
  * [[ArrowBridge.writeIpcStream]]), readable by any arrow client, not
  * just this library.
  *
  * The `q` parameter is the authoritative wire query (what `dd_splits`
  * exposes and a real server parses with its SQL engine). A free-form
  * `q` alone IS executed (via [[SqlEndpoint]] — the server's engine).
  * For exact split scans the client sends the parsed form alongside
  * (`file`/`start`/`end`/`rgs`/`cols`/`where`/`exact`/`agg`
  * parameters) — ENGINE-NEUTRAL text since r14: `where` is the filters
  * serialized back to SQL (the reference's own FilterToSQL encoding,
  * read_arrow_dd.cpp:198-295, parsed server-side by
  * [[FilterSql.parseWhere]]), `exact` the same for the filters the
  * client dropped from its plan because `GET /v1/exact` reported them
  * exact (a split scan the server cannot apply them to exactly is a
  * 400), and `agg` is a small JSON spec ([[AggSpec.toJson]]). Any
  * HTTP client in any language can drive the split-scan route by hand
  * (GraftHttpSpec proves it with a string-concatenated URL), and the
  * server holds no ObjectInputStream deserialization surface.
  */
object GraftHttpProtocol {
  val ArrowContentType = "application/vnd.apache.arrow.stream"

  /** A client-error raised inside a route handler and mapped to a 400
    * response instead of the generic 500. */
  final class BadRequest(msg: String) extends RuntimeException(msg)

  /** The one JSON mapper of the protocol's readers (plan replies, login
    * bodies and replies, agg specs); thread-safe once configured, and
    * never reconfigured. */
  val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** Query-string → params (last occurrence wins; values URL-decoded). */
  def params(rawQuery: String): Map[String, String] =
    Option(rawQuery).filter(_.nonEmpty).map(_.split('&').toSeq).getOrElse(Nil)
      .flatMap { kv =>
        val i = kv.indexOf('=')
        if (i < 0) Some(kv -> "")
        else Some(kv.substring(0, i) -> URLDecoder.decode(kv.substring(i + 1), UTF_8))
      }.toMap

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Loopback Arrow-over-HTTP server: the reference protocol over the
  * tables in `dir`. Binds 127.0.0.1 on an ephemeral port; `start()`
  * runs the dispatcher as a DAEMON thread (status is inherited from the
  * starting thread) so a forgotten server can never wedge a JVM exit.
  *
  * `authRequired` models the reference server's policy: every route
  * except `/v1/login` verifies `Authorization: Bearer <jwt>` against
  * `secret` → 401 on missing/invalid/expired, same contract as
  * [[AuthEndpoint]]. Login delegates to the [[GraftAuth]] provider at
  * `authUrl`.
  *
  * `peers` (r14): base URLs of OTHER servers holding the same tables —
  * the plan's per-split `endpoints` array lists this server first and
  * the peers after it (split_info.cpp:44-81 carries several
  * interchangeable endpoints per split), so a client can fail over
  * when this server dies mid-fleet.
  *
  * Nagle's algorithm is off on the server's sockets: a reply's last
  * small chunk (a schema probe is one schema message and the
  * end-of-stream marker) otherwise waits for the client's delayed ACK,
  * tens of ms per request on loopback. The JDK reads
  * `sun.net.httpserver.nodelay` once, when the JVM's first `HttpServer`
  * is created, so [[start]] sets it before creating one; a server the
  * JVM created earlier fixes the setting for every later one. */
class GraftHttpServer(dir: String,
                      secret: String = GraftAuth.DefaultSecret,
                      authRequired: Boolean = true,
                      authUrl: String = GraftAuth.DefaultUrl,
                      peers: Seq[String] = Nil) {
  import GraftHttpProtocol._

  private val inner = new LocalParquetEndpoint(dir)
  private val active = new AtomicInteger(0)
  private val aborted = new AtomicInteger(0)
  private val cancels = new AtomicInteger(0)
  // per-plan nonce (r14, ADVICE): query ids are DETERMINISTIC (a hash
  // of the wire SQL), so two consumers re-issuing the same query share
  // an id — scoping cancels to (id, nonce) keeps one consumer's cancel
  // from truncating the other's streams. Monotonic per server.
  private val nonces = new AtomicLong(0L)
  // (id, nonce, split) → cancel-entry expiry; split -1 cancels the
  // whole plan, a split id only that split's stream (a task closing its
  // own split early must not fail its siblings). The TTL bounds the
  // blast radius to streams in flight around the cancel — the
  // reference's best-effort contract (cancel_monitor.cpp).
  private val cancelledIds =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long, Int), Long]()
  private val CancelTtlMillis = 60000L
  private val WholePlan = -1
  private def live(key: (Long, Long, Int)): Boolean = {
    val exp = cancelledIds.get(key)
    exp != 0L && {
      if (System.currentTimeMillis() < exp) true
      else { cancelledIds.remove(key); false }
    }
  }
  /** Whether the stream of `split` (or, for [[WholePlan]], the plan
    * itself) is cancelled. */
  private def isCancelled(id: Long, nonce: Long, split: Int): Boolean =
    live((id, nonce, WholePlan)) || (split != WholePlan && live((id, nonce, split)))
  private def registerCancel(id: Long, nonce: Long, split: Int): Unit = {
    cancels.incrementAndGet()
    cancelledIds.put((id, nonce, split), System.currentTimeMillis() + CancelTtlMillis)
  }
  @volatile private var server: HttpServer = _

  // in-flight (id, nonce) stream refcounts — the producer-side admin
  // view a real server keeps of its running statements; entries land
  // before the first frame and leave in the stream's finally. A
  // refcount, not a set: one plan's N splits stream concurrently
  // under ONE (id, nonce) and the handle must outlive the first
  // split that finishes.
  private val streaming =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), AtomicInteger]()
  // bounded ledger of statements this server has STARTED streaming —
  // the admin view that stays visible after a small result has already
  // been flushed into the socket (the live gauge's window can be
  // sub-millisecond for results that fit the kernel buffer, but the
  // CLIENT is still draining and the poll monitor still interrupts it)
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private def streamOpened(id: Long, nonce: Long): Unit = {
    if (streaming.computeIfAbsent((id, nonce), _ => new AtomicInteger(0))
        .incrementAndGet() == 1) {
      seen.add((id, nonce))
      while (seen.size() > 64) seen.poll()
    }
  }
  private def streamClosed(id: Long, nonce: Long): Unit =
    streaming.computeIfPresent((id, nonce),
      (_, c) => if (c.decrementAndGet() <= 0) null else c)

  /** In-flight /v1/query streams (gauge — the cancel spec's observable). */
  def activeScans: Int = active.get()
  /** The (query id, nonce) handles currently streaming — what a
    * producer-side admin cancels (r15: the poll-monitor entry's
    * kill-switch observable). */
  def activeStreams: Seq[(Long, Long)] = {
    val it = streaming.keySet().iterator()
    val b = Seq.newBuilder[(Long, Long)]
    while (it.hasNext) b += it.next()
    b.result()
  }
  /** Statements that have STARTED streaming (bounded ledger, newest
    * last) — the admin's kill-list even when the live gauge's window
    * has already closed. */
  def seenStatements: Seq[(Long, Long)] = {
    val it = seen.iterator()
    val b = Seq.newBuilder[(Long, Long)]
    while (it.hasNext) b += it.next()
    b.result()
  }
  /** Producer-side cancel of a running statement — what an admin (or
    * the producer's own resource governor) does; consumers learn of it
    * through the client-side [[CancelPollMonitor]]. */
  def cancelStatement(id: Long, nonce: Long): Unit = registerCancel(id, nonce, WholePlan)
  /** Streams terminated early by client disconnect or /v1/cancel. */
  def abortedScans: Int = aborted.get()
  /** /v1/cancel requests received (the task-close propagation observable). */
  def cancelsReceived: Int = cancels.get()

  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  def start(): this.type = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    s.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(tf))
    s.createContext("/v1/login", handler(login))
    s.createContext("/v1/query", handler(authed(query)))
    s.createContext("/v1/plan", handler(authed(plan)))
    s.createContext("/v1/exact", handler(authed(exact)))
    s.createContext("/v1/cancel", handler(authed(cancel)))
    server = s
    // the HTTP-Dispatcher thread inherits daemon status from its
    // creator: start from a daemon thread so Verify/Bench JVMs exit
    // even if an entry's shared server is never stopped
    val starter = new Thread(() => s.start(), "graft-http-starter")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    this
  }

  def stop(): Unit = Option(server).foreach(_.stop(0))

  // ------------------------------------------------------------ routes
  private def handler(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try f(ex)
        catch {
          // IOException is ambiguous here: a client that went away
          // mid-stream (headers already sent — respond() below fails
          // and is swallowed) or a server-side I/O error BEFORE any
          // response (e.g. a missing table's FileNotFoundException) —
          // the attempt distinguishes them, so a pre-response error is
          // a diagnosable 500, never a silent connection drop
          case e: Throwable =>
            val code = e match {
              case _: BadRequest => 400
              case _: UnsupportedOperationException => 400
              case _ => 500
            }
            val responded =
              try { respond(ex, code, s"graft-http: ${e.getMessage}"); true }
              catch { case _: Exception => false }
            if (responded)
              System.err.println(
                s"[graft-http] ${ex.getRequestURI.getPath} failed: $e")
        } finally ex.close()
    }

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "text/plain"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def authed(f: HttpExchange => Unit)(ex: HttpExchange): Unit =
    if (!authRequired) f(ex)
    else {
      val ok = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer "))
        .map(_.stripPrefix("Bearer "))
        .flatMap(t => Jwt.verify(t, secret, GraftAuth.nowSec()))
      if (ok.isDefined) f(ex)
      else respond(ex, 401,
        "graft-http: missing, invalid, or expired auth token")
    }

  /** POST /v1/login — body {"username":…,"password":…,"claims":{…}} →
    * {"accessToken":"<jwt>"} (dd_login.cpp:84-131). */
  private def login(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val root = Json.readTree(body)
    def str(n: String) = Option(root.get(n)).filter(_.isTextual).map(_.asText())
    val claims = Option(root.get("claims")).filter(_.isObject).toSeq.flatMap { c =>
      val it = c.fields()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .collect { case e if e.getValue.isTextual => e.getKey -> e.getValue.asText() }
        .toSeq
    }
    val token = for {
      u <- str("username"); p <- str("password")
      provider <- GraftAuth.resolve(authUrl)
      t <- provider.login(u, p, claims, GraftAuth.nowSec())
    } yield t
    token match {
      case Some(t) =>
        respond(ex, 200, s"""{"accessToken":${jsonStr(t)}}""", "application/json")
      case None => respond(ex, 401, "graft-http: login failed")
    }
  }

  /** GET /v1/cancel?q=&id=N[&nonce=M][&split=S] — best-effort:
    * in-flight /v1/query streams carrying that (id, nonce) stop at their
    * next frame (the reference's cancel monitor polls the same way,
    * cancel_monitor.cpp). The nonce comes from the plan's statement
    * handle; a cancel without one targets nonce-less streams only
    * (hand-built scans), never a planned consumer's. With `split`, only
    * that split's stream stops — what a task closing its split early
    * sends — and the plan stays live: the `check` probe, which the
    * consumers' poll monitors read, reports plan-wide cancels only. */
  private def cancel(ex: HttpExchange): Unit = {
    val p = params(ex.getRequestURI.getRawQuery)
    p.get("id").flatMap(_.toLongOption) match {
      case Some(id) =>
        val nonce = p.get("nonce").flatMap(_.toLongOption).getOrElse(0L)
        if (p.contains("check")) {
          // r15 cancel-STATE probe — what CancelPollMonitor polls
          // (the consumer-side twin of cancel_monitor.cpp's loop).
          // Read-only: never registers a cancel, never bumps the
          // cancels counter.
          respond(ex, 200,
            s"""{"cancelled":${isCancelled(id, nonce, WholePlan)}}""",
            "application/json")
        } else {
          registerCancel(id, nonce,
            p.get("split").flatMap(_.toIntOption).getOrElse(WholePlan))
          respond(ex, 200, "cancelled")
        }
      case None => respond(ex, 400, "graft-http: cancel requires id")
    }
  }

  private def endpointFor(p: Map[String, String]): (Endpoint, String) =
    p.get("sql") match {
      case Some(sql) => (new SqlEndpoint(dir, sql), s"($sql)")
      case None => (inner, p.getOrElse("table", ""))
    }

  /** The r14 engine-neutral filter wire form: `<param>=<SQL conjunction>`
    * parsed STRICTLY — unparseable text is a 400, never a partial
    * predicate (a dropped conjunct under an aggregate pushdown would
    * be a silently wrong answer). */
  private def parsedFilters(p: Map[String, String], param: String): Array[Filter] =
    p.get(param).filter(_.nonEmpty) match {
      case None => Array.empty[Filter]
      case Some(text) => FilterSql.parseWhere(text).getOrElse(
        throw new BadRequest(s"graft-http: unparseable $param clause: $text"))
    }

  /** The query a split, probe or plan request describes: `where` and
    * `exact` filters both apply, and the `exact` ones must apply exactly. */
  private def querySpec(p: Map[String, String], table: String): QuerySpec = {
    val cols = p.get("cols").filter(_.nonEmpty)
      .map(_.split(',').toArray[String]).getOrElse(Array.empty[String])
    val exact = parsedFilters(p, "exact")
    QuerySpec(table, cols, parsedFilters(p, "where") ++ exact, exact)
  }

  /** The columns of `full` that `spec` reads: all of them when it
    * names none. */
  private def projected(full: StructType, spec: QuerySpec): StructType =
    if (spec.requiredColumns.isEmpty) full
    else StructType(spec.requiredColumns.map(c => full(full.fieldIndex(c))))

  /** GET /v1/exact?table=…|sql=…&filters=<JSON array of SQL conditions>
    * → `{"exact":[…]}`: per condition, whether this server applies it
    * exactly ([[Endpoint.exactFilters]]). A client asks once per scan
    * build and drops the exact ones from its own plan. */
  private def exact(ex: HttpExchange): Unit = {
    val p = params(ex.getRequestURI.getRawQuery)
    val (ep, table) = endpointFor(p)
    val texts = p.get("filters").map { j =>
      val node = try Json.readTree(j) catch {
        case _: Exception => throw new BadRequest(s"graft-http: unparseable filters: $j")
      }
      if (node == null || !node.isArray)
        throw new BadRequest(s"graft-http: filters must be an array: $j")
      (0 until node.size()).map(i => Option(node.get(i)).filter(_.isTextual).map(_.asText())
        .getOrElse(throw new BadRequest(s"graft-http: filters must be SQL strings: $j")))
    }.getOrElse(Nil)
    val filters = texts.map(t => FilterSql.parse(t).getOrElse(
      throw new BadRequest(s"graft-http: unparseable filter: $t"))).toArray
    respond(ex, 200, ep.exactFilters(table, filters).mkString("""{"exact":[""", ",", "]}"),
      "application/json")
  }

  /** GET /v1/plan?q=<sql>&split_size=N&table=…|sql=…&cols=…&where=…&exact=… →
    * the reference's JSON plan shape: per split an `endpoints` array
    * (this server first, then its peers — the failover order) plus a
    * `descriptor.statement_handle` (split_info.cpp:44-81) carrying the
    * per-plan cancel nonce, with the split's row-group byte range as
    * the opaque handle detail. */
  private def plan(ex: HttpExchange): Unit = {
    val p = params(ex.getRequestURI.getRawQuery)
    val (ep, table) = endpointFor(p)
    val splitSize = p.get("split_size").flatMap(_.toLongOption)
      .getOrElse(128L * 1024 * 1024)
    val splits = ep.plan(table, querySpec(p, table), splitSize)
    val nonce = nonces.incrementAndGet()
    val endpoints = (url +: peers).map(jsonStr).mkString("[", ",", "]")
    val json = splits.map { s =>
      s"""{"endpoints":$endpoints,""" +
        s""""descriptor":{"statement_handle":{""" +
        s""""query":${jsonStr(s.query)},"producer_id":${jsonStr(s.producerId)},""" +
        s""""query_id":${s.queryId},"query_checksum":${jsonStr(s.queryChecksum)},""" +
        s""""nonce":$nonce}},""" +
        s""""split":{"split_id":${s.splitId},"file":${jsonStr(s.endpoint)},""" +
        s""""row_groups":[${s.rowGroups.mkString(",")}],""" +
        s""""start_byte":${s.startByte},"end_byte":${s.endByte},""" +
        s""""row_count":${s.rowCount}}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, json, "application/json")
  }

  /** A split locator handed back by the client must resolve INSIDE the
    * directory this server serves (the materialized-result cache in
    * sql mode) — otherwise an authenticated client could read any
    * parquet file on the host by forging `file` (ADVICE r13). Path
    * canonicalization defeats `..` and symlink traversal. */
  private def validatedFile(p: Map[String, String], file: String): String = {
    val root = if (p.contains("sql")) SqlEndpoint.cacheRoot else dir
    // locators may carry a `file:` URI scheme (hadoop Path strings do)
    val local = new org.apache.hadoop.fs.Path(file.stripPrefix("local://"))
      .toUri.getPath
    val canon = new java.io.File(local).getCanonicalPath
    val rootCanon = new java.io.File(root).getCanonicalPath
    if (canon == rootCanon ||
        canon.startsWith(rootCanon + java.io.File.separator)) file
    else throw new BadRequest(
      s"split file resolves outside the served directory ($canon vs $rootCanon)")
  }

  /** GET /v1/query — the Arrow stream route. Modes:
    *  - `limit=0`: schema probe — schema message + EOS, no scan (the
    *    reference binds schema by reading the stream header);
    *  - `file=…` sidecar: exact split scan (optionally `agg=…` — a
    *    JSON [[AggSpec]] — for the pushed-partial stream);
    *  - bare `q`: free-form SQL executed by the server's engine
    *    ([[SqlEndpoint]]), whole result streamed. */
  private def query(ex: HttpExchange): Unit = {
    val p = params(ex.getRequestURI.getRawQuery)
    val queryId = p.get("id").flatMap(_.toLongOption).getOrElse(-1L)
    val nonce = p.get("nonce").flatMap(_.toLongOption).getOrElse(0L)
    val splitId = p.get("split").flatMap(_.toIntOption).getOrElse(WholePlan)
    val structured = p.contains("table") || p.contains("sql")

    if (structured && p.get("limit").contains("0")) {
      // schema probe: schema message + EOS, no scan (the reference
      // binds schema by reading the stream header)
      val (ep, table) = endpointFor(p)
      val schema = projected(ep.schema(table), querySpec(p, table))
      ex.getResponseHeaders.set("Content-Type", ArrowContentType)
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      ArrowBridge.writeIpcStream(schema, Iterator.empty, out)
      out.close()
      return
    }

    val (schema: StructType, rows: CloseableIterator[InternalRow]) =
      if (structured) {
        // exact split scan — the sidecar params carry the parsed form
        val (ep, table) = endpointFor(p)
        val file = validatedFile(p, p.getOrElse("file",
          throw new BadRequest("file required for split scan")))
        // the split's own footer has the table's schema: no table
        // resolution (for `sql :=`, no re-materialization) per split
        val fullSchema = LocalParquetEndpoint.fileSchema(file)
        val spec = querySpec(p, table)
        val split = SplitInfo(
          endpoint = file, queryId = queryId, producerId = "graft-http",
          query = p.getOrElse("q", ""), queryChecksum = "",
          splitId = p.get("split").flatMap(_.toIntOption).getOrElse(0),
          rowGroups = p.get("rgs").filter(_.nonEmpty)
            .map(_.split(',').toSeq.map(_.toInt)).getOrElse(Nil),
          startByte = p.get("start").flatMap(_.toLongOption).getOrElse(0L),
          endByte = p.get("end").flatMap(_.toLongOption).getOrElse(Long.MaxValue),
          rowCount = 0L)
        val agg = p.get("agg").map(j => AggSpec.fromJson(j).getOrElse(
          throw new BadRequest(s"unparseable agg spec: $j")))
        (agg.fold(projected(fullSchema, spec))(_.outputSchema(fullSchema)),
          ep.read(split, spec, agg))
      } else {
        // free-form q: the server's engine executes it and streams the
        // whole result — the reference's plain (non-split) dd_read_arrow
        val q = p.getOrElse("q", "")
        if (q.isEmpty) { respond(ex, 400, "graft-http: q required"); return }
        val sqlEp = new SqlEndpoint(dir, q)
        val schema = sqlEp.schema(null)
        val qs = QuerySpec(s"($q)", schema.fieldNames, Array.empty)
        var current: CloseableIterator[InternalRow] = null
        val all = sqlEp.plan(null, qs, Long.MaxValue).iterator.flatMap { s =>
          current = sqlEp.read(s, qs, None); current
        }
        (schema, CloseableIterator(all, () => Option(current).foreach(_.close())))
      }
    val ipc = ArrowBridge.toIpc(rows, schema)

    active.incrementAndGet()
    if (queryId >= 0) streamOpened(queryId, nonce)
    ex.getResponseHeaders.set("Content-Type", ArrowContentType)
    ex.sendResponseHeaders(200, 0) // chunked — length unknown, stream live
    val out = ex.getResponseBody
    try {
      // frame-by-frame with a cancel check between frames: client
      // disconnect surfaces as IOException on the next write; a
      // /v1/cancel for this id stops at the next frame boundary
      val guarded = new Iterator[Array[Byte]] {
        override def hasNext: Boolean = {
          if (queryId >= 0 && isCancelled(queryId, nonce, splitId))
            throw new java.io.IOException(s"query $queryId cancelled")
          ipc.hasNext
        }
        override def next(): Array[Byte] = ipc.next()
      }
      ArrowBridge.writeIpcStream(schema, guarded, out)
      out.close()
    } catch {
      case e: java.io.IOException =>
        aborted.incrementAndGet()
        throw e
    } finally {
      rows.close()
      if (queryId >= 0) streamClosed(queryId, nonce)
      active.decrementAndGet()
    }
  }
}

/** The client: an [[Endpoint]] speaking the reference HTTP protocol.
  * State is (baseUrl, token, sql) — strings only, so the endpoint
  * serializes into Spark tasks and each task fetches its own split over
  * its own connection (read_arrow_dd.cpp attaches url+token to every
  * split request the same way). `sql` switches the server to `sql :=`
  * mode (the server executes it in its engine and serves the result's
  * splits). */
class HttpEndpoint(baseUrl: String, token: Option[String],
                   sql: Option[String] = None) extends Endpoint {
  import GraftHttpProtocol._

  private def base = baseUrl.stripSuffix("/")

  private def open(path: String, accept: String): HttpURLConnection =
    openAt(base, path, accept)

  private def openAt(at: String, path: String, accept: String): HttpURLConnection = {
    val conn = new URI(at.stripSuffix("/") + path).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    conn.setRequestProperty("Accept", accept)
    token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
    conn
  }

  /** Map error responses like [[AuthEndpoint]] does: 401 →
    * SecurityException (so auth failures are one exception class
    * whichever transport is in play), anything else non-200 → IO. */
  private def checked(conn: HttpURLConnection): HttpURLConnection = {
    val code = conn.getResponseCode
    if (code == 200) conn
    else {
      val body = Option(conn.getErrorStream)
        .map(s => new String(s.readAllBytes(), UTF_8)).getOrElse("")
      conn.disconnect()
      if (code == 401) throw new SecurityException(
        if (body.nonEmpty) body else "graft-http: unauthorized")
      else throw new java.io.IOException(s"graft-http: HTTP $code: $body")
    }
  }

  private def commonParams(query: QuerySpec): String = {
    val sb = new StringBuilder
    sb ++= s"q=${enc(query.toSql)}"
    sql match {
      case Some(s) => sb ++= s"&sql=${enc(s)}"
      case None => sb ++= s"&table=${enc(query.table)}"
    }
    if (query.requiredColumns.nonEmpty)
      sb ++= s"&cols=${enc(query.requiredColumns.mkString(","))}"
    // filters go over the wire as the SQL text the reference's
    // FilterToSQL produces (read_arrow_dd.cpp:198-295), parsed back by
    // FilterSql.parseWhere on the server — engine-neutral since r14;
    // those the client relies on the server to apply exactly go apart
    FilterSql.toConjunction(query.filters.filterNot(query.exact.contains))
      .foreach(w => sb ++= s"&where=${enc(w)}")
    FilterSql.toConjunction(query.exact).foreach(w => sb ++= s"&exact=${enc(w)}")
    sb.toString()
  }

  override def exactFilters(table: String, filters: Array[Filter]): Array[Boolean] = {
    val texts = filters.map(f => FilterSql.toSql(f).getOrElse(
      throw new IllegalArgumentException(s"graft-http: filter has no SQL form: $f")))
    val target = sql.map(s => s"sql=${enc(s)}").getOrElse(s"table=${enc(table)}")
    val conn = checked(open(
      s"/v1/exact?$target&filters=${enc(texts.map(jsonStr).mkString("[", ",", "]"))}",
      "application/json"))
    val body = try new String(conn.getInputStream.readAllBytes(), UTF_8)
      finally conn.disconnect()
    val answer = Json.readTree(body).get("exact")
    require(answer != null && answer.size() == filters.length,
      s"graft-http: /v1/exact answered $body for ${filters.length} filters")
    Array.tabulate(filters.length)(i => answer.get(i).asBoolean())
  }

  override def schema(table: String): StructType = {
    val conn = checked(open(
      s"/v1/query?${commonParams(QuerySpec(table, Array.empty, Array.empty))}&limit=0",
      ArrowContentType))
    val in = conn.getInputStream
    try ArrowBridge.readStreamSchema(java.nio.channels.Channels.newChannel(in))
    finally { in.close(); conn.disconnect() }
  }

  override def plan(table: String, query: QuerySpec,
                    splitSizeBytes: Long): Seq[SplitInfo] = {
    val conn = checked(open(
      s"/v1/plan?${commonParams(query)}&split_size=$splitSizeBytes",
      "application/json"))
    val body = try new String(conn.getInputStream.readAllBytes(), UTF_8)
      finally conn.disconnect()
    val root = Json.readTree(body)
    (0 until root.size()).map { i =>
      val o = root.get(i)
      val h = o.get("descriptor").get("statement_handle")
      val s = o.get("split")
      val eps = (0 until o.get("endpoints").size())
        .map(j => o.get("endpoints").get(j).asText())
      SplitInfo(
        endpoint = eps.head,
        queryId = h.get("query_id").asLong(),
        producerId = h.get("producer_id").asText(),
        query = h.get("query").asText(),
        queryChecksum = h.get("query_checksum").asText(),
        splitId = s.get("split_id").asInt(),
        rowGroups = (0 until s.get("row_groups").size())
          .map(j => s.get("row_groups").get(j).asInt()),
        startByte = s.get("start_byte").asLong(),
        endByte = s.get("end_byte").asLong(),
        rowCount = s.get("row_count").asLong(),
        file = s.get("file").asText(),
        altEndpoints = eps.tail,
        nonce = Option(h.get("nonce")).map(_.asLong()).getOrElse(0L))
    }
  }

  /** One split over the wire, with endpoint FAILOVER (r14): the plan's
    * `endpoints` array lists interchangeable servers (split_info.cpp:
    * 44-81); each is tried once, in order, and the scan moves to the
    * next on an I/O failure BEFORE the first record batch is delivered
    * (a connect refusal or a stream that dies in the header). After
    * data has flowed, a failure propagates instead — a silent restart
    * would duplicate delivered rows; Spark's task retry re-runs the
    * whole split cleanly and re-enters the failover ladder from the
    * top. */
  private def streamSplit(split: SplitInfo, query: QuerySpec,
                          agg: Option[AggSpec]): (StructType, CloseableIterator[Array[Byte]]) = {
    val aggParam = agg.map(a => s"&agg=${enc(AggSpec.toJson(a))}").getOrElse("")
    val path =
      s"/v1/query?${commonParams(query)}&id=${split.queryId}" +
        s"&nonce=${split.nonce}" +
        s"&split=${split.splitId}&file=${enc(split.file)}" +
        s"&rgs=${split.rowGroups.mkString(",")}" +
        s"&start=${split.startByte}&end=${split.endByte}$aggParam"
    val hosts = ((if (split.endpoint.startsWith("http")) Seq(split.endpoint)
                  else Seq(base)) ++ split.altEndpoints).distinct
    def openHost(at: String): (HttpURLConnection, StructType, Iterator[Array[Byte]]) = {
      val conn = checked(openAt(at, path, ArrowContentType))
      val in = java.nio.channels.Channels.newChannel(conn.getInputStream)
      // the schema message, then strict framing (r15): EOF without the
      // end-of-stream marker is an ERROR — a producer dying mid-stream
      // must never read as a short-but-valid result (silent truncation)
      val schema = ArrowBridge.readStreamSchema(in)
      (conn, schema, ArrowBridge.strictBatchesFromStream(in))
    }
    var hostIdx = 0
    var current: (HttpURLConnection, StructType, Iterator[Array[Byte]]) = null
    // producer-cancel poll (r15, cancel_monitor.cpp parity): register
    // this stream's (url, token, id, nonce) with the per-JVM monitor;
    // the poll follows failover via handle.url, and onCancel breaks a
    // BLOCKED read by dropping the live connection — checkCancelled
    // below turns the flag into the task-failing exception at the
    // next frame boundary either way
    val handle = CancelPollMonitor.register(
      hosts.head, token, split.queryId, split.nonce)
    def checkCancelled(): Unit =
      if (handle.isCancelled)
        throw new java.io.IOException(
          s"graft-http: query ${split.queryId} cancelled by producer")
    /** Open hosts(hostIdx), advancing past dead ones; rethrows the
      * failure only when no host is left. */
    def openNext(): Unit = {
      current = null
      while (current == null) {
        try {
          current = openHost(hosts(hostIdx))
          handle.url = hosts(hostIdx)
        } catch {
          case e: java.io.IOException =>
            if (hostIdx >= hosts.length - 1) throw e
            hostIdx += 1
        }
      }
    }
    try openNext()
    catch { case e: Throwable => CancelPollMonitor.unregister(handle); throw e }
    handle.onCancel = () =>
      Option(current).foreach(c =>
        try c._1.disconnect() catch { case _: Exception => })
    var delivered = false
    val it = new Iterator[Array[Byte]] {
      private def guard[A](body: => A): A =
        try body
        catch {
          case e: java.io.IOException =>
            // a producer cancel is terminal — never a failover retry.
            // The async poll may not have ticked yet when the stream
            // dies, so a failure additionally asks the producer
            // directly (one RTT) before being treated as a transport
            // fault — cancelled scans always fail ATTRIBUTED.
            checkCancelled()
            if (CancelPollMonitor.checkNow(handle)) checkCancelled()
            if (delivered || hostIdx >= hosts.length - 1) throw e
            try current._1.disconnect() catch { case _: Exception => }
            hostIdx += 1
            openNext()
            body
        }
      override def hasNext: Boolean = { checkCancelled(); guard(current._3.hasNext) }
      override def next(): Array[Byte] = {
        checkCancelled()
        val b = guard(current._3.next())
        delivered = true
        b
      }
    }
    (current._2, CloseableIterator(it, () => {
      CancelPollMonitor.unregister(handle)
      Option(current).foreach(_._1.disconnect())
    }))
  }

  /** One split's Arrow IPC record-batch messages as they come off the
    * wire, the stream's schema message skipped. */
  def scan(split: SplitInfo, query: QuerySpec): CloseableIterator[Array[Byte]] =
    streamSplit(split, query, None)._2

  /** One split's rows, decoded with the schema message at the stream's
    * head. A close before the end-of-stream marker (a limit, a killed
    * or failed task) also fires the reference's best-effort server-side
    * cancel (cancel_monitor.cpp): the disconnect alone stops the stream
    * at the server's next write, but an explicit /v1/cancel releases it
    * at the next FRAME even if the socket buffers would have absorbed
    * more (r14, verdict slate #2b). The cancel names this split only:
    * the plan's other splits (a limit written through a sink reads them
    * side by side) run on. */
  override def read(split: SplitInfo, query: QuerySpec,
                    agg: Option[AggSpec]): CloseableIterator[InternalRow] = {
    val (schema, wire) = streamSplit(split, query, agg)
    val rows = ArrowBridge.fromIpc(wire, schema)
    var ended = false
    CloseableIterator(new Iterator[InternalRow] {
      override def hasNext: Boolean = rows.hasNext || { ended = true; false }
      override def next(): InternalRow = rows.next()
    }, () => {
      wire.close()
      if (!ended) cancelQuery(split.queryId, split.nonce, Some(split.splitId))
    })
  }

  /** Best-effort server-side cancel of a (query id, plan nonce)
    * (arrow_http_client.cpp:170-199: errors ignored). The nonce scopes
    * the cancel to THIS plan's streams — ids are deterministic hashes
    * of the wire SQL, shared across consumers. With `splitId`, only that
    * split's stream is cancelled and the plan's other splits run on. */
  def cancelQuery(queryId: Long, nonce: Long = 0L, splitId: Option[Int] = None): Unit =
    try {
      val split = splitId.map(s => s"&split=$s").getOrElse("")
      val conn = open(s"/v1/cancel?q=&id=$queryId&nonce=$nonce$split", "text/plain")
      conn.getResponseCode
      conn.disconnect()
    } catch { case _: Exception => }
}

object HttpEndpoint {
  import GraftHttpProtocol._

  /** The dd_login flow over real HTTP: POST /v1/login, extract
    * accessToken (dd_login.cpp:84-131). Throws SecurityException on
    * bad credentials — same class as every other auth failure. */
  def login(baseUrl: String, username: String, password: String,
            claims: Seq[(String, String)] = Nil): String = {
    val conn = new URI(baseUrl.stripSuffix("/") + "/v1/login").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(30000)
    conn.setDoOutput(true)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/json")
    val claimsJson =
      if (claims.isEmpty) ""
      else claims.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
        .mkString(""","claims":{""", ",", "}")
    val body =
      s"""{"username":${jsonStr(username)},"password":${jsonStr(password)}$claimsJson}"""
    conn.getOutputStream.write(body.getBytes(UTF_8))
    val code = conn.getResponseCode
    if (code != 200) {
      conn.disconnect()
      throw new SecurityException(s"graft-http: login failed (HTTP $code)")
    }
    val resp = try new String(conn.getInputStream.readAllBytes(), UTF_8)
      finally conn.disconnect()
    val root = Json.readTree(resp)
    Option(root.get("accessToken")).filter(_.isTextual).map(_.asText())
      .getOrElse(throw new java.io.IOException(
        "graft-http: no accessToken in login response"))
  }
}

/** JVM-wide shared servers for entries/benches: one auth-required
  * loopback server per data directory, started on first use, daemon
  * dispatcher (see [[GraftHttpServer.start]]) so JVM exit is never
  * blocked. The registry is a bounded LRU ([[MaxServers]]): a
  * long-lived session touching many data directories evicts (and
  * STOPS) the least-recently-used server instead of accumulating
  * listeners forever; a later `shared()` on an evicted dir just
  * restarts it. */
object GraftHttpServers {
  /** Verify/Bench touch exactly one dir; 4 leaves slack for
    * multi-corpus sessions without ever hoarding sockets. */
  private val MaxServers = 4

  private val servers =
    new java.util.LinkedHashMap[String, GraftHttpServer](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, GraftHttpServer]): Boolean = {
        val evict = size() > MaxServers
        if (evict) e.getValue.stop()
        evict
      }
    }

  /** Start (once) and return the base URL of the shared server for
    * `dir`. */
  def shared(dir: String): String = sharedServer(dir).url

  /** The shared server INSTANCE — the producer-side admin view
    * (activeStreams / cancelStatement) the cancel-poll entry drives. */
  def sharedServer(dir: String): GraftHttpServer = synchronized {
    var s = servers.get(dir)
    if (s == null) {
      s = new GraftHttpServer(dir).start()
      servers.put(dir, s)
    }
    s
  }

  /** Live servers in the registry (spec hook for the LRU bound). */
  def activeCount: Int = synchronized(servers.size)

  def stopAll(): Unit = synchronized {
    servers.values.forEach(_.stop())
    servers.clear()
  }
}
