package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.sources.GraftHttpProtocol.BadRequest

/** Free-form `sql :=` mode of the graft-arrow source (SURVEY.md §2 A1;
  * reference /root/reference/src/scanner/read_arrow_dd.cpp:313-345:
  * `dd_read_arrow(url, sql := '…')` ships an arbitrary query to the
  * server, which executes it and streams the result — the client scans
  * the server's result set, not a named table).
  *
  * In-process analogue: the "server side" executes the query ONCE in the
  * directory's server session ([[SqlEndpoint.serverSession]], whose
  * default catalog is a [[GraftCatalog]] over the endpoint directory's
  * tables — the local stand-in for the remote server's query engine) and
  * materializes the result as parquet under the JVM temp dir, keyed by
  * (dir, sql, table-file state). Only queries run there: a text the
  * query grammar does not accept (`SET`, `CREATE TEMP VIEW`,
  * `EXECUTE IMMEDIATE`, a script, ...) is refused with a
  * [[GraftHttpProtocol.BadRequest]] before anything executes. From
  * there the whole table machinery is inherited unchanged:
  * row-group-aligned splits, projection/filter/aggregation pushdown —
  * i.e. the client scans the server-held result in parallel splits, the
  * remote contract.
  *
  * Scale posture: only driver-side schema()/exactFilters()/plan()
  * trigger the one-time server execution; executors never do —
  * read() resolves the part file from SplitInfo.endpoint alone
  * (inherited behavior). On a real deployment the materialized result
  * lives server-side and the client reads it through [[HttpEndpoint]],
  * which speaks the same trait.
  */
class SqlEndpoint(dir: String, sqlQuery: String)
    extends LocalParquetEndpoint(SqlEndpoint.cacheRoot) {
  // the cache table name is resolved at CALL time, never snapshotted:
  // a table rewrite between constructing the scan and planning it must
  // re-materialize, not read a stale (or missing) earlier key
  override def schema(ignored: String): StructType =
    super.schema(SqlEndpoint.materialize(dir, sqlQuery))

  override def plan(ignored: String, query: QuerySpec,
                    splitSizeBytes: Long): Seq[SplitInfo] =
    super.plan(SqlEndpoint.materialize(dir, sqlQuery), query, splitSizeBytes)

  override def exactFilters(ignored: String, filters: Array[Filter]): Array[Boolean] =
    super.exactFilters(SqlEndpoint.materialize(dir, sqlQuery), filters)
}

object SqlEndpoint {
  /** The server session's default catalog: unqualified table names in
    * the shipped sql resolve to the endpoint directory's tables. */
  private val Catalog = "graft_server"

  /** Server-side result cache. Deterministic (not per-process random) so
    * repeated reads of the same (dir, sql, data) across sessions reuse
    * the materialized result instead of re-executing. Layout:
    * `<cacheRoot>/<md5(dir,sql)>/<md5(table state)>.parquet` — new data
    * gets a new state key and the superseded siblings are evicted. */
  val cacheRoot: String =
    new java.io.File(System.getProperty("java.io.tmpdir"), "graft-sql-cache")
      .getAbsolutePath

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of the directory's table files — (name, length,
    * mtime) of every `*.parquet` entry, and of every part file inside
    * directory tables (a part rewritten in place changes its own
    * mtime even when the directory entry's doesn't). A change here
    * re-executes the query instead of serving stale rows — the
    * reference server has no result cache to go stale (it re-executes
    * per request), so staleness would be behavior the contract doesn't
    * allow. */
  private def tableState(fs: FileSystem, dirPath: Path): String =
    fs.listStatus(dirPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName.toString)
      .map { s =>
        val self = s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
        if (s.isDirectory) {
          val parts = fs.listStatus(s.getPath)
            .sortBy(_.getPath.getName.toString)
            .map(p => s"${p.getPath.getName}:${p.getLen}:${p.getModificationTime}")
            .mkString(",")
          s"$self{$parts}"
        } else self
      }
      .mkString("|")

  /** Server sessions kept, least recently used evicted first; one per
    * served directory, and a deployment serves a handful. */
  private val MaxSessions = 8

  private val sessions =
    new java.util.LinkedHashMap[String, SparkSession](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, SparkSession]): Boolean =
        size() > MaxSessions
    }

  /** The server session of `dir`: one `newSession()` of the active
    * session per served directory, configured once and shared by every
    * `sql :=` materialization over it (rebuilt only when the active
    * session runs on another SparkContext), so a request neither builds
    * nor leaves behind a session. Sharing is safe because only queries
    * run in it — [[queryOnly]] refuses every other text, so no request
    * changes its state for later ones. */
  private[sources] def serverSession(dir: String): SparkSession = sessions.synchronized {
    val active = SparkSession.active
    val cached = sessions.get(dir)
    if (cached != null && (cached.sparkContext eq active.sparkContext)) cached
    else {
      val server = active.newSession()
      // our endpoint reads INT64 timestamps only (no INT96)
      server.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      server.conf.set("spark.sql.session.timeZone", "UTC")
      // the reference server has its extension loaded, so shipped sql
      // may call dd_* functions — mirror that on the server session
      graft.functions.GraftFunctions.register(server)
      // tables resolve lazily through the graft catalog as the
      // session's default catalog, so only the tables the query names
      // get their footer read. Not spark.read.parquet: the server
      // reads its own tables with its own scanner (which also handles
      // TIMESTAMP(NANOS) files Spark's native reader rejects), and the
      // executed query benefits from the same pushdown as a table scan
      server.conf.set(s"spark.sql.catalog.$Catalog", classOf[GraftCatalog].getName)
      server.conf.set(s"spark.sql.catalog.$Catalog.dir", dir)
      server.conf.set("spark.sql.defaultCatalog", Catalog)
      sessions.put(dir, server)
      server
    }
  }

  /** `sql` as the one query it must be, trailing semicolons dropped.
    * An allow-list: the text must parse, whole, by the query grammar,
    * so a statement (SET, CREATE TEMP VIEW, USE, INSERT, ...), an
    * `EXECUTE IMMEDIATE` of one, or a multi-statement script — any of
    * which would change the shared server session for later requests —
    * is a [[GraftHttpProtocol.BadRequest]] before anything runs. */
  private def queryOnly(server: SparkSession, sql: String): String = {
    val query = sql.replaceAll("[\\s;]+$", "")
    try server.sessionState.sqlParser.parseQuery(query)
    catch { case e: ParseException => throw new BadRequest(s"sql := runs one query only: ${e.getMessage}") }
    query
  }

  // per-JVM single-flight: compute() serializes concurrent readers of
  // the same (dir, sql, state) while one materializes, and returns null
  // so no entry outlives the call — every call re-verifies the _SUCCESS
  // marker, because a later state's eviction may have deleted a result
  // this JVM materialized (data changed and then reverted to a prior
  // state).
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val materializeCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[materialize]] calls so far, cache hits included (a test
    * observable). */
  private[sources] def materializations: Long = materializeCalls.get()

  /** Execute the query `text` ([[queryOnly]]) against the directory's
    * tables and persist the result as
    * `<cacheRoot>/<sqlKey>/<stateKey>.parquet` (a directory of part
    * files — the layout [[LocalParquetEndpoint.partFiles]] already
    * splits across). Returns the cache-relative table name. Idempotent:
    * a completed materialization (_SUCCESS marker) is never re-run; a
    * partial one (crash mid-write) is overwritten; superseded state
    * keys of the same (dir, sql) are evicted once the new result is
    * complete, and their footers leave the [[FooterCache]] with them. */
  def materialize(dir: String, text: String): String = {
    materializeCalls.incrementAndGet()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(LocalParquetEndpoint.hadoopConf)
    // refused before the result cache is consulted: a non-query text is
    // a 400 even where an older build left a result for it
    val server = serverSession(dir)
    val sql = queryOnly(server, text)
    val sqlKey = md5(dir + "\u0000" + sql)
    val stateKey = md5(tableState(fs, dirPath))
    val table = s"$sqlKey/$stateKey"
    inFlight.compute(table, (_, _) => {
      val parent = fs.makeQualified(new Path(s"$cacheRoot/$sqlKey"))
      val out = new Path(parent, s"$stateKey.parquet")
      if (!fs.exists(new Path(out, "_SUCCESS")))
        server.sql(sql).write.mode("overwrite").parquet(out.toString)
      // evict superseded results of this (dir, sql) — old data's keys
      // accumulate in tmp otherwise. (An in-flight scan of a stale key
      // loses its files; the alternative is serving it silently-stale
      // data, and the reference contract re-executes per request.)
      fs.listStatus(parent)
        .filter(_.getPath.getName != s"$stateKey.parquet")
        .foreach { s => fs.delete(s.getPath, true); FooterCache.evictUnder(s.getPath) }
      null
    })
    table
  }
}
