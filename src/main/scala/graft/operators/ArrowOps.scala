package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Loop
import graft.sources.{CancelPollMonitor, GraftArrow, GraftHttpServers, HttpEndpoint}

/** Oracle-checked entries for the graft-arrow DSv2 source (SURVEY.md §2
  * A1–A6): the same rows must come back through the endpoint (over
  * HTTP: Arrow IPC and the bridge) as a plain SQL scan of the parquet
  * file produces. The oracle is the *plain* query on purpose — pushdown
  * must be semantically invisible. */
object ArrowOps {

  /** A1–A3: projected + filtered scan through the endpoint. */
  def scan(spark: SparkSession, dir: String): DataFrame =
    GraftArrow.read(spark, dir, "lineitem")
      .filter(col("l_quantity") < 3)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  val scanSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_quantity < 3""".stripMargin

  /** A4: pushed COUNT/SUM/MIN/MAX partials merged by Spark. */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame =
    GraftArrow.read(spark, dir, "lineitem")
      .filter(col("l_discount") > 0.02)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"))

  val aggPushdownSql: String =
    """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
      |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      |FROM lineitem WHERE l_discount > 0.02""".stripMargin

  /** A4+ (r8): GROUPED aggregation pushdown — one partial row per
    * (split, group) crosses the wire instead of the raw data. This
    * EXCEEDS the reference optimizer's contract (it falls back local on
    * any GROUP BY — aggregation_pushdown.cpp); divergence recorded in
    * SURVEY §2/A4. sum(l_quantity) is exact (integer-valued doubles,
    * < 2⁵³), so partial merge order cannot perturb the hash. */
  def aggGroupBy(spark: SparkSession, dir: String): DataFrame =
    GraftArrow.read(spark, dir, "lineitem")
      .filter(col("l_discount") > 0.02)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"))
      .orderBy(col("l_returnflag"))

  val aggGroupBySql: String =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty,
      |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      |FROM lineitem WHERE l_discount > 0.02
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A6: the split plan itself. One packed split at test SFs (row groups
    * are ≤1M rows), so the oracle is the full row count. */
  def splits(spark: SparkSession, dir: String): DataFrame =
    GraftArrow.splits(spark, dir, "lineitem", splitSize = Long.MaxValue / 4)
      .select(col("split_id"), col("split_rows"))

  val splitsSql: String =
    "SELECT CAST(0 AS BIGINT) AS split_id, CAST(count(*) AS BIGINT) AS split_rows FROM lineitem"

  /** SQL-through-catalog: the reference's `SELECT … FROM
    * dd_read_arrow(…)` usage, as `SELECT … FROM graft.<table>`, with
    * the catalog registered in a session clone. */
  def sqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val scope = new Loop.Isolated(spark,
      "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.graft.dir" -> dir)
    scope.out(scope.session.sql(
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM graft.lineitem
        |WHERE l_discount > 0.05
        |GROUP BY l_returnflag""".stripMargin))
  }

  val sqlCatalogSql: String =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
      |FROM lineitem WHERE l_discount > 0.05
      |GROUP BY l_returnflag""".stripMargin

  /** A1 `sql :=` mode (reference read_arrow_dd.cpp:313-345): a
    * free-form server-side join + aggregate executed by the endpoint's
    * engine; the client scans its result set through parallel splits.
    * The oracle is the IDENTICAL query text run by DuckDB, so the text
    * must be engine-neutral (decimal-cast sum for order-independent
    * money totals — see Olap). */
  val sqlQueryText: String =
    """SELECT n.n_name AS nation, count(*) AS n_suppliers,
      |  CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY n.n_name""".stripMargin

  def sqlQuery(spark: SparkSession, dir: String): DataFrame =
    GraftArrow.readSql(spark, dir, sqlQueryText)

  /** A1 over REAL HTTP (r13): the full reference transport in one
    * gated entry — POST /v1/login mints the JWT (dd_login.cpp), every
    * subsequent request carries `Authorization: Bearer` past the
    * server's auth check, /v1/plan hands back the JSON split plan, and
    * each split streams back as a genuine
    * application/vnd.apache.arrow.stream over a loopback socket
    * (arrow_http_client.cpp). Oracle = the plain query: the transport
    * must be semantically invisible, exactly like pushdown. */
  def httpScan(spark: SparkSession, dir: String): DataFrame = {
    val url = GraftHttpServers.shared(dir)
    val token = HttpEndpoint.login(url, "admin", "admin",
      claims = Seq("database" -> "graft"))
    GraftArrow.readHttp(spark, url, "lineitem", Some(token))
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
  }

  val httpScanSql: String =
    """SELECT l_orderkey, l_partkey, l_quantity
      |FROM lineitem WHERE l_quantity >= 45""".stripMargin

  /** A4 over REAL HTTP: grouped aggregation pushdown where the
    * per-(split, group) PARTIAL rows cross the socket as Arrow batches
    * and Spark's final aggregation merges them — the
    * data-never-moves shape at its most valuable (a 100 TB remote
    * table answers a GROUP BY with kilobytes on the wire).
    * sum(l_quantity) is exact (integer-valued doubles < 2⁵³), so
    * partial merge order cannot perturb the hash. */
  def httpAgg(spark: SparkSession, dir: String): DataFrame = {
    val url = GraftHttpServers.shared(dir)
    val token = HttpEndpoint.login(url, "admin", "admin")
    GraftArrow.readHttp(spark, url, "lineitem", Some(token))
      .filter(col("l_quantity") > 25)
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy(col("l_linestatus"))
  }

  val httpAggSql: String =
    """SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
      |FROM lineitem WHERE l_quantity > 25
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** The reference's `sql :=` mode over REAL HTTP: the server's
    * engine executes the free-form query and the client scans the
    * RESULT's splits — same oracle as the in-process `arrow_sql_query`
    * (transport invisible, engine identical). */
  def httpSqlQuery(spark: SparkSession, dir: String): DataFrame = {
    val url = GraftHttpServers.shared(dir)
    val token = HttpEndpoint.login(url, "admin", "admin")
    GraftArrow.readHttpSql(spark, url, sqlQueryText, Some(token))
  }

  /** A-series r15 — the producer-cancel POLL leg
    * (/root/reference/src/http/cancel_monitor.cpp:42-56 + MonitorLoop):
    * the last transport-fidelity delta. The scan's tasks throttle
    * their first rows (so the stream is provably in flight for
    * seconds); a "producer admin" thread watches the server's
    * running-statement gauge and cancels the live (id, nonce)
    * SERVER-SIDE — never through the client; the client-side
    * [[CancelPollMonitor]] (registered by every HTTP split stream)
    * polls /v1/cancel?check= at the reference's 50 ms cadence, flags
    * the handle, and the owning Spark task dies at its next frame
    * with the attributed cancel error while the socket still held
    * unread frames. Timing margins are ~30×: the cancel lands within
    * ~10 ms of streaming start, the poll detects within ~100 ms, and
    * each task is throttled ≥1.5 s — poll detection is deterministic,
    * not a race. Observables (all must hold, and all are booleans the
    * oracle states as constants):
    *   cancel_issued  — the admin thread saw a running statement and
    *                    cancelled it server-side;
    *   job_cancelled  — the Spark action failed with the cancel
    *                    message in its cause chain;
    *   poll_detected  — the client monitor's poll (not a server
    *                    stream cut) observed the cancel;
    *   stream_closed  — the server's in-flight gauge drained to 0;
    *   monitor_drained — the client registry drained to 0 (the
    *                    reference's thread-exits-when-idle contract).
    */
  def httpCancelPoll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BooleanType
    val server = GraftHttpServers.sharedServer(dir)
    val url = server.url
    val token = HttpEndpoint.login(url, "admin", "admin")
    val observedBefore = CancelPollMonitor.cancelsObserved

    val throttled = GraftArrow.readHttp(spark, url, "lineitem", Some(token))
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(ScanThrottle.throttleUdf(col("l_orderkey")))

    @volatile var cancelIssued = false
    // watch the LEDGER, not the live gauge: a small result can be
    // flushed into the socket buffer in under a poll tick, closing the
    // live window before any watcher sees it — but the ledger keeps
    // the statement visible and the CLIENT is still draining for
    // ≥1.5 s (the throttle), so the poll still interrupts it
    val seenBefore = server.seenStatements.toSet
    val admin = new Thread(() => {
      // the producer-side admin: wait for this scan's statement, kill it
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cancelIssued && System.nanoTime() < deadline) {
        val fresh = server.seenStatements.filterNot(seenBefore)
        if (fresh.nonEmpty) {
          fresh.foreach { case (id, nonce) => server.cancelStatement(id, nonce) }
          cancelIssued = true
        } else Thread.sleep(5)
      }
    }, "graft-producer-admin")
    admin.setDaemon(true)
    admin.start()

    val outcome = scala.util.Try(throttled.count())
    admin.join(30000)
    if (!cancelIssued)
      System.err.println(s"[cancel-poll] admin never saw a running " +
        s"statement: outcome=$outcome activeScans=${server.activeScans} " +
        s"activeStreams=${server.activeStreams}")

    val jobCancelled = outcome.isFailure && {
      var t: Throwable = outcome.failed.get
      var found = false
      while (t != null && !found) {
        found = Option(t.getMessage).exists(_.contains("cancelled"))
        t = t.getCause
      }
      found
    }
    // diagnostic: a non-cancel outcome is the entry's own gate failing —
    // surface WHAT happened instead of silently writing `false`
    if (!jobCancelled) outcome match {
      case scala.util.Failure(e) =>
        System.err.println(s"[cancel-poll] job failed WITHOUT cancel attribution: $e")
        e.printStackTrace()
      case scala.util.Success(n) =>
        System.err.println(s"[cancel-poll] job COMPLETED ($n rows) despite cancel")
    }
    val pollDetected = CancelPollMonitor.cancelsObserved > observedBefore
    def drained(cond: => Boolean, timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000 * 1000
      var ok = cond
      while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
      ok
    }
    val streamClosed = drained(server.activeScans == 0, 10000)
    val monitorDrained = drained(CancelPollMonitor.registered == 0, 10000)

    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        cancelIssued, jobCancelled, pollDetected, streamClosed, monitorDrained)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cancel_issued", BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("job_cancelled", BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("poll_detected", BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("stream_closed", BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("monitor_drained", BooleanType, nullable = false))))
  }

  val httpCancelPollSql: String =
    """SELECT true AS cancel_issued, true AS job_cancelled,
      |  true AS poll_detected, true AS stream_closed,
      |  true AS monitor_drained""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "arrow_scan" -> scan _,
    "arrow_agg_pushdown" -> aggPushdown _,
    "arrow_agg_groupby" -> aggGroupBy _,
    "arrow_splits" -> splits _,
    "arrow_sql_catalog" -> sqlCatalog _,
    "arrow_sql_query" -> sqlQuery _,
    "arrow_http_scan" -> httpScan _,
    "arrow_http_agg" -> httpAgg _,
    "arrow_http_sql_query" -> httpSqlQuery _,
    "arrow_http_cancel_poll" -> httpCancelPoll _)

  val oracles: Map[String, String] = Map(
    "arrow_scan" -> scanSql,
    "arrow_agg_pushdown" -> aggPushdownSql,
    "arrow_agg_groupby" -> aggGroupBySql,
    "arrow_splits" -> splitsSql,
    "arrow_sql_catalog" -> sqlCatalogSql,
    "arrow_sql_query" -> sqlQueryText,
    "arrow_http_scan" -> httpScanSql,
    "arrow_http_agg" -> httpAggSql,
    "arrow_http_sql_query" -> sqlQueryText,
    "arrow_http_cancel_poll" -> httpCancelPollSql)
}

/** Per-task-attempt scan throttle for the cancel-poll entry: the
  * first [[MaxSleeps]] rows of each task attempt sleep [[SleepMs]],
  * guaranteeing the HTTP stream is in flight for ≥ MaxSleeps·SleepMs
  * (1.5 s) REGARDLESS of scale factor — total throttle is per task,
  * not per row, so the entry costs the same at sf0.001 and sf10.
  * Keyed by taskAttemptId (not ThreadLocal): Spark reuses pool
  * threads across bench reps, and a warm thread must not skip the
  * throttle. The map is cleaned when it outgrows a bound far above
  * any concurrent task count. */
object ScanThrottle {
  import org.apache.spark.sql.functions.udf
  private val MaxSleeps = 30
  private val SleepMs = 50L
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicInteger]()

  private def tick(): Boolean = {
    val id = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(-1L)
    val c = counts.computeIfAbsent(id,
      _ => new java.util.concurrent.atomic.AtomicInteger(0))
    if (c.incrementAndGet() <= MaxSleeps) Thread.sleep(SleepMs)
    if (counts.size() > 4096) counts.clear()
    true
  }

  /** Always-true filter; nondeterministic so the optimizer neither
    * prunes nor pushes it (rows must FLOW through the scan for the
    * cancel to land mid-stream — a pushed-down always-true or an
    * aggregate pushdown would leave nothing in flight). */
  def throttleUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((_: Long) => tick()).asNondeterministic()
}
