package graft.sources

import java.net.{HttpURLConnection, URI}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrowBridge

import graft.SparkSpec
import graft.functions.{GraftAuth, Jwt}

/** The loopback HTTP Arrow-IPC transport (r12 verdict top item): login
  * flow, auth rejection on every route, scan/plan/agg parity with the
  * in-process endpoint, split-parallel fetch, raw-client stream
  * readability, and mid-stream cancel (both client-disconnect and
  * /v1/cancel). Mirrors the reference's HTTP contract
  * (src/http/arrow_http_client.cpp, src/scalar_function/dd_login.cpp,
  * src/http/cancel_monitor.cpp). */
class GraftHttpSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private lazy val server = new GraftHttpServer(dir).start()
  private lazy val url = server.url
  private lazy val token =
    HttpEndpoint.login(url, "admin", "admin", Seq("database" -> "graft"))

  private def plain(table: String) = spark.read.parquet(s"$dir/$table.parquet")

  test("login mints a verifiable JWT; wrong password is rejected (A7)") {
    val payload = Jwt.verify(token, GraftAuth.DefaultSecret, GraftAuth.nowSec())
    assert(payload.isDefined)
    assert(Jwt.field(payload.get, "sub").contains("admin"))
    assert(Jwt.field(payload.get, "database").contains("graft"))
    val e = intercept[SecurityException] {
      HttpEndpoint.login(url, "admin", "wrong")
    }
    assert(e.getMessage.contains("401"))
  }

  test("every data route rejects missing, garbage, and expired tokens") {
    val expired = Jwt.mint("admin", Nil, GraftAuth.DefaultSecret,
      issuedAtSec = GraftAuth.nowSec() - 7200, ttlSec = 3600)
    for (bad <- Seq(None, Some("garbage"), Some(expired))) {
      val ep = new HttpEndpoint(url, bad)
      val e = intercept[SecurityException] { ep.schema("lineitem") }
      assert(e.getMessage.contains("auth token"), s"token=$bad: ${e.getMessage}")
      intercept[SecurityException] {
        ep.plan("lineitem",
          QuerySpec("lineitem", Array.empty, Array.empty), Long.MaxValue)
      }
    }
  }

  test("HTTP scan parity with the native parquet reader") {
    val a = GraftArrow.readHttp(spark, url, "lineitem", Some(token))
    val p = plain("lineitem")
    assert(a.schema === p.schema)
    assert(a.count() === p.count())
    assert(a.exceptAll(p).count() === 0)
    assert(p.exceptAll(a).count() === 0)
  }

  test("projection + filter pushdown cross the socket and stay exact") {
    val a = GraftArrow.readHttp(spark, url, "lineitem", Some(token))
      .filter(col("l_quantity") < 3 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val p = plain("lineitem")
      .filter(col("l_quantity") < 3 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    assert(a.exceptAll(p).count() === 0)
    assert(p.exceptAll(a).count() === 0)
    assert(a.count() === p.count())
  }

  test("grouped aggregation pushdown ships partials over HTTP (A4)") {
    val a = GraftArrow.readHttp(spark, url, "lineitem", Some(token))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"),
        min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
    val desc = a.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregates"), s"agg should push:\n$desc")
    val p = plain("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"),
        min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
    assert(a.exceptAll(p).count() === 0)
    assert(p.exceptAll(a).count() === 0)
  }

  test("sql := mode over HTTP: the server's engine executes the query") {
    val q = """SELECT l_returnflag, count(*) AS n FROM lineitem
              |WHERE l_quantity < 10 GROUP BY l_returnflag""".stripMargin
    val a = GraftArrow.readHttpSql(spark, url, q, Some(token))
    val p = plain("lineitem").filter(col("l_quantity") < 10)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(a.exceptAll(p).count() === 0)
    assert(p.exceptAll(a).count() === 0)
  }

  test("a table rewritten in place is seen by schema, plan and scan through a running server") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-http-stale").toString
    LineitemFixture.writeSingleFile(spark.range(100).selectExpr("id", "id * 2 AS v"),
      s"$tmp/t.parquet")
    val srv = new GraftHttpServer(tmp).start()
    try {
      val ep = new HttpEndpoint(srv.url, Some(token))
      def check(first: Long, n: Int, fields: Seq[String]): Unit = {
        assert(ep.schema("t").fieldNames.toSeq === fields)
        assert(ep.plan("t", QuerySpec("t", Array("id"), Array.empty), 1L << 30)
          .map(_.rowCount).sum === n)
        val df = GraftArrow.readHttp(spark, srv.url, "t", Some(token))
        assert(df.schema.fieldNames.toSeq === fields)
        assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq === (first until first + n))
      }
      check(0L, 100, Seq("id", "v"))
      // same path, other rows, another column, another length
      LineitemFixture.writeSingleFile(
        spark.range(1000, 1250).selectExpr("id", "id * 3 AS v", "'x' AS tag"), s"$tmp/t.parquet")
      check(1000L, 250, Seq("id", "v", "tag"))
    } finally srv.stop()
  }

  test("sql := texts share one server session; a non-query text is a 400 and changes nothing") {
    // the server session is derived from the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val server = SqlEndpoint.serverSession(dir)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = ran.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    server.listenerManager.register(listener)
    try {
      // texts no earlier run materialized (the result cache outlives the JVM)
      val nonce = System.nanoTime()
      Seq(1, 2).foreach { k =>
        val q = s"SELECT count(*) + $nonce AS n, $k AS k FROM region"
        assert(GraftArrow.readHttpSql(spark, url, q, Some(token)).head.getLong(0) === 5 + nonce)
      }
      val deadline = System.currentTimeMillis() + 10000
      while (ran.get < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(ran.get >= 2, "both texts should execute in the directory's server session")
      assert(SqlEndpoint.serverSession(dir) eq server)

      def code(path: String): Int = {
        val conn = new URI(s"$url$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Authorization", s"Bearer $token")
        val c = conn.getResponseCode
        conn.disconnect(); c
      }
      val enc = GraftHttpProtocol.enc _
      val partitions = server.conf.get("spark.sql.shuffle.partitions")
      assert(code(s"/v1/query?q=${enc("SET spark.sql.shuffle.partitions=3")}") === 400)
      assert(code(s"/v1/plan?q=&sql=${enc("SET spark.sql.shuffle.partitions=3")}") === 400)
      assert(code(s"/v1/query?q=${enc("CREATE TEMP VIEW graft_probe AS SELECT 1 AS x")}") === 400)
      // statements that run inside analysis, and scripts, are refused too
      assert(code(s"/v1/query?q=${enc("EXECUTE IMMEDIATE 'SET spark.sql.shuffle.partitions=3'")}") === 400)
      assert(code(s"/v1/query?q=${enc(
        "EXECUTE IMMEDIATE 'CREATE TEMP VIEW graft_probe AS SELECT 1 AS x'")}") === 400)
      assert(code(s"/v1/query?q=${enc("SELECT 1 AS x; SET spark.sql.shuffle.partitions=3")}") === 400)
      assert(code(s"/v1/query?q=${enc(
        "BEGIN SET spark.sql.shuffle.partitions=3; SELECT 1 AS x; END")}") === 400)
      assert(code(s"/v1/query?q=${enc("SELEC 1")}") === 400)
      // one query with a trailing semicolon is still a query
      assert(code(s"/v1/query?q=${enc(s"SELECT count(*) + $nonce AS n FROM region;")}") === 200)
      assert(server.conf.get("spark.sql.shuffle.partitions") === partitions)
      assert(!server.catalog.tableExists("graft_probe"))
    } finally server.listenerManager.unregister(listener)
  }

  test("split-parallel read: one HTTP stream per row-group split") {
    // multi-row-group single file (the GraftArrowSpec A5 fixture)
    val tmp = java.nio.file.Files.createTempDirectory("graft-http-split").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try plain("lineitem").repartition(1).write.mode("overwrite").parquet(s"$tmp/out")
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/li.parquet"))
    val srv2 = new GraftHttpServer(tmp).start()
    try {
      val df = GraftArrow.readHttp(spark, srv2.url, "li", Some(token),
        splitSize = 1L)
      assert(df.rdd.getNumPartitions > 1,
        s"expected multiple splits, got ${df.rdd.getNumPartitions}")
      assert(df.count() === plain("lineitem").count())
    } finally srv2.stop()
  }

  // ---------------------------------------------------------- r14 wire
  // The engine-neutral contract: every parameter on the split-scan
  // route is SQL text, CSV, JSON, or a number — no JVM serialization —
  // so this test drives plan + split scan + pushed-aggregate scan with
  // STRING-CONCATENATED URLs and a raw JSON/Arrow reader, exactly what
  // a non-JVM client would do.
  test("a hand-built (non-JVM) client can drive the split-scan route") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def get(path: String): HttpURLConnection = {
      val conn = new URI(s"$url$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Authorization", s"Bearer $token")
      conn
    }
    val where = GraftHttpProtocol.enc("l_quantity >= 45 AND l_returnflag = 'R'")
    // 1. plan: JSON in, JSON out
    val planConn = get(s"/v1/plan?q=&table=lineitem&cols=l_orderkey,l_quantity&where=$where")
    assert(planConn.getResponseCode === 200)
    val plan = om.readTree(new String(planConn.getInputStream.readAllBytes(), "UTF-8"))
    planConn.disconnect()
    assert(plan.size() >= 1)
    val expected = plain("lineitem")
      .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
    // 2. every split via a hand-assembled URL; rows must union to the query
    var total = 0L
    for (i <- 0 until plan.size()) {
      val s = plan.get(i).get("split")
      val h = plan.get(i).get("descriptor").get("statement_handle")
      val u = s"/v1/query?q=&table=lineitem&cols=l_orderkey,l_quantity" +
        s"&where=$where&id=${h.get("query_id").asLong()}" +
        s"&nonce=${h.get("nonce").asLong()}" +
        s"&file=${GraftHttpProtocol.enc(s.get("file").asText())}" +
        s"&rgs=${(0 until s.get("row_groups").size()).map(s.get("row_groups").get(_).asInt()).mkString(",")}" +
        s"&start=${s.get("start_byte").asLong()}&end=${s.get("end_byte").asLong()}"
      val conn = get(u)
      assert(conn.getResponseCode === 200, new String(
        Option(conn.getErrorStream).map(_.readAllBytes()).getOrElse(Array.empty), "UTF-8"))
      val ch = java.nio.channels.Channels.newChannel(conn.getInputStream)
      val schema = ArrowBridge.readStreamSchema(ch)
      assert(schema.fieldNames.toSeq === Seq("l_orderkey", "l_quantity"))
      total += ArrowBridge.fromIpc(ArrowBridge.batchesFromStream(ch), schema).size
      conn.disconnect()
    }
    assert(total === expected.count())
    // 3. pushed-aggregate partials via a hand-written JSON agg spec
    val agg = GraftHttpProtocol.enc(
      """{"calls":[{"op":"count_star","col":""},{"op":"sum","col":"l_quantity"}]}""")
    val s0 = plan.get(0).get("split")
    val aggConn = get(s"/v1/query?q=&table=lineitem&where=$where" +
      s"&file=${GraftHttpProtocol.enc(s0.get("file").asText())}" +
      s"&start=0&end=${Long.MaxValue}&agg=$agg")
    assert(aggConn.getResponseCode === 200)
    val ach = java.nio.channels.Channels.newChannel(aggConn.getInputStream)
    val aschema = ArrowBridge.readStreamSchema(ach)
    assert(aschema.fieldNames.toSeq === Seq("count_star_0", "sum_1"))
    val arow = ArrowBridge.fromIpc(ArrowBridge.batchesFromStream(ach), aschema)
      .map(_.copy()).toVector
    aggConn.disconnect()
    assert(arow.length === 1)
    assert(arow.head.getLong(0) === expected.count())
    assert(arow.head.getDouble(1) ===
      expected.agg(sum(col("l_quantity"))).head.getDouble(0))
  }

  test("a planned sql := split scan takes its schema from the split's file, never re-materializing") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def get(path: String): HttpURLConnection = {
      val conn = new URI(s"$url$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Authorization", s"Bearer $token")
      conn
    }
    val q = "SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem WHERE l_quantity < 10"
    val sqlParam = s"q=&sql=${GraftHttpProtocol.enc(q)}"
    val expected = plain("lineitem").filter(col("l_quantity") < 10)
      .select("l_orderkey", "l_returnflag", "l_quantity")
    // the schema a split request projected before: the materialized table's
    val tableSchema = new SqlEndpoint(dir, q).schema(null)
    assert(tableSchema.fieldNames.toSeq === Seq("l_orderkey", "l_returnflag", "l_quantity"))
    val planConn = get(s"/v1/plan?$sqlParam")
    assert(planConn.getResponseCode === 200)
    val plan = om.readTree(new String(planConn.getInputStream.readAllBytes(), "UTF-8"))
    planConn.disconnect()
    assert(plan.size() >= 1)
    val files = (0 until plan.size()).map(i =>
      GraftHttpProtocol.enc(plan.get(i).get("split").get("file").asText()))

    def scan(extra: String): (org.apache.spark.sql.types.StructType, Seq[Seq[Any]]) = {
      val parts = files.map { f =>
        val conn = get(s"/v1/query?$sqlParam&file=$f&start=0&end=${Long.MaxValue}$extra")
        assert(conn.getResponseCode === 200)
        val ch = java.nio.channels.Channels.newChannel(conn.getInputStream)
        val schema = ArrowBridge.readStreamSchema(ch)
        val rows = ArrowBridge.fromIpc(ArrowBridge.batchesFromStream(ch), schema)
          .map(_.toSeq(schema).map {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case v => v
          }).toVector
        conn.disconnect()
        (schema, rows)
      }
      (parts.head._1, parts.flatMap(_._2))
    }
    def sorted(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|")).sorted
    val before = SqlEndpoint.materializations

    val (all, allRows) = scan("")
    assert(all === tableSchema)
    assert(sorted(allRows) === sorted(expected.collect().map(_.toSeq).toSeq))

    val (proj, projRows) = scan("&cols=l_quantity,l_orderkey")
    assert(proj.fieldNames.toSeq === Seq("l_quantity", "l_orderkey"))
    assert(proj.fields.toSeq ===
      Seq(tableSchema("l_quantity"), tableSchema("l_orderkey")))
    assert(sorted(projRows) === sorted(
      expected.select("l_quantity", "l_orderkey").collect().map(_.toSeq).toSeq))

    val agg = GraftHttpProtocol.enc(
      """{"calls":[{"op":"count_star","col":""},{"op":"sum","col":"l_quantity"}]}""")
    val (aschema, arows) = scan(s"&agg=$agg")
    assert(aschema.fieldNames.toSeq === Seq("count_star_0", "sum_1"))
    assert(arows.map(_.head.asInstanceOf[Long]).sum === expected.count())
    assert(arows.map(_(1).asInstanceOf[Double]).sum ===
      expected.agg(sum(col("l_quantity"))).head.getDouble(0))

    assert(SqlEndpoint.materializations === before,
      "a split request must not re-materialize the sql := result")
  }

  test("unparseable where text and agg JSON are a 400, never a partial scan") {
    def code(path: String): Int = {
      val conn = new URI(s"$url$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Authorization", s"Bearer $token")
      val c = conn.getResponseCode
      conn.disconnect(); c
    }
    assert(code(s"/v1/plan?q=&table=lineitem&where=${GraftHttpProtocol.enc("l_quantity >")}") === 400)
    assert(code(s"/v1/plan?q=&table=lineitem&where=${GraftHttpProtocol.enc("DROP TABLE x")}") === 400)
    assert(code(s"/v1/query?q=&table=region&file=${GraftHttpProtocol.enc(s"local://$dir/region.parquet")}" +
      s"&where=${GraftHttpProtocol.enc("r_name =")}") === 400)
    assert(code(s"/v1/query?q=&table=region&file=${GraftHttpProtocol.enc(s"local://$dir/region.parquet")}" +
      s"&agg=${GraftHttpProtocol.enc("""{"calls":[{"op":"explode","col":"x"}]}""")}") === 400)
  }

  test("a forged split locator outside the served directory is a 400 (ADVICE r13)") {
    def code(file: String): Int = {
      val conn = new URI(s"$url/v1/query?q=&table=lineitem" +
        s"&file=${GraftHttpProtocol.enc(file)}").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Authorization", s"Bearer $token")
      val c = conn.getResponseCode
      conn.disconnect(); c
    }
    // an existing parquet file the server does NOT serve
    assert(code(s"local://${sf("sf0.01")}/lineitem.parquet") === 400)
    // .. traversal back out of the served dir
    assert(code(s"local://$dir/../sf0.01/lineitem.parquet") === 400)
    // the legitimate locator still scans
    assert(code(s"local://$dir/lineitem.parquet") === 200)
  }

  test("scan fails over to the next endpoint when the first dies (r14)") {
    val backup = new GraftHttpServer(dir).start()
    val primary = new GraftHttpServer(dir, peers = Seq(backup.url)).start()
    try {
      val ep = new HttpEndpoint(primary.url, Some(token))
      val qs = QuerySpec("lineitem", Array("l_orderkey"), Array.empty)
      val splits = ep.plan("lineitem", qs, Long.MaxValue)
      assert(splits.head.altEndpoints === Seq(backup.url))
      primary.stop() // dies between plan and scan — the fleet contract
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_orderkey",
          org.apache.spark.sql.types.LongType)))
      var rows = 0L
      for (s <- splits) {
        val ipc = ep.scan(s, qs)
        try rows += ArrowBridge.fromIpc(ipc, schema).size
        finally ipc.close()
      }
      assert(rows === plain("lineitem").count())
      // both dead → the failure propagates (no silent empty scan)
      backup.stop()
      intercept[java.io.IOException] {
        val ipc = ep.scan(splits.head, qs)
        try ArrowBridge.fromIpc(ipc, schema).size finally ipc.close()
      }
    } finally { primary.stop(); backup.stop() }
  }

  test("a cancel with the wrong plan nonce never touches the stream") {
    val ep = new HttpEndpoint(bigServer.url, Some(token))
    val qs = QuerySpec("lineitem", Array.empty, Array.empty)
    val splits = ep.plan("lineitem", qs, Long.MaxValue)
    assert(splits.head.nonce > 0L, "plans must mint a nonce")
    val before = bigServer.abortedScans
    val stream = ep.scan(splits.head, qs)
    assert(stream.hasNext)
    stream.next()
    ep.cancelQuery(splits.head.queryId, splits.head.nonce + 999) // other consumer
    // the stream completes NORMALLY — the cancel was not for this plan
    var frames = 1
    while (stream.hasNext) { stream.next(); frames += 1 }
    stream.close()
    assert(frames > 1, "multi-batch fixture expected")
    assert(bigServer.abortedScans === before,
      "wrong-nonce cancel must not abort the stream")
  }

  test("task-side early close sends the best-effort server cancel (r14)") {
    val before = bigServer.cancelsReceived
    // limit(1) finishes the task long before the split is exhausted, so
    // PartitionReader.close fires the explicit /v1/cancel alongside the
    // disconnect
    val one = GraftArrow.readHttp(spark, bigServer.url, "lineitem", Some(token))
      .select(col("l_orderkey")).limit(1).collect()
    assert(one.length === 1)
    val deadline = System.currentTimeMillis() + 10000
    while (bigServer.cancelsReceived === before &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(bigServer.cancelsReceived > before,
      "early task close should propagate a /v1/cancel")
  }

  test("an early-closed split cancels only itself: a limit written through a sink succeeds") {
    // lineitem rewritten in ~1 MiB row groups, so a 1 MiB split size
    // plans many splits that the sink's tasks read side by side; each
    // task stops after its local limit and cancels its own split while
    // its siblings are still streaming
    val srv = new GraftHttpServer(LineitemFixture.dir(spark, sf("sf0.1"))).start()
    try {
      val df = GraftArrow.readHttp(spark, srv.url, "li", Some(token),
        splitSize = 1024L * 1024)
      assert(df.rdd.getNumPartitions >= 4,
        s"expected at least 4 splits, got ${df.rdd.getNumPartitions}")
      val before = srv.cancelsReceived
      df.limit(10).write.format("noop").mode("overwrite").save()
      assert(srv.cancelsReceived > before, "early-closed splits should send their cancel")
      // a plan-wide cancel still reaches every split
      val ep = new HttpEndpoint(srv.url, Some(token))
      val qs = QuerySpec("li", Array.empty, Array.empty)
      val splits = ep.plan("li", qs, 1024L * 1024)
      ep.cancelQuery(splits.head.queryId, splits.head.nonce, Some(splits.head.splitId))
      val sibling = ep.scan(splits(1), qs)
      try assert(sibling.size > 1, "a split cancel must leave the sibling streaming")
      finally sibling.close()
      ep.cancelQuery(splits.head.queryId, splits.head.nonce)
      val cancelled = ep.scan(splits(2), qs)
      try intercept[java.io.IOException](cancelled.foreach(_ => ()))
      finally cancelled.close()
    } finally srv.stop()
  }

  test("the all-types column repertoire crosses the socket bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-http-alltypes").toString
    val src = Seq(
      (1, 10, 100, 1000L, 1.5f, 2.5, "3.25", "123.456789", "2024-01-05", "a", true),
      (2, -20, -200, -2000L, -0.5f, 0.25, "10.75", "0.000001", "2023-06-30", "b", false),
      (3, 30, 300, 3000L, 2.0f, 4.0, "99.99", "7777.125000", "2025-12-31", "c", true))
      .toDF("tiny0", "small0", "int_col", "big_col", "float_col", "double_col",
        "dec0", "bigdec0", "date0", "str_col", "bool_col")
      .select(
        col("tiny0").cast(ByteType).as("tiny_col"),
        col("small0").cast(ShortType).as("small_col"),
        col("int_col"), col("big_col"), col("float_col"), col("double_col"),
        col("dec0").cast(DecimalType(9, 2)).as("dec_small"),
        col("bigdec0").cast(DecimalType(24, 6)).as("dec_big"),
        col("date0").cast(DateType).as("date_col"),
        col("str_col"), col("bool_col"))
    src.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/all_types.parquet"))
    val srv = new GraftHttpServer(tmp).start()
    try {
      val a = GraftArrow.readHttp(spark, srv.url, "all_types", Some(token))
      val p = spark.read.parquet(s"$tmp/all_types.parquet")
      assert(a.schema === p.schema)
      assert(a.exceptAll(p).count() === 0 && p.exceptAll(a).count() === 0)
      // decimal/date/byte aggregate PARTIALS over the wire, bit-exact
      val agg = a.agg(
        sum(col("tiny_col")).as("st"), sum(col("small_col")).as("ss"),
        sum(col("dec_small")).as("sd"), sum(col("dec_big")).as("sb"),
        min(col("date_col")).as("mnd"), max(col("str_col")).as("mxs"),
        min(col("bool_col")).as("mnb"), max(col("dec_big")).as("mxd"))
      assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates"),
        "all-types aggregates should push over HTTP")
      val exp = p.agg(
        sum(col("tiny_col")), sum(col("small_col")),
        sum(col("dec_small")), sum(col("dec_big")),
        min(col("date_col")), max(col("str_col")),
        min(col("bool_col")), max(col("dec_big"))).head
      assert(agg.head === exp)
      // date-range filter crosses as SQL text and stays exact
      val dcut = lit("2024-01-01").cast("date")
      assert(a.filter(col("date_col") >= dcut).count() ===
        p.filter(col("date_col") >= dcut).count())
    } finally srv.stop()
  }

  test("the wire is a standard Arrow IPC stream any client can read") {
    // raw HTTP GET — no library client machinery, just the protocol
    val q = GraftHttpProtocol.enc("SELECT count(*) AS n FROM region")
    val conn = new URI(s"$url/v1/query?q=$q").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Accept", GraftHttpProtocol.ArrowContentType)
    conn.setRequestProperty("Authorization", s"Bearer $token")
    assert(conn.getResponseCode === 200)
    assert(conn.getContentType === GraftHttpProtocol.ArrowContentType)
    val ch = java.nio.channels.Channels.newChannel(conn.getInputStream)
    val schema = ArrowBridge.readStreamSchema(ch)
    assert(schema.fieldNames.toSeq === Seq("n"))
    // copy: fromIpc rows are views over a reused arrow batch
    val rows = ArrowBridge.fromIpc(ArrowBridge.batchesFromStream(ch), schema)
      .map(_.copy()).toVector
    conn.disconnect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === plain("region").count())
  }

  // The cancel tests need a MULTI-batch stream under real TCP
  // backpressure to be non-vacuous: sf0.001 lineitem fits one 8192-row
  // batch, so use sf0.01 (~8 batches) with ALL columns (~800 KB frames
  // — far past the loopback socket buffer, so the server is still
  // mid-write when the client goes away).
  private lazy val bigServer = new GraftHttpServer(sf("sf0.01")).start()

  test("client disconnect mid-stream closes the server-side reader") {
    val ep = new HttpEndpoint(bigServer.url, Some(token))
    val qs = QuerySpec("lineitem", Array.empty, Array.empty) // all columns
    val splits = ep.plan("lineitem", qs, Long.MaxValue)
    assert(splits.nonEmpty)
    val before = bigServer.abortedScans
    val stream = ep.scan(splits.head, qs)
    assert(stream.hasNext) // at least one frame arrived
    stream.next()
    stream.close() // abandon mid-stream — the disconnect cancel path
    // the server notices on its next write and releases the scan
    val deadline = System.currentTimeMillis() + 10000
    while ((bigServer.activeScans > 0 || bigServer.abortedScans === before) &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(bigServer.activeScans === 0, "server-side scan not released")
    assert(bigServer.abortedScans > before,
      "disconnect should abort the in-flight stream (not finish it)")
  }

  test("/v1/cancel aborts an in-flight query id at the next frame") {
    val ep = new HttpEndpoint(bigServer.url, Some(token))
    val qs = QuerySpec("lineitem", Array.empty, Array.empty)
    val splits = ep.plan("lineitem", qs, Long.MaxValue)
    val before = bigServer.abortedScans
    val stream = ep.scan(splits.head, qs)
    assert(stream.hasNext)
    stream.next()
    // best-effort server-side cancel, scoped by the plan's nonce (r14)
    ep.cancelQuery(splits.head.queryId, splits.head.nonce)
    // the stream ends early (truncated — no EOS marker) or errors;
    // either way the server counts an abort and releases the reader
    try { while (stream.hasNext) stream.next() }
    catch { case _: Exception => }
    finally stream.close()
    val deadline = System.currentTimeMillis() + 10000
    while ((bigServer.abortedScans === before || bigServer.activeScans > 0) &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(bigServer.abortedScans > before, "cancel did not abort the stream")
    assert(bigServer.activeScans === 0)
  }

  test("shared-server registry serves entries and never blocks JVM exit") {
    val u1 = GraftHttpServers.shared(dir)
    val u2 = GraftHttpServers.shared(dir)
    assert(u1 === u2, "same dir must reuse one server")
    // dispatcher threads are daemons (started from a daemon thread) —
    // the Verify/Bench JVM-exit guarantee
    val dispatchers = Thread.getAllStackTraces.keySet().toArray(Array.empty[Thread])
      .filter(t => t.getName.contains("HTTP-Dispatcher"))
    assert(dispatchers.nonEmpty && dispatchers.forall(_.isDaemon),
      s"dispatcher threads must be daemons: ${dispatchers.map(t => s"${t.getName}:${t.isDaemon}").mkString(", ")}")
  }

  test("shared-server registry is a bounded LRU: eviction stops the listener") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lru").toFile
    val dirs = (1 to 5).map { i =>
      val d = new java.io.File(tmp, s"d$i"); d.mkdirs(); d.getAbsolutePath
    }
    val urls = dirs.map(GraftHttpServers.shared)
    // the cap is 4: the 5th start must have evicted AND stopped the 1st
    assert(GraftHttpServers.activeCount <= 4)
    val evicted = new java.net.URL(urls.head + "/v1/login")
    val ex = intercept[java.io.IOException] {
      val c = evicted.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(2000); c.setReadTimeout(2000)
      c.getResponseCode
    }
    assert(ex != null, "evicted server's socket must refuse connections")
    // the most recent 4 still serve (a connect succeeds, even if 4xx)
    val live = new java.net.URL(urls.last + "/v1/login")
    val c = live.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(2000); c.setReadTimeout(2000)
    assert(c.getResponseCode > 0)
    c.disconnect()
    // an evicted dir transparently restarts on next use
    val back = GraftHttpServers.shared(dirs.head)
    assert(back != urls.head || GraftHttpServers.activeCount <= 4)
  }

  test("structured streaming reads over HTTP: one micro-batch per split") {
    // the micro-batch source shares the endpoint abstraction, so the
    // HTTP transport composes with readStream for free — assert it:
    // split-mode streaming over the socket equals the batch read
    val sinkName = s"http_stream_${System.nanoTime()}"
    val q = spark.readStream.format("graft-arrow")
      .option("url", url)
      .option("table", "region")
      .option("token", token)
      .option("split", true)
      .load()
      .writeStream.format("memory").queryName(sinkName)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(sinkName)
    val p = plain("region")
    assert(streamed.count() === p.count())
    assert(streamed.exceptAll(p).count() === 0)
    assert(p.exceptAll(streamed).count() === 0)
  }

  // ---------------------------------------------------------- r15:
  // producer-cancel POLL monitor (cancel_monitor.cpp parity) + strict
  // IPC termination

  test("cancel-state check route is read-only and reports live state (r15)") {
    def check(id: Long, nonce: Long): String = {
      val c = new URI(s"${bigServer.url}/v1/cancel?check=&id=$id&nonce=$nonce")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestProperty("Authorization", s"Bearer $token")
      val body = new String(c.getInputStream.readAllBytes())
      c.disconnect(); body
    }
    val before = bigServer.cancelsReceived
    assert(check(987654L, 1L) === """{"cancelled":false}""")
    assert(bigServer.cancelsReceived === before,
      "a state CHECK must never register a cancel")
    bigServer.cancelStatement(987654L, 1L)
    assert(check(987654L, 1L) === """{"cancelled":true}""")
    assert(check(987654L, 2L) === """{"cancelled":false}""",
      "cancel state is (id, nonce)-scoped")
  }

  test("poll monitor flags a producer cancel and drains when idle (r15)") {
    val oldInterval = CancelPollMonitor.pollIntervalMillis
    CancelPollMonitor.pollIntervalMillis = 25L
    try {
      assert(CancelPollMonitor.registered === 0)
      @volatile var interrupted = false
      val h = CancelPollMonitor.register(
        bigServer.url, Some(token), 555001L, 42L)
      h.onCancel = () => interrupted = true
      assert(CancelPollMonitor.monitorRunning,
        "registering the first stream must start the monitor thread")
      assert(!h.isCancelled)
      // the PRODUCER cancels — the consumer learns of it by poll alone
      bigServer.cancelStatement(555001L, 42L)
      val deadline = System.currentTimeMillis() + 5000
      while (!h.isCancelled && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(h.isCancelled, "poll must flag the handle within the cadence")
      assert(interrupted, "poll must fire the owner's interrupt hook")
      // flagging auto-unregisters (reference erases on cancel); an idle
      // registry lets the thread exit — the reference's lifecycle
      val drainBy = System.currentTimeMillis() + 5000
      while ((CancelPollMonitor.registered > 0 ||
              CancelPollMonitor.monitorRunning) &&
             System.currentTimeMillis() < drainBy)
        Thread.sleep(10)
      assert(CancelPollMonitor.registered === 0)
      assert(!CancelPollMonitor.monitorRunning,
        "an idle monitor must exit its thread")
    } finally CancelPollMonitor.pollIntervalMillis = oldInterval
  }

  test("a producer cancel terminates the consuming Spark job, poll-driven (r15)") {
    val out = graft.operators.ArrowOps.httpCancelPoll(spark, dir).collect()(0)
    assert(out.getBoolean(0), "cancel_issued")
    assert(out.getBoolean(1), "job_cancelled — attributed cancel error")
    assert(out.getBoolean(2), "poll_detected — client poll saw the cancel")
    assert(out.getBoolean(3), "stream_closed — server gauge drained")
    assert(out.getBoolean(4), "monitor_drained — client registry drained")
  }

  test("strict IPC splitter: EOF without the EOS marker is an error (r15)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("v", LongType)))
    val rows = (1L to 20000L).iterator.map(v =>
      org.apache.spark.sql.catalyst.InternalRow(v))
    val bos = new java.io.ByteArrayOutputStream()
    ArrowBridge.writeIpcStream(schema,
      ArrowBridge.toIpc(rows, schema), bos)
    val full = bos.toByteArray
    def channel(bytes: Array[Byte]) = java.nio.channels.Channels.newChannel(
      new java.io.ByteArrayInputStream(bytes))
    // complete stream: strict splitter ≡ Spark's splitter
    val strict = ArrowBridge.strictBatchesFromStream(channel(full)).toSeq
    val loose = ArrowBridge.batchesFromStream(channel(full)).toSeq
    assert(strict.size === loose.size && strict.size >= 2)
    assert(strict.zip(loose).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
    // truncated at a clean message boundary (EOS marker cut): Spark's
    // splitter accepts silently; the strict one must throw
    val cut = full.dropRight(8)
    assert(ArrowBridge.batchesFromStream(channel(cut)).size === strict.size,
      "precondition: the loose splitter cannot see the truncation")
    val e = intercept[java.io.IOException] {
      ArrowBridge.strictBatchesFromStream(channel(cut)).size
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("read answers a split alike in process and over HTTP; an early close cancels it once") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // nulls in every column but the key, a string, a decimal, a date and
    // a TIMESTAMP(NANOS) column, in small row groups: several splits
    val tmp = java.nio.file.Files.createTempDirectory("graft-read").toString
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .optional(BINARY).as(L.stringType()).named("g")
      .optional(BINARY).as(L.stringType()).named("s")
      .optional(INT64).as(L.decimalType(2, 12)).named("dec")
      .optional(INT32).as(L.dateType()).named("d")
      .optional(INT64).as(L.timestampType(true, L.TimeUnit.NANOS)).named("ts")
      .named("mixed")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new Path(s"$tmp/mixed.parquet"))
      .withConf(conf).withType(schema).withRowGroupSize(16 * 1024L).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until 20000).foreach { i =>
      val g = gf.newGroup()
      g.add("id", i.toLong)
      if (i % 5 != 0) g.add("g", s"g${i % 7}")
      if (i % 3 != 0) g.add("s", s"row-$i")
      if (i % 4 != 0) g.add("dec", i * 137L - 500000L)
      if (i % 6 != 0) g.add("d", 18000 + i % 900)
      if (i % 7 != 3) g.add("ts", NanosFixture.tsNanos(i))
      writer.write(g)
    } finally writer.close()
    val srv = new GraftHttpServer(tmp).start()
    try {
      val local = new LocalParquetEndpoint(tmp)
      val http = new HttpEndpoint(srv.url, Some(token))
      def rows(ep: Endpoint, split: SplitInfo, q: QuerySpec, agg: Option[AggSpec]) = {
        val st = ep.read(split, q, agg)
        try st.map(_.copy()).toVector finally st.close()
      }
      val q = QuerySpec("mixed", Array("id", "g", "s", "dec", "d", "ts"), Array.empty)
      val agg = AggSpec(Seq(AggCall("count_star", ""), AggCall("count", "s"),
        AggCall("sum", "dec"), AggCall("min", "d"), AggCall("max", "ts")), Seq("g"))
      val localPlan = local.plan("mixed", q, 64 * 1024)
      val httpPlan = http.plan("mixed", q, 64 * 1024)
      assert(localPlan.size > 1, "several splits expected")
      assert(httpPlan.map(_.rowGroups) === localPlan.map(_.rowGroups))
      val raw = localPlan.zip(httpPlan).flatMap { case (l, h) =>
        val inProcess = rows(local, l, q, None)
        assert(inProcess.size === l.rowCount)
        assert(rows(http, h, q, None) === inProcess, s"rows of split ${l.splitId}")
        val partials = rows(local, l, q, Some(agg))
        assert(partials.size > 1, "one partial per group")
        assert(rows(http, h, q, Some(agg)) === partials, s"partials of split ${l.splitId}")
        inProcess
      }
      assert(raw.size === 20000)
      assert((1 until 6).forall(c => raw.exists(_.isNullAt(c))), "every nullable column has nulls")
      assert(raw.filterNot(_.isNullAt(5)).forall(r =>
        r.getLong(5) === NanosFixture.tsNanos(r.getLong(0).toInt) / 1000L))
      // drained to its end-of-stream marker: no cancel
      val before = srv.cancelsReceived
      val drained = http.read(httpPlan.head, q, None)
      try drained.foreach(_ => ()) finally drained.close()
      assert(srv.cancelsReceived === before, "a drained read must not cancel")
      // closed before it: exactly one split-scoped cancel
      val early = http.read(httpPlan.head, q, None)
      try { assert(early.hasNext); early.next() } finally early.close()
      assert(srv.cancelsReceived === before + 1, "an early-closed read cancels its split once")
    } finally srv.stop()
  }

  override def afterAll(): Unit = {
    try { server.stop(); bigServer.stop(); GraftHttpServers.stopAll() }
    finally super.afterAll()
  }
}
