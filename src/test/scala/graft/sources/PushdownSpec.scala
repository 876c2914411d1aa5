package graft.sources

import java.net.{HttpURLConnection, URI}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter => FilterNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pushed predicates are paid once. The endpoint says which filters it
  * applies exactly, and those leave Spark's plan, so WHERE-bearing
  * aggregates push down in-process, over HTTP and inside the server's
  * `sql :=` query. Parquet's dictionary row-group filter runs only for
  * equality and IN leaves, IN lists are one set lookup per row, and
  * pushed double comparisons keep Spark's signed-zero and NaN
  * semantics. Every result is checked against Spark's parquet reader. */
class PushdownSpec extends SparkSpec {
  private lazy val root = graft.Scratch.dir("pushdown_spec")

  override def afterAll(): Unit = {
    try graft.Scratch.delete(root) finally super.afterAll()
  }

  /** `df` written as the table `<root>/<name>/<table>.parquet` (a
    * directory of part files); returns the served directory. */
  private def table(name: String, table: String, df: DataFrame): String = {
    val dir = s"$root/$name"
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    dir
  }

  /** 600 rows over long, string, NTZ and LTZ timestamp, date, decimal
    * and double columns, each null on its own share of the rows. */
  private lazy val typedDir = table("typed", "pd", spark.range(600).select(
    col("id"),
    when(col("id") % 7 =!= 0, col("id") * 3).as("k"),
    when(col("id") % 5 =!= 0, concat(lit("s"), (col("id") % 13).cast("string"))).as("s"),
    when(col("id") % 11 =!= 0, (col("id") % 4).cast("string")).as("g"),
    when(col("id") % 9 =!= 0, expr("timestamp_ntz '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id, 0, 0)")).as("ntz"),
    when(col("id") % 8 =!= 0, expr("timestamp_ltz '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id, 0, 0)")).as("ltz"),
    when(col("id") % 6 =!= 0, expr("date '2024-01-01' + CAST(id % 90 AS INT)")).as("d"),
    (col("id") / 7).cast(DecimalType(10, 2)).as("dec"),
    when(col("id") % 10 =!= 0, col("id") / 64.0).as("dbl")))

  private def noFilterNode(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case f: FilterNode => f }.isEmpty

  private def pushedAgg(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("PushedAggregates")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** The WHERE clauses every pushed aggregate runs under: each filter
    * is exact, so no `Filter` stays above the scan. */
  private val exactWheres = Seq(
    "k > 300 AND k IS NOT NULL",
    "s = 's3' OR s IS NULL",
    "s IN ('s1', 's2', 's12')",
    "ntz >= timestamp_ntz '2024-01-01 05:00:00'",
    "ltz < timestamp_ltz '2024-01-01 04:10:00'",
    "d BETWEEN date '2024-01-10' AND date '2024-02-10'",
    "g IS NULL OR k < 90")

  /** Flat and grouped aggregates under `where`. */
  private def aggs(df: DataFrame, where: String): Seq[DataFrame] = {
    val f = df.filter(expr(where))
    val calls = Seq(count(lit(1)).as("n"), sum(col("k")).as("sk"), min(col("s")).as("mn"),
      max(col("ltz")).as("mx"), sum(col("dec")).as("sd"), count(col("dbl")).as("cd"))
    Seq(f.agg(calls.head, calls.tail: _*), f.groupBy(col("g")).agg(calls.head, calls.tail: _*))
  }

  private def checkPushed(read: String => DataFrame, how: String): Unit = {
    val plain = spark.read.parquet(s"$typedDir/pd.parquet")
    exactWheres.foreach { w =>
      aggs(read("pd"), w).zip(aggs(plain, w)).foreach { case (a, p) =>
        assert(pushedAgg(a), s"$how: the aggregate under `$w` should push:\n${a.queryExecution.executedPlan}")
        assert(noFilterNode(a), s"$how: no Filter should stay above the scan under `$w`:\n" +
          a.queryExecution.optimizedPlan)
        assert(rows(a) === rows(p), s"$how: aggregate under `$w`")
      }
    }
    // a decimal, double or UDF filter stays with Spark, and so does the
    // aggregate, and the result is still right
    val twice = udf((x: Long) => x * 2)
    Seq(col("dec") > 20, col("dbl") < 4.5, twice(col("id")) > 500L).foreach { c =>
      val a = read("pd").filter(c).groupBy(col("g")).agg(count(lit(1)), sum(col("k")))
      val p = plain.filter(c).groupBy(col("g")).agg(count(lit(1)), sum(col("k")))
      assert(!noFilterNode(a) && !pushedAgg(a), s"$how: `$c` keeps its Filter and a local aggregate")
      assert(rows(a) === rows(p), s"$how: aggregate under `$c`")
    }
  }

  test("the endpoint decides exactness filter by filter") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(INT32).as(L.intType(8, true)).named("i8")
      .optional(INT32).named("i32")
      .optional(INT32).as(L.dateType()).named("d")
      .optional(INT64).named("i64")
      .optional(INT64).as(L.timestampType(true, L.TimeUnit.MICROS)).named("us")
      .optional(INT64).as(L.timestampType(false, L.TimeUnit.MILLIS)).named("ms")
      .optional(INT64).as(L.timestampType(false, L.TimeUnit.NANOS)).named("ns")
      .optional(BINARY).as(L.stringType()).named("s")
      .optional(FLOAT).named("f")
      .optional(DOUBLE).named("dbl")
      .optional(INT64).as(L.decimalType(2, 12)).named("dec")
      .optional(INT32).as(L.intType(32, false)).named("u32")
      .optional(BOOLEAN).named("b")
      .named("t")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val exact = Seq(
      EqualTo("i8", 3.toByte), LessThan("i32", 7), GreaterThanOrEqual("i32", 7L),
      EqualTo("d", java.time.LocalDate.of(2024, 1, 5)),
      EqualTo("d", java.sql.Date.valueOf("2024-01-05")),
      LessThanOrEqual("i64", 9L), GreaterThan("us", java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000001")),
      GreaterThan("us", t0.toInstant(java.time.ZoneOffset.UTC)), LessThan("ms", t0.plusNanos(2000000)),
      EqualTo("s", "x"), In("s", Array("x", "y", null)), In("i64", Array(1L, 2L, 3L)),
      IsNull("f"), IsNotNull("dbl"), IsNull("ns"), IsNotNull("dec"), IsNull("u32"), IsNotNull("b"),
      And(GreaterThan("i32", 1), Or(EqualTo("s", "x"), IsNull("s"))))
    val inexact = Seq(
      EqualTo("f", 0.5f), GreaterThan("dbl", 0.0), In("dbl", Array(0.0, 1.0)),
      LessThan("ns", t0), EqualTo("dec", new java.math.BigDecimal("1.25")), LessThan("u32", 5),
      EqualTo("b", true), LessThan("ms", t0.plusNanos(1500000)), GreaterThan("i32", 2.5),
      GreaterThan("i32", 5000000000L), EqualTo("d", 5L), EqualTo("i64", "x"),
      StringStartsWith("s", "x"), Not(EqualTo("s", "x")), EqualNullSafe("s", "x"),
      In("s", Array[Any](null)), And(GreaterThan("i32", 1), LessThan("dbl", 2.0)),
      Or(EqualTo("s", "x"), EqualTo("f", 1f)), EqualTo("missing", 1))
    exact.foreach(f => assert(ParquetFilters.exact(f, schema), s"$f should be exact"))
    inexact.foreach(f => assert(!ParquetFilters.exact(f, schema), s"$f should not be exact"))
    // float and double leaves still translate: they prune and are
    // checked per row, and Spark evaluates them again
    Seq(EqualTo("f", 0.5f), GreaterThan("dbl", 0.0))
      .foreach(f => assert(ParquetFilters.translatable(f, schema), s"$f should translate"))
    // a NANOS column is emitted as truncated micros: its comparisons
    // stay with Spark, its null tests translate
    Seq(LessThan("ns", t0), EqualTo("ns", t0), In("ns", Array(t0)))
      .foreach(f => assert(!ParquetFilters.translatable(f, schema), s"$f should not translate"))
    assert(ParquetFilters.translatable(IsNull("ns"), schema))
  }

  test("comparisons on a TIMESTAMP(NANOS) column keep every row Spark keeps") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    // ten rows at t0 + i µs + 500 ns, read back as t0 + i µs
    val dir = s"$root/nanos"
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .required(INT64).as(L.timestampType(false, L.TimeUnit.NANOS)).named("ts")
      .named("ns")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val t0Nanos = t0.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/ns.parquet"))
      .withConf(conf).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until 10).foreach { i =>
      writer.write(gf.newGroup().append("id", i.toLong).append("ts", t0Nanos + i * 1000L + 500L))
    } finally writer.close()
    val ns = GraftArrow.read(spark, dir, "ns")
    val t5 = lit(t0.plusNanos(5000))
    assert(ns.filter(col("ts") <= t5).count() === 6L)
    assert(ns.filter(col("ts") === t5).count() === 1L)
    assert(ns.filter(col("ts") > t5).count() === 4L)
    assert(ns.filter(col("ts").isin(t0.plusNanos(5000), t0.plusNanos(7000))).count() === 2L)
    assert(ns.filter(col("ts").isNotNull).count() === 10L)
  }

  test("a literal with no SQL form stays with Spark: BINARY and non-finite filters agree in-process and over HTTP") {
    import spark.implicits._
    val dir = table("bin", "bin", Seq(
        (1L, Array[Byte](1), 1.0), (2L, Array[Byte](3), Double.NaN),
        (3L, Array[Byte](3, 0), Double.PositiveInfinity), (4L, Array[Byte](7), -1.0))
      .toDF("id", "b", "x"))
    Seq(EqualTo("b", Array[Byte](3)), EqualTo("x", Double.NaN), LessThan("x", Double.PositiveInfinity),
        GreaterThan("x", Double.NegativeInfinity), EqualTo("x", Float.NaN),
        In("x", Array(1.0, Double.NaN))).foreach { f =>
      assert(FilterSql.toSql(f).isEmpty, s"$f has no SQL form")
    }
    // finite doubles keep theirs, and it parses back to the same value
    Seq(-0.0, 1e-300, Double.MaxValue, Double.MinPositiveValue).foreach { v =>
      assert(FilterSql.toSql(EqualTo("x", v)).flatMap(FilterSql.parse) === Some(EqualTo("x", v)))
    }
    val preds = Seq(col("b") === lit(Array[Byte](3)), col("x") === lit(Double.NaN),
      col("x") < lit(Double.PositiveInfinity), col("x") > lit(Double.NegativeInfinity))
    val want = Seq(1L, 1L, 2L, 4L)
    val plain = spark.read.parquet(s"$dir/bin.parquet")
    assert(preds.map(plain.filter(_).count()) === want)
    assert(preds.map(GraftArrow.read(spark, dir, "bin").filter(_).count()) === want)
    val server = new GraftHttpServer(dir, authRequired = false).start()
    try assert(preds.map(GraftArrow.readHttp(spark, server.url, "bin").filter(_).count()) === want)
    finally server.stop()
  }

  test("a pushed timestamp literal goes over the wire at UTC, whatever the JVM's zone") {
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00.000001Z"))
    val zone = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try assert(FilterSql.toSql(LessThan("ts", t)) === Some("ts < TIMESTAMP '2024-01-01 00:00:00.000001'"))
    finally java.util.TimeZone.setDefault(zone)
  }

  test("filtered aggregates push in-process, flat and grouped, null rows and IS [NOT] NULL included") {
    checkPushed(GraftArrow.read(spark, typedDir, _), "in-process")
  }

  test("filtered aggregates push over HTTP and inside the server's sql := query") {
    val server = new GraftHttpServer(typedDir, authRequired = false).start()
    try {
      checkPushed(GraftArrow.readHttp(spark, server.url, _), "http")
      // the server runs a sql := text in its own session, where the
      // filtered grouped aggregate pushes too
      val text = "SELECT g, count(*) AS n, sum(k) AS sk FROM pd " +
        "WHERE ntz < timestamp_ntz '2024-01-01 07:00:00' AND s IS NOT NULL GROUP BY g"
      val served = SqlEndpoint.serverSession(typedDir).sql(text)
      assert(pushedAgg(served) && noFilterNode(served),
        s"the server's sql := query should push its filtered aggregate:\n" +
          served.queryExecution.executedPlan)
      spark.read.parquet(s"$typedDir/pd.parquet").createOrReplaceTempView("pd")
      try assert(rows(GraftArrow.readHttpSql(spark, server.url, text)) === rows(spark.sql(text)))
      finally spark.catalog.dropTempView("pd")
    } finally server.stop()
  }

  test("an IN list of ~5000 keys equals Spark's parquet reader, in-process and over HTTP") {
    val dir = sf("sf0.01")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    val keys = (1 to 60000 by 12).map(_.toLong)
    assert(keys.size === 5000)
    def q(df: DataFrame) = df.filter(col("l_orderkey").isin(keys: _*))
      .agg(count(lit(1)), sum(col("l_quantity")), min(col("l_orderkey")), max(col("l_orderkey")))
    val expected = q(plain).head
    assert(expected.getLong(0) > 0)
    val local = q(GraftArrow.read(spark, dir, "lineitem"))
    assert(pushedAgg(local) && noFilterNode(local), s"${local.queryExecution.executedPlan}")
    assert(local.head === expected)
    val server = new GraftHttpServer(dir, authRequired = false).start()
    try assert(q(GraftArrow.readHttp(spark, server.url, "lineitem")).head === expected)
    finally server.stop()
  }

  test("pushed double and float comparisons keep Spark's signed zeros and NaN") {
    import spark.implicits._
    val dir = table("zeros", "z", Seq(-0.0, 0.0, 1.0, Double.NaN, -1.0).toDF("x")
      .select(col("x"), col("x").cast(FloatType).as("y")))
    val plain = spark.read.parquet(s"$dir/z.parquet")
    val arrow = GraftArrow.read(spark, dir, "z")
    Seq("x", "y").foreach { c =>
      Seq(col(c) === 0.0, col(c) >= 0.0, col(c).isin(0.0, 5.0), col(c) <= -0.0, col(c) > 0.5)
        .foreach { p =>
          assert(arrow.filter(p).count() === plain.filter(p).count(), s"$p")
        }
    }
    // the endpoint itself keeps both zeros: Spark cannot bring back a
    // row the endpoint dropped
    val ep = new LocalParquetEndpoint(dir)
    def scanned(f: Filter): Long = {
      val query = QuerySpec("z", Array("x"), Array(f))
      ep.plan("z", query, Long.MaxValue).map { split =>
        val st = ep.read(split, query, None)
        try st.size.toLong finally st.close()
      }.sum
    }
    assert(scanned(EqualTo("x", 0.0)) === 2L)
    assert(scanned(GreaterThanOrEqual("x", 0.0)) === 4L)
    assert(scanned(In("x", Array(0.0, 5.0))) === 2L)
    assert(scanned(EqualTo("y", 0.0f)) === 2L)
  }

  test("range-only predicates prune on statistics; an equality still drops a group its dictionary lacks") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    // one dictionary-encoded row group holding 10, 30 and 50 only
    val dir = s"$root/dict"
    val schema = Types.buildMessage().required(INT64).named("k").named("dict")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/dict.parquet"))
      .withConf(conf).withType(schema).withDictionaryEncoding(true).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until 3000).foreach(i => writer.write(gf.newGroup().append("k", 10L + 20L * (i % 3))))
    finally writer.close()
    val ep = new LocalParquetEndpoint(dir)
    def decodedUnder(f: Filter): (Long, Long) = {
      val query = QuerySpec("dict", Array("k"), Array(f))
      val before = LocalParquetEndpoint.rowsDecoded
      val n = ep.plan("dict", query, Long.MaxValue).map { split =>
        val st = ep.read(split, query, None)
        try st.size.toLong finally st.close()
      }.sum
      (LocalParquetEndpoint.rowsDecoded - before, n)
    }
    // 20 lies inside the group's min/max: only its dictionary rules it out
    assert(decodedUnder(EqualTo("k", 20L)) === ((0L, 0L)))
    assert(decodedUnder(In("k", Array(20L, 40L))) === ((0L, 0L)))
    // ranges: the statistics drop the group or keep it
    assert(decodedUnder(GreaterThan("k", 50L)) === ((0L, 0L)))
    assert(decodedUnder(GreaterThanOrEqual("k", 30L)) === ((3000L, 2000L)))
    assert(decodedUnder(EqualTo("k", 30L)) === ((3000L, 1000L)))
    // which predicates run the dictionary filter at all
    val pschema = FooterCache.footer(new Path(s"$dir/dict.parquet")
      .getFileSystem(LocalParquetEndpoint.hadoopConf).getFileStatus(new Path(s"$dir/dict.parquet")))
      .getFileMetaData.getSchema
    def dictionary(f: Filter) =
      ParquetFilters.usesDictionary(ParquetFilters.translate(Array(f), pschema).get)
    assert(dictionary(EqualTo("k", 20L)) && dictionary(In("k", Array(20L, 40L))))
    assert(dictionary(Or(LessThan("k", 5L), EqualTo("k", 20L))))
    assert(!dictionary(And(GreaterThan("k", 5L), LessThan("k", 45L))))
    assert(!dictionary(IsNull("k")) && !dictionary(IsNotNull("k")))
  }

  test("a split scan carrying an exact filter the server cannot apply exactly is a 400") {
    val server = new GraftHttpServer(typedDir, authRequired = false).start()
    val enc = GraftHttpProtocol.enc _
    def get(path: String): (Int, String) = {
      val conn = new URI(s"${server.url}$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
      try {
        val code = conn.getResponseCode
        val body = Option(if (code == 200) conn.getInputStream else conn.getErrorStream)
          .map(s => new String(s.readAllBytes(), "UTF-8")).getOrElse("")
        (code, body)
      } finally conn.disconnect()
    }
    try {
      // the exactness route, as a hand-built client asks it
      val filters = enc("""["k > 5","dbl < 0.5","dec > 5.0","s IS NULL","s LIKE 'x%'"]""")
      assert(get(s"/v1/exact?table=pd&filters=$filters") ===
        ((200, """{"exact":[true,false,false,true,false]}""")))
      assert(get(s"/v1/exact?table=pd&filters=${enc("""["k >"]""")}")._1 === 400)
      assert(get(s"/v1/exact?table=pd&filters=${enc("""{"k":1}""")}")._1 === 400)
      val plan = new HttpEndpoint(server.url, None)
        .plan("pd", QuerySpec("pd", Array("id"), Array.empty), Long.MaxValue)
      val file = enc(plan.head.file)
      def split(params: String) =
        get(s"/v1/query?q=&table=pd&cols=id&file=$file&start=0&end=${Long.MaxValue}$params")
      assert(split(s"&exact=${enc("k > 5")}")._1 === 200)
      assert(split(s"&where=${enc("dbl < 0.5")}&exact=${enc("k > 5")}")._1 === 200)
      val (code, body) = split(s"&exact=${enc("k > 5 AND dbl < 0.5")}")
      assert(code === 400 && body.contains("dbl < 0.5"), body)
      assert(split(s"&exact=${enc("dec > 5.0")}")._1 === 400)
      // a pushed aggregate applies every filter; one marked exact must be
      val agg = enc("""{"calls":[{"op":"count_star","col":""}]}""")
      assert(split(s"&where=${enc("dbl < 0.5")}&agg=$agg")._1 === 200)
      assert(split(s"&exact=${enc("dbl < 0.5")}&agg=$agg")._1 === 400)
      // the client marks what it dropped, and the rows stay exact
      val q = QuerySpec("pd", Array("id"), Array(GreaterThan("k", 5L), LessThan("dbl", 0.5)),
        Array(GreaterThan("k", 5L)))
      val ids = plan.flatMap { s =>
        val st = new HttpEndpoint(server.url, None).read(s, q, None)
        try st.map(_.getLong(0)).toVector finally st.close()
      }
      val expected = spark.read.parquet(s"$typedDir/pd.parquet")
        .filter(col("k") > 5 && col("dbl") < 0.5).select("id").collect().map(_.getLong(0))
      assert(ids.sorted === expected.toSeq.sorted)
    } finally server.stop()
  }
}
