package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.{BloomBlob, GraftFunctions}
import graft.sources.{GraftArrow, GraftHttpServer, HttpEndpoint, QuerySpec}

/** One benchmark run in one JVM: set up the workload once (timed from
  * JVM start), drive its closed loop for the configured seconds, check
  * every request's output digest, and write the raw samples as JSON for
  * `run.py` to reduce into metrics. The program is only called through
  * its public entry points; nothing here changes its behaviour.
  *
  * Usage: perfbench.Main <config.json>. Exit 3 = preflight failure
  * (unknown or empty entry list), before any measurement. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val DigestMask = 0xFFFFFFFFFFL

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times. */
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Records read by all tasks (data-source rows), always on. */
  val recordsRead = new AtomicLong(0L)

  final case class Rec(id: Int, name: String, kind: String, family: String,
                       pass: Int, client: Int, traced: Boolean,
                       startMs: Double, buildEndMs: Double, endMs: Double,
                       cpuS: Double, count: Long, hash: Long, error: String,
                       released: Int)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val workload = cfg.get("workload").asText()
    val entries = strings(cfg.get("entries"))
    val probes = cfg.get("probe_entries").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val isFed = workload == "federated_scan"
    // preflight: every named entry must exist and a pass workload must
    // name at least one, or the run would silently measure nothing
    val known = SparkEntry.queries.keySet
    val missing = (entries ++ probes.values).filterNot(known.contains)
    if (missing.nonEmpty) fail(s"entries missing from SparkEntry.queries: ${missing.mkString(",")}")
    if (!isFed && entries.isEmpty) fail(s"workload $workload has an empty entry list")
    if (isFed && (cfg.get("fed_passes").size() == 0 || cfg.get("fed_passes").get(0).size() == 0))
      fail("federated_scan has an empty request list")

    val dir = cfg.get("data_dir").asText()
    val cores = cfg.get("cores").asInt()
    val seconds = cfg.get("seconds").asDouble()
    val traced = cfg.get("trace").asInt() == 1
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val tmpBefore = listDir(tmp)

    // ---- set-up, timed from JVM start: class loading and one-time
    // static initialisation count, as a user starting the program sees
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val session = new Session(cfg, cores, dir, isFed)
    session.warmUp()
    val setupS = (nowMs - t0) / 1000.0
    val spark = session.spark

    val recs = ArrayBuffer.empty[Rec]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer(spark)
    val fed = if (isFed) Some(new Federated(session, cfg.get("fed_passes"))) else None
    val orders = cfg.get("orders").elements().asScala.map(strings).toVector

    def runPass(p: Int, tracedPass: Boolean): Unit = {
      val c0 = cpuS; val w0 = nowMs; val r0 = recordsRead.get(); val n0 = recs.size
      fed match {
        case Some(f) => recs ++= f.runPass(p, tracedPass)
        case None => for (name <- orders(p % orders.size))
            recs += runEntry(spark, dir, name, recs.size, p, tracedPass)
      }
      passes += Map("pass" -> p, "wall_s" -> (nowMs - w0) / 1000.0, "cpu_s" -> (cpuS - c0),
        "records_read" -> (recordsRead.get() - r0), "requests" -> (recs.size - n0),
        "traced" -> tracedPass)
    }

    // ---- the warm-up passes fill the JIT and the workload's caches;
    // they are checked but not timed. Then whole passes run while at
    // least half of the next one fits in `seconds`, so the window
    // averages `seconds` instead of overrunning it by half a pass. A
    // traced run spends the first half untraced and the second half
    // traced, so tracing overhead is measured in the same JVM.
    val warmup = cfg.get("warmup_passes").asInt()
    (0 until warmup).foreach(runPass(_, false))
    var p = warmup
    def window(span: Double, tracedPass: Boolean): Unit = {
      val w0 = nowMs
      val p0 = p
      def fits = (nowMs - w0) / 1000.0 + passes.last("wall_s").asInstanceOf[Double] / 2 < span
      while (p == p0 || fits) { runPass(p, tracedPass); p += 1 }
    }
    window(if (traced) seconds / 2 else seconds, tracedPass = false)
    if (traced) {
      tracer.attach()
      window(seconds / 2, tracedPass = true)
    }

    // ---- outside the window: expected digests, per-layer probes
    val e0 = nowMs
    val expected = fed.map(_.expectedDigests()).getOrElse(Map.empty)
    val expectedS = (nowMs - e0) / 1000.0
    val layers: Map[String, Any] = if (!traced) Map.empty else {
      val probeRecs = ArrayBuffer.empty[Rec]
      val present = recs.map(_.family).toSet
      for ((family, entry) <- probes.toSeq.sortBy(_._1) if !present.contains(family))
        probeRecs += runEntry(spark, cfg.get("aux_dir").asText(), entry, recs.size + probeRecs.size, -1, true)
      recs ++= probeRecs
      tracer.drain()
      val replayDir = if (isFed) dir else cfg.get("aux_dir").asText()
      val replay = new Replay(session, replayDir, fed.map(_.passes.head).getOrElse(Replay.probeSpecs))
      Map("replay" -> replay.run(), "functions" -> Probes.functions(),
        "kernels" -> Probes.kernels(spark, cfg.get("aux_dir").asText()),
        "server" -> fed.map(_.serverCounters).getOrElse(Map.empty),
        "tracer" -> tracer.summary(recs.toSeq))
    }
    if (traced) tracer.writeSpans(Paths.get(cfg.get("spans_out").asText()), recs.toSeq)

    val context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "java_version" -> sys.props("java.version"),
      "spark_version" -> spark.version)
    // retained heap after a full collection (session still open, so
    // blocks a request left cached count), then scratch left on disk
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val mem = Runtime.getRuntime
    val heapMb = (mem.totalMemory() - mem.freeMemory()) / 1048576.0
    session.close()
    val leakedMb = listDir(tmp).filterNot(tmpBefore.contains).map(p => sizeOf(p)).sum / 1048576.0

    val out = Map(
      "context" -> context, "setup_s" -> setupS,
      "passes" -> passes.toSeq, "requests" -> recs.map(recJson).toSeq,
      "expected" -> expected, "expected_s" -> expectedS, "heap_retained_mb" -> heapMb,
      "disk_leaked_mb" -> leakedMb, "layers" -> layers)
    Files.writeString(Paths.get(cfg.get("out").asText()), mapper.writeValueAsString(out))
    sys.exit(0)
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] preflight: $msg")
    sys.exit(3)
  }

  def strings(n: JsonNode): Vector[String] =
    if (n == null) Vector.empty else n.elements().asScala.map(_.asText()).toVector

  def listDir(p: Path): Set[Path] =
    if (!Files.isDirectory(p)) Set.empty
    else { val s = Files.list(p); try s.iterator().asScala.toSet finally s.close() }

  def sizeOf(p: Path): Long =
    try { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => Files.size(f)).sum finally s.close() }
    catch { case _: java.io.IOException => 0L }

  def recJson(r: Rec): Map[String, Any] = Map(
    "id" -> r.id, "name" -> r.name, "kind" -> r.kind, "family" -> r.family,
    "pass" -> r.pass, "client" -> r.client, "traced" -> r.traced,
    "start_ms" -> r.startMs, "build_end_ms" -> r.buildEndMs, "end_ms" -> r.endMs,
    "cpu_s" -> r.cpuS, "count" -> r.count, "hash" -> r.hash,
    "error" -> r.error, "released" -> r.released)

  /** Operator family of an entry: the `graft.operators` object (or
    * `graft.streaming.Streams`) whose `queries` map declares it. */
  lazy val families: Map[String, String] = {
    import graft.operators._
    Seq("Olap" -> Olap.queries, "Text" -> Text.queries, "Dedup" -> Dedup.queries,
      "Ann" -> Ann.queries, "Functions" -> Functions.queries, "ArrowOps" -> ArrowOps.queries,
      "streaming" -> graft.streaming.Streams.queries, "Multimodal" -> Multimodal.queries,
      "Pipeline" -> Pipeline.queries, "AsofJoin" -> AsofJoin.queries, "Sketch" -> Sketch.queries,
      "Layout" -> Layout.queries, "Events" -> Events.queries, "Graph" -> Graph.queries)
      .flatMap { case (f, q) => q.keys.map(_ -> f) }.toMap
  }

  /** The output digest, normalised so harmless type changes (integer
    * width, float width, decimal scale) do not change it: columns in
    * name order, integers as BIGINT, floats as DOUBLE, decimals and
    * maps as text. */
  def digestHash(df: DataFrame): Column = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val cols = fields.map { case (f, i) =>
      val c = df.col(s"`${df.columns(i)}`")
      f.dataType match {
        case ByteType | ShortType | IntegerType => c.cast(LongType)
        case FloatType => c.cast(DoubleType)
        case _: DecimalType => c.cast(StringType)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*).bitwiseAND(lit(DigestMask))
  }

  /** Materialize `df` through the noop sink with its digest observed in
    * the same action: (row count, sum of masked row hashes). */
  def observedDigest(df: DataFrame, tag: String): (Long, Long) = {
    val uniq = df.toDF(df.columns.indices.map(i => s"c${i}_${df.columns(i)}"): _*)
    val obs = Observation(tag)
    uniq.observe(obs, count(lit(1)).as("n"), sum(digestHash(uniq)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** The same digest by a plain aggregate action (expected side). */
  def plainDigest(df: DataFrame): (Long, Long) = {
    val uniq = df.toDF(df.columns.indices.map(i => s"c${i}_${df.columns(i)}"): _*)
    val r = uniq.agg(count(lit(1)), sum(digestHash(uniq))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One timed entry call: build (the entry function returning) then
    * materialize (noop sink, digest observed in the same action). The
    * scoped cleanup after it is outside the timed interval. */
  def runEntry(spark: SparkSession, dir: String, name: String, id: Int, pass: Int,
               traced: Boolean): Rec = {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet
    sc.setLocalProperty("perfbench.req", id.toString)
    val c0 = cpuS; val t0 = nowMs
    var t1 = t0
    var (n, h, err) = (0L, 0L, "")
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = nowMs
      val d = observedDigest(df, s"pb_$id")
      n = d._1; h = d._2
    } catch { case e: Throwable =>
      if (t1 == t0) t1 = nowMs
      err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t2 = nowMs; val c1 = cpuS
    sc.setLocalProperty("perfbench.req", null)
    // Bench's scoped cleanup: release what this entry left persisted,
    // sparing frames registered as session-shared
    var released = 0
    sc.getPersistentRDDs.foreach { case (rid, rdd) =>
      if (!pre.contains(rid) && !graft.SharedFrames.contains(rid)) {
        rdd.unpersist(blocking = true); released += 1
      }
    }
    Rec(id, name, "entry", families.getOrElse(name, "other"), pass, 0, traced,
      t0, t1, t2, c1 - c0, n, h, err, released)
  }
}

/** A Spark session plus, for the federated workload, a loopback
  * server and one login token per client. */
final class Session(cfg: JsonNode, cores: Int, val dir: String, isFed: Boolean) {
  import Main._
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", cfg.get("warehouse_dir").asText())
    .config("spark.local.dir", cfg.get("spark_local_dir").asText())
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
  })
  val server: Option[GraftHttpServer] =
    if (isFed) Some(new GraftHttpServer(dir).start()) else None
  val tokens: Vector[String] = server.toVector.flatMap { s =>
    (0 until cfg.get("clients").asInt()).map(_ =>
      HttpEndpoint.login(s.url, "admin", "admin", claims = Seq("database" -> "graft")))
  }

  /** JIT and first-use warm-up: one federated scan + aggregate, or one
    * grouped parquet aggregate for the entry workloads. */
  def warmUp(): Unit = {
    val li = server match {
      case Some(s) => GraftArrow.readHttp(spark, s.url, "lineitem", Some(tokens.head))
      case None => spark.read.parquet(s"$dir/lineitem.parquet")
    }
    observedDigest(li.filter(col("l_quantity") < 5).groupBy(col("l_returnflag"))
      .agg(count(lit(1)), sum(col("l_quantity"))), "pb_warmup")
  }

  def close(): Unit = {
    server.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** The federated closed loop: `clients` threads share one session and
  * one server; a pass hands out the seeded request list through a
  * shared cursor and ends when every request of it completed. */
final class Federated(session: Session, passLists: JsonNode) {
  import Main._
  private val spark = session.spark
  private val server = session.server.get
  /** The request list of each pass; pass p runs list p mod size. */
  val passes: Vector[Vector[JsonNode]] =
    passLists.elements().asScala.map(_.elements().asScala.toVector).toVector
  private val cancels0 = server.cancelsReceived
  private val aborted0 = server.abortedScans

  def serverCounters: Map[String, Any] = Map(
    "cancels" -> (server.cancelsReceived - cancels0),
    "aborted_scans" -> (server.abortedScans - aborted0))

  /** Every request that ran, by its name (unique across passes). */
  private val ran = new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()

  def runPass(pass: Int, traced: Boolean): Seq[Rec] = {
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Rec]())
    val specs = passes(pass % passes.size)
    val cursor = new AtomicInteger(0)
    val threads = session.tokens.indices.map { c =>
      new Thread(() => {
        var i = cursor.getAndIncrement()
        while (i < specs.size) {
          val r = specs(i)
          ran.put(r.get("name").asText(), r)
          out.add(run(r, pass * specs.size + i, pass, c, traced))
          i = cursor.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.id)
  }

  private def run(r: JsonNode, id: Int, pass: Int, client: Int, traced: Boolean): Rec = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.req", id.toString)
    val kind = r.get("kind").asText()
    val token = session.tokens(client)
    val t0 = nowMs
    var t1 = t0
    var (n, h, err) = (0L, 0L, "")
    try {
      if (kind == "plan") {
        val plan = new HttpEndpoint(server.url, Some(token)).plan(r.get("table").asText(),
          Replay.querySpec(r), r.get("split_bytes").asLong())
        t1 = nowMs
        n = plan.map(_.rowCount).sum
      } else {
        val df = Federated.frame(spark, r,
          t => GraftArrow.readHttp(spark, server.url, t, Some(token), r.get("split_bytes").asLong()),
          q => GraftArrow.readHttpSql(spark, server.url, q, Some(token), r.get("split_bytes").asLong()))
        t1 = nowMs
        if (kind == "limit") n = df.collect().length.toLong // the take path: readers close early
        else { val d = observedDigest(df, s"pb_$id"); n = d._1; h = d._2 }
      }
    } catch { case e: Throwable =>
      if (t1 == t0) t1 = nowMs
      err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t2 = nowMs
    sc.setLocalProperty("perfbench.req", null)
    Rec(id, r.get("name").asText(), kind, "sources", pass, client, traced,
      t0, t1, t2, 0.0, n, h, err, 0)
  }

  /** Expected digests of every request spec that ran, by Spark's built-in
    * parquet reader (and the same SQL over parquet views for `sql`),
    * a few requests at a time. */
  def expectedDigests(): Map[String, Map[String, Long]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = session.dir
    val views = spark.newSession()
    // a few dozen small queries, each with its own literals: compiling
    // whole-stage code for each costs more than running it
    views.conf.set("spark.sql.codegen.wholeStage", "false")
    Seq("lineitem", "orders", "customer", "supplier", "nation", "part").foreach(t =>
      views.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // passes repeat request lists under new names: one digest per request
    val byQuery = ran.values.asScala.toSeq.groupBy(r =>
      r.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]().without[JsonNode]("name").toString)
    try Await.result(Future.traverse(byQuery.values.toSeq)(rs => Future {
      val d = expected(rs.head, views)
      rs.map(r => r.get("name").asText() -> d)
    }), Duration.Inf).flatten.toMap
    finally pool.shutdown()
  }

  private def expected(r: JsonNode, views: SparkSession): Map[String, Long] = {
    val kind = r.get("kind").asText()
    val t0 = nowMs
    val (n, h) = kind match {
      case "plan" => (views.table(r.get("table").asText()).count(), 0L)
      case "limit" =>
        val full = Federated.frame(views, r.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          .put("kind", "scan"), views.table, views.sql)
        (math.min(full.count(), r.get("limit").asLong()), 0L)
      case _ => plainDigest(Federated.frame(views, r, views.table, views.sql))
    }
    Map("count" -> n, "hash" -> h, "ms" -> (nowMs - t0).toLong)
  }
}

object Federated {
  /** Build one federated request's frame over a table reader `read` and
    * a free-form SQL reader `readSql`; the same builder serves the
    * timed (Arrow-over-HTTP) and the expected (parquet) side. */
  def frame(spark: SparkSession, r: JsonNode, read: String => DataFrame,
            readSql: String => DataFrame): DataFrame = {
    def str(k: String) = r.get(k).asText()
    def cols(k: String) = Main.strings(r.get(k)).map(col)
    r.get("kind").asText() match {
      case "scan" | "limit" =>
        var df = read(str("table")).filter(expr(str("where")))
        if (r.hasNonNull("bloom_keys")) {
          val keys = Main.strings(r.get("bloom_keys")).map(_.getBytes(UTF_8))
          val blob = BloomBlob.create(keys, keys.size, BloomBlob.DefaultBitsPerElement,
            BloomBlob.DefaultNumHashFuncs)
          df = df.filter(GraftFunctions.dd_bloom_filter_contains(lit(blob),
            col(str("bloom_col")).cast(StringType)))
        }
        val sel = df.select(cols("cols"): _*)
        if (r.get("kind").asText() == "limit") sel.limit(r.get("limit").asInt()) else sel
      case "agg" =>
        val aggs = Seq(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
        val f = read("lineitem").filter(expr(str("where")))
        val g = cols("group_by")
        if (g.isEmpty) f.agg(aggs.head, aggs.tail: _*) else f.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
      case "sql" => readSql(str("sql"))
      case "join" =>
        val c = read("customer").filter(col("c_mktsegment") === str("segment")).select(col("c_custkey"))
        val o = read("orders").filter(col("o_orderdate") < to_timestamp(lit(str("date"))))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val l = read("lineitem").filter(col("l_shipdate") > to_timestamp(lit(str("date"))))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))).as("revenue"))
    }
  }
}
