package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{BloomBlob, GraftAuth, Jwt}
import graft.sources.{FilterSql, GraftHttpServer, HttpEndpoint, QuerySpec}

/** The traced run's instruments, all attached from outside through
  * Spark's public listener interfaces: jobs and stages
  * (SparkListener), the executed plan's graft scan metrics
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Spans stay in memory and are written once
  * at the end of the run. */
final class Tracer(spark: SparkSession) {
  final case class Job(id: Int, req: Int, start: Double, stages: Seq[Int], var end: Double = -1)
  final case class Stage(id: Int, attempt: Int, start: Double, end: Double, tasks: Int,
                         cpuS: Double, shuffleWriteMb: Double, spillMb: Double)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
  private val scans = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val events = new AtomicLong(0L)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        val req = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.req")))
          .map(_.toInt).getOrElse(-1)
        jobs.put(e.jobId, Job(e.jobId, req, e.time.toDouble, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        events.incrementAndGet()
        Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        events.incrementAndGet()
        val si = e.stageInfo
        val m = si.taskMetrics
        for (a <- si.submissionTime; b <- si.completionTime)
          stages.put((si.stageId, si.attemptNumber()), Stage(si.stageId, si.attemptNumber(),
            a.toDouble, b.toDouble, si.numTasks,
            if (m == null) 0.0 else m.executorCpuTime / 1e9,
            if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        events.incrementAndGet()
        val tag = qe.analyzed.collectFirst { case c: CollectMetrics if c.name.startsWith("pb_") => c.name }
        tag.flatMap(t => scala.util.Try(t.stripPrefix("pb_").toInt).toOption).foreach { id =>
          val plan = Tracer.walk(qe.executedPlan)
          val graftScans = plan.collect { case b: BatchScanExec if Tracer.isGraft(b) => b }
          if (graftScans.nonEmpty) {
            val wire = graftScans.map(b => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
            val sparkFilter = plan.exists {
              case f: FilterExec => Tracer.walk(f.child).takeWhile(!_.isInstanceOf[Exchange])
                .exists { case b: BatchScanExec => Tracer.isGraft(b); case _ => false }
              case _ => false
            }
            scans.put(id, Map("wire_rows" -> wire, "spark_filter" -> sparkFilter))
          }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        events.incrementAndGet()
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches.add(Map("start_ms" -> start,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_mb" -> p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0,
          "input_rows" -> p.numInputRows))
      }
    })
  }

  /** Listener events arrive asynchronously: wait until none has
    * arrived for half a second (at most 10 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get(); Thread.sleep(500)
    }
  }

  /** Per-request job/stage totals, graft scan metrics and stream
    * batches, for `run.py` to aggregate by layer. */
  def summary(recs: Seq[Main.Rec]): Map[String, Any] = {
    drain()
    val perReq = jobsByRequest(recs).map { case (rid, js) =>
      val st = js.flatMap(j => j.stages.flatMap(s => stages.asScala.collect {
        case ((sid, _), v) if sid == s => v }))
      rid.toString -> Map(
        "jobs" -> js.size, "tasks" -> st.map(_.tasks).sum,
        "task_cpu_s" -> st.map(_.cpuS).sum, "shuffle_write_mb" -> st.map(_.shuffleWriteMb).sum,
        "spill_mb" -> st.map(_.spillMb).sum,
        "job_intervals" -> js.filter(_.end >= 0).map(j => Seq(j.start, j.end)))
    }
    val traced = recs.filter(_.traced)
    val tracedBatches = batches.asScala.toSeq.filter { b =>
      val s = b("start_ms").asInstanceOf[Double]
      traced.exists(r => r.startMs <= s && s <= r.endMs)
    }
    Map("requests" -> perReq, "scans" -> scans.asScala.map { case (k, v) => k.toString -> v }.toMap,
      "batches" -> tracedBatches)
  }

  /** Jobs attributed to requests: by the `perfbench.req` local property
    * when the job carries it, else (stream threads, single-client
    * workloads) by the traced request whose interval holds its start. */
  private def jobsByRequest(recs: Seq[Main.Rec]): Map[Int, Seq[Job]] = {
    val traced = recs.filter(_.traced).sortBy(_.startMs)
    jobs.values().asScala.toSeq.flatMap { j =>
      val req = if (j.req >= 0 && traced.exists(_.id == j.req)) j.req
        else traced.find(r => r.startMs <= j.start && j.start <= r.endMs).map(_.id).getOrElse(-1)
      if (req >= 0) Some(req -> j) else None
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Spans: request → build / materialize → job → stage, plus
    * streams.batch and the replayed sources.* / bridge.* calls. */
  def writeSpans(path: Path, recs: Seq[Main.Rec]): Unit = {
    drain()
    val traced = recs.filter(_.traced)
    val out = ArrayBuffer.empty[Map[String, Any]]
    def span(id: String, parent: String, req: Int, name: String, s: Double, e: Double): Unit =
      out += Map("id" -> id, "parent" -> parent, "req" -> req, "name" -> name, "start_ms" -> s, "end_ms" -> e)
    for (r <- traced) {
      span(s"r${r.id}", null, r.id, "request", r.startMs, r.endMs)
      span(s"b${r.id}", s"r${r.id}", r.id, "build", r.startMs, r.buildEndMs)
      span(s"m${r.id}", s"r${r.id}", r.id, "materialize", r.buildEndMs, r.endMs)
    }
    val byId = traced.map(r => r.id -> r).toMap
    for ((rid, js) <- jobsByRequest(recs); j <- js if j.end >= 0) {
      val phase = if (j.start < byId(rid).buildEndMs) "b" else "m"
      span(s"j${j.id}", s"$phase$rid", rid, "job", j.start, j.end)
      for (s <- stages.values().asScala if j.stages.contains(s.id))
        span(s"s${s.id}.${s.attempt}", s"j${j.id}", rid, "stage", s.start, s.end)
    }
    batches.asScala.zipWithIndex.foreach { case (b, i) =>
      val s = b("start_ms").asInstanceOf[Double]
      val e = s + b("trigger_ms").asInstanceOf[Long]
      traced.find(r => r.startMs <= s && s <= r.endMs).foreach(r =>
        span(s"sb$i", s"r${r.id}", r.id, "streams.batch", s, e))
    }
    out ++= Replay.spans.asScala
    Files.writeString(path, Main.mapper.writeValueAsString(out.toSeq))
  }
}

object Tracer {
  def isGraft(b: BatchScanExec): Boolean = b.scan.getClass.getName.startsWith("graft.")

  /** Every node of an executed plan, through adaptive and stage
    * wrappers and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case o => o.children.flatMap(walk) ++ o.subqueries.flatMap(walk)
  })
}

/** Replays scan requests through the source and bridge layers'
  * public calls, timing each: `HttpEndpoint.login` / `plan` / `scan`
  * and `ArrowBridge.fromIpc` / `toIpc`. */
final class Replay(session: Session, dir: String, specs: Seq[JsonNode]) {
  import Main.nowMs
  def run(): Seq[Map[String, Any]] = {
    val own = session.server.isEmpty
    val server = session.server.getOrElse(new GraftHttpServer(dir).start())
    try specs.filter(s => Set("scan", "limit", "agg").contains(s.get("kind").asText()))
      .zipWithIndex.map { case (r, i) => one(server, r, i) }
    finally if (own) server.stop()
  }

  private def one(server: GraftHttpServer, r: JsonNode, i: Int): Map[String, Any] = {
    val root = s"x$i"
    val t0 = nowMs
    val token = HttpEndpoint.login(server.url, "admin", "admin", claims = Seq("database" -> "graft"))
    val t1 = nowMs
    Replay.span(s"${root}l", root, "sources.login", t0, t1)
    val ep = new HttpEndpoint(server.url, Some(token))
    val table = Option(r.get("table")).map(_.asText()).getOrElse("lineitem")
    val qs = Replay.querySpec(r)
    val plan = ep.plan(table, qs, r.get("split_bytes").asLong())
    val t2 = nowMs
    Replay.span(s"${root}p", root, "sources.plan", t1, t2)
    val batches = ArrayBuffer.empty[Array[Byte]]
    var firstBatchMs = 0.0
    plan.zipWithIndex.foreach { case (split, k) =>
      val s0 = nowMs
      val st = ep.scan(split, qs)
      try {
        var first = true
        while (st.hasNext) {
          batches += st.next()
          if (first) { firstBatchMs += nowMs - s0; first = false }
        }
      } finally st.close()
      Replay.span(s"${root}s$k", root, "sources.scan", s0, nowMs)
    }
    val t3 = nowMs
    val full = ep.schema(table)
    val schema = StructType(qs.requiredColumns.map(c => full(c)))
    val rows = ArrowBridge.fromIpc(batches.iterator, schema).map(_.copy()).toVector
    val t4 = nowMs
    Replay.span(s"${root}d", root, "bridge.decode", t3, t4)
    val encoded = ArrowBridge.toIpc(rows.iterator, schema).map(_.length.toLong).sum
    val t5 = nowMs
    Replay.span(s"${root}e", root, "bridge.encode", t4, t5)
    Replay.span(root, null, "replay", t0, t5)
    val ipcBytes = batches.map(_.length.toLong).sum
    Map("login_ms" -> (t1 - t0), "plan_ms" -> (t2 - t1), "splits" -> plan.size,
      "first_batch_ms" -> firstBatchMs / math.max(plan.size, 1), "drain_ms" -> (t3 - t2),
      "ipc_bytes" -> ipcBytes, "rows" -> rows.size, "decode_ms" -> (t4 - t3),
      "encode_ms" -> (t5 - t4), "encoded_bytes" -> encoded)
  }
}

object Replay {
  val spans: java.util.List[Map[String, Any]] =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
  def span(id: String, parent: String, name: String, s: Double, e: Double): Unit =
    spans.add(Map("id" -> id, "parent" -> parent, "req" -> -1, "name" -> name, "start_ms" -> s, "end_ms" -> e))

  /** The wire query of a request: its table columns and its WHERE
    * text parsed into source filters (the bloom predicate and the
    * aggregate are evaluated by Spark, so they are not part of it). */
  def querySpec(r: JsonNode): QuerySpec = {
    val table = Option(r.get("table")).map(_.asText()).getOrElse("lineitem")
    val cols = Main.strings(r.get("cols")) match {
      case c if c.nonEmpty => c
      case _ => Vector("l_orderkey", "l_quantity", "l_returnflag")
    }
    val filters = Option(r.get("where")).flatMap(w => FilterSql.parseWhere(w.asText()))
      .getOrElse(Array.empty)
    QuerySpec(table, cols.toArray, filters)
  }

  /** Fixed replay requests for workloads that issue no federated
    * requests of their own. */
  lazy val probeSpecs: Seq[JsonNode] = {
    val m = Main.mapper
    Seq(
      """{"kind":"scan","table":"lineitem","cols":["l_orderkey","l_quantity","l_shipdate"],"where":"l_orderkey < 5000","split_bytes":1048576}""",
      """{"kind":"scan","table":"lineitem","cols":["l_orderkey","l_partkey","l_extendedprice","l_returnflag"],"where":"l_quantity >= 10","split_bytes":8388608}""")
      .map(m.readTree)
  }
}

/** Micro-timings of the `graft.functions` calls and of the native
  * Catalyst kernels in `org.apache.spark.sql.graft`. */
object Probes {
  private def medianOf(n: Int)(f: => Double): Double = {
    val xs = (1 to n).map(_ => f).sorted
    xs(n / 2)
  }
  private def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }

  def functions(): Map[String, Any] = {
    val now = GraftAuth.nowSec()
    val token = Jwt.mint("admin", Seq("database" -> "graft"), GraftAuth.DefaultSecret, now)
    val verifies = 2000
    val jwtUs = medianOf(5)(timed {
      var i = 0
      while (i < verifies) { Jwt.verify(token, GraftAuth.DefaultSecret, now); i += 1 }
    }) * 1000.0 / verifies
    val elems = (0 until 20000).map(i => s"key-$i".getBytes("UTF-8"))
    var blob: Array[Byte] = null
    val createMs = medianOf(5)(timed {
      blob = BloomBlob.create(elems, elems.size, BloomBlob.DefaultBitsPerElement, BloomBlob.DefaultNumHashFuncs)
    })
    val probes = (0 until 100000).map(i => org.apache.spark.unsafe.types.UTF8String.fromString(s"key-${i * 7}"))
    var hits = 0
    val probeNs = medianOf(5)(timed {
      probes.foreach(p => if (BloomBlob.mayContain(blob, p).contains(true)) hits += 1)
    }) * 1e6 / probes.size
    Map("jwt_verify_us" -> jwtUs, "bloom_create_ms" -> createMs, "bloom_probe_ns" -> probeNs,
      "bloom_hits" -> hits)
  }

  /** rows/s of each kernel as a projection over cached, replicated
    * documents / embeddings, materialized through the noop sink. Each
    * kernel reads as many copies as bring its probe to about a second
    * on 4 cores. The same job projecting only the kernel's input column
    * is timed too, and its time is subtracted, so job launch,
    * scheduling and the cache scan do not count as kernel time. */
  def kernels(spark: SparkSession, dir: String): Map[String, Any] = {
    def e(c: org.apache.spark.sql.Column) = Bridge.expression(c)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), explode(sequence(lit(1), lit(40))).as("copy"))
      .withColumn("shingles", Bridge.column(WordShingles(e(col("text")))))
      .withColumn("words", split(col("text"), " ")).cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("e"), explode(sequence(lit(1), lit(100))).as("copy"))
      .cache()
    docs.count(); emb.count()
    val cents = emb.limit(16).collect().map(_.getSeq[Double](0).toArray)
    // (kernel, input frame, copies read, input column, kernel column)
    val kernels: Seq[(String, DataFrame, Int, String, org.apache.spark.sql.Column)] = Seq(
      ("WordShingles", docs, 40, "text", Bridge.column(WordShingles(e(col("text"))))),
      ("MinhashSignature", docs, 20, "shingles", Bridge.column(MinhashSignature(e(col("shingles")), 64))),
      ("SimhashSignature", docs, 40, "words", Bridge.column(SimhashSignature(e(col("words"))))),
      ("BpeLen", docs, 5, "text", Bridge.column(BpeLen(e(col("text"))))),
      ("NearestCentroid", emb, 100, "e", Bridge.column(NearestCentroid(e(col("e")),
        cents.indices.map(_.toLong).toArray, cents))),
      ("PolyFingerprint", docs, 40, "text", Bridge.column(new PolyFingerprint(e(col("text"))))))
    val out = kernels.map { case (name, all, copies, input, k) =>
      val df = all.filter(col("copy") <= copies)
      val n = df.count()
      def noopMs(c: org.apache.spark.sql.Column): Double =
        medianOf(3)(timed(df.select(c.as("k")).write.format("noop").mode("overwrite").save()))
      val baseMs = noopMs(col(input))
      val ms = noopMs(k)
      // a kernel faster than the noise of its baseline still reads as
      // finite: its net time is floored at 1 % of the probe's
      val netMs = math.max(ms - baseMs, ms / 100)
      name -> Map("rows" -> n, "ms" -> ms, "base_ms" -> baseMs, "kernel_share" -> (ms - baseMs) / ms,
        "rows_per_s" -> n / (netMs / 1000.0))
    }.toMap
    docs.unpersist(true); emb.unpersist(true)
    out
  }
}
