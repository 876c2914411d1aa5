package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.Streams.{Event, Session}

/** D1/D2: the streaming pipelines against their batch-equivalent
  * semantics. */
class StreamsSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("D1: streaming windowed agg equals the batch computation") {
    val streamed = Streams.windowAgg(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streams.windowAggQuery(Streams.events(spark, dir).toDF())
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("D3b: watermark dedup drops in-horizon duplicates and EVICTS state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val input = MemoryStream[Event]
    val name = s"d3b_test_${System.nanoTime()}"
    val q = Streams.dedupWithinWatermarkQuery(input.toDF(), "10 minutes")
      .select(col("event_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events + an in-batch duplicate delivery of id 1
      input.addData(
        Event(1, t0, 7L, "click", 1.0),
        Event(2, t0.plusMinutes(1), 7L, "click", 1.0),
        Event(1, t0, 7L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate, still inside the horizon — dropped
      input.addData(Event(2, t0.plusMinutes(1), 7L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      // batches 3-4: far-future events advance the watermark past the
      // old keys' expiry (ts + 10min < watermark) — their state EVICTS,
      // which is the whole point of the watermark form: state tracks
      // the in-flight horizon, not stream history
      input.addData(Event(3, t0.plusHours(5), 7L, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, t0.plusHours(5).plusMinutes(1), 7L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(1L, 2L, 3L, 4L))
      val st = q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption.getOrElse(fail("no state operator progress reported"))
      assert(st.numRowsTotal <= 2,
        s"state not bounded by the watermark horizon: ${st.numRowsTotal} rows")
    } finally q.stop()
  }

  test("D4: stream-stream attribution join equals the batch interval join") {
    val streamed = Streams.streamJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = Streams.events(spark, dir).toDF()
    val batch = Streams.attributionJoinQuery(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "the corpus must produce attribution pairs")
    // gap bounded by the attribution window, never negative
    assert(streamed.forall { case (_, _, _, g) => g >= 0 && g <= 2L * 3600 * 1000000 })
  }

  test("D4: join state is EVICTED once the watermark passes the attribution window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val vIn = MemoryStream[Event]
    val cIn = MemoryStream[Event]
    val name = s"d4_test_${System.nanoTime()}"
    val q = Streams.attributionJoinQuery(vIn.toDF(), cIn.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a view and a click 5 minutes later — one pair
      vIn.addData(Event(1, t0, 7L, "view", 1.0))
      cIn.addData(Event(2, t0.plusMinutes(5), 7L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table(name).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
        === Set((1L, 2L)))
      // batches 2-3: far-future rows on BOTH sides advance the min
      // watermark past t0 + window + delay, evicting the old state
      vIn.addData(Event(3, t0.plusHours(8), 7L, "view", 1.0))
      cIn.addData(Event(4, t0.plusHours(8), 9L, "click", 1.0))
      q.processAllAvailable()
      vIn.addData(Event(5, t0.plusHours(9), 7L, "view", 1.0))
      cIn.addData(Event(6, t0.plusHours(9), 9L, "click", 1.0))
      q.processAllAvailable()
      val st = q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption.getOrElse(fail("no state operator progress reported"))
      assert(st.numRowsTotal <= 4,
        s"join state not bounded by the watermark horizon: ${st.numRowsTotal} rows")
    } finally q.stop()
  }

  test("D5: left-outer attribution emits NULL exactly at watermark and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val vIn = MemoryStream[Event]
    val cIn = MemoryStream[Event]
    val name = s"d5_test_${System.nanoTime()}"
    val q = Streams.attributionJoinLeftOuterQuery(vIn.toDF(), cIn.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: view 1 (user 7) is clicked; view 3 (user 8) never is
      vIn.addData(Event(1, t0, 7L, "view", 1.0), Event(3, t0, 8L, "view", 1.0))
      cIn.addData(Event(2, t0.plusMinutes(5), 7L, "click", 1.0))
      q.processAllAvailable()
      // the inner pair emits promptly; the unmatched view must NOT
      // emit yet — its match window is still open
      assert(spark.table(name).collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
        === Set((1L, 2L)),
        "unmatched view must be withheld until the watermark closes its window")
      // advance the min watermark on BOTH sides past t0 + window(2h) +
      // delay(10m): view 3 is now provably unmatched → NULL emission
      vIn.addData(Event(5, t0.plusHours(8), 7L, "view", 1.0))
      cIn.addData(Event(6, t0.plusHours(8), 9L, "click", 1.0))
      q.processAllAvailable()
      vIn.addData(Event(7, t0.plusHours(9), 7L, "view", 1.0))
      cIn.addData(Event(8, t0.plusHours(9), 9L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows === Set((1L, 2L), (3L, -1L)),
        "view 3 must surface with NULL click at watermark; views 5/7 windows are still open")
      // NULL row carries NULL gap too
      val nullRow = spark.table(name).filter(col("view_id") === 3L).head
      assert(nullRow.isNullAt(3), "gap_us must be NULL for an unmatched view")
      // eviction: old state is gone; only the in-horizon rows remain
      val st = q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption.getOrElse(fail("no state operator progress reported"))
      assert(st.numRowsTotal <= 6,
        s"outer-join state not bounded by the watermark horizon: ${st.numRowsTotal} rows")
    } finally q.stop()
  }

  test("D3: streaming content-hash dedup equals batch distinct") {
    val streamed = Streams.streamDedup(spark, dir)
      .collect().map(_.getString(0)).toSet
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("D2: batch sessionization splits on >30min gaps with exact bounds") {
    import spark.implicits._
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val evs = Seq(
      Event(1, t0, 7L, "click", 1.0),
      Event(2, t0.plusMinutes(10), 7L, "click", 2.0),
      Event(3, t0.plusMinutes(41), 7L, "buy", 3.0), // 31min gap → new session
      Event(4, t0.plusMinutes(50), 7L, "click", 4.0),
      Event(5, t0, 8L, "click", 5.0))
    val ds = evs.toDS()
    val sessions = ds.groupByKey(_.user_id)
      .flatMapGroups((uid, it) => Streams.sessionize(uid, it))
      .collect().sortBy(s => (s.user_id, s.sess_seq))
    assert(sessions.map(s => (s.user_id, s.sess_seq, s.n_events)).toSeq ===
      Seq((7L, 1L, 2L), (7L, 2L, 2L), (8L, 1L, 1L)))
    assert(sessions.head.start_ts === "2024-01-01 00:00:00")
    assert(sessions.head.end_ts === "2024-01-01 00:10:00")
    assert(sessions.head.total_value === 3.0)
  }

  test("D2: flatMapGroupsWithState emits closed sessions matching batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStreaming(input.toDS())
      .writeStream.format("memory").queryName("d2_sessions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        Event(1, t0, 7L, "click", 1.0),
        Event(2, t0.plusMinutes(10), 7L, "click", 2.0))
      q.processAllAvailable()
      // a later event closes the first session
      input.addData(Event(3, t0.plusHours(2), 7L, "buy", 3.0))
      q.processAllAvailable()
      val closed = spark.table("d2_sessions").as[Session].collect()
      assert(closed.length === 1)
      assert(closed.head.n_events === 2 && closed.head.total_value === 3.0)
      assert(closed.head.start_ts === "2024-01-01 00:00:00")
    } finally q.stop()
  }

  test("D2: batch sessionization is the spill-safe window plan, not a group buffer") {
    val plan = Streams.sessionizeBatch(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected a Window plan:\n$plan")
    assert(!plan.contains("FlatMapGroups"),
      s"group-buffering operator must not appear:\n$plan")
  }

  test("D2: streaming state stays O(1) for a hot user across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 0, 0, 0)
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStreaming(input.toDS())
      .writeStream.format("memory").queryName("d2_hot")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // a bot: 2,000 events 1s apart, split across two micro-batches,
      // delivered shuffled within each batch — one long session
      val bot = (0 until 2000).map(i =>
        Event(i.toLong, t0.plusSeconds(i.toLong), 42L, "ping", 0.5))
      input.addData(scala.util.Random.shuffle(bot.take(1200)): _*)
      q.processAllAvailable()
      input.addData(scala.util.Random.shuffle(bot.drop(1200)): _*)
      q.processAllAvailable()
      // a later event proves the >30min gap and closes the session
      input.addData(Event(9999, t0.plusHours(3), 42L, "ping", 1.0))
      q.processAllAvailable()
      val closed = spark.table("d2_hot").as[Session].collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.n_events === 2000)
      assert(s.start_ts === "2024-03-01 00:00:00")
      assert(s.end_ts === "2024-03-01 00:33:19")
      assert(s.total_value === 1000.0)
    } finally q.stop()
  }

  test("D2: a cross-batch late event beyond the gap becomes its own session, never a merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 5, 1, 12, 0, 0)
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStreaming(input.toDS())
      .writeStream.format("memory").queryName("d2_late")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(Event(1, t0, 5L, "click", 1.0))
      q.processAllAvailable()
      // 3h EARLIER than the open session — must close as its own
      // session (bounds 09:00-09:00), not stretch the open one to span
      // a >30min internal gap
      input.addData(Event(2, t0.minusHours(3), 5L, "click", 2.0))
      q.processAllAvailable()
      // and a later event closes the original session
      input.addData(Event(3, t0.plusHours(2), 5L, "click", 4.0))
      q.processAllAvailable()
      val closed = spark.table("d2_late").as[Session].collect().sortBy(_.sess_seq)
      assert(closed.length === 2)
      assert(closed(0).start_ts === "2024-05-01 09:00:00")
      assert(closed(0).end_ts === "2024-05-01 09:00:00")
      assert(closed(0).n_events === 1 && closed(0).total_value === 2.0)
      assert(closed(1).start_ts === "2024-05-01 12:00:00")
      assert(closed(1).end_ts === "2024-05-01 12:00:00")
      assert(closed(1).n_events === 1 && closed(1).total_value === 1.0)
      assert(closed(0).sess_seq < closed(1).sess_seq,
        "the temporally-earlier late session takes the lower seq")
    } finally q.stop()
  }

  test("D2: two late events within a gap of each other form ONE late session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 6, 1, 12, 0, 0)
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStreaming(input.toDS())
      .writeStream.format("memory").queryName("d2_late2")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(Event(1, t0, 9L, "click", 1.0))
      q.processAllAvailable()
      // both 3h late, 10min apart, delivered in one batch (shuffled)
      input.addData(
        Event(3, t0.minusHours(3).plusMinutes(10), 9L, "click", 4.0),
        Event(2, t0.minusHours(3), 9L, "click", 2.0))
      q.processAllAvailable()
      val closed = spark.table("d2_late2").as[Session].collect()
      assert(closed.length === 1, s"one merged late session, got ${closed.toSeq}")
      assert(closed.head.start_ts === "2024-06-01 09:00:00")
      assert(closed.head.end_ts === "2024-06-01 09:10:00")
      assert(closed.head.n_events === 2 && closed.head.total_value === 6.0)
    } finally q.stop()
  }

  test("D1 sessionize entry matches DuckDB-shaped recomputation in Spark SQL") {
    // independent recomputation of the session assignment with window
    // functions (the oracle's algebra) — guards the imperative walk
    val ev = Streams.events(spark, dir).toDF()
      .withColumn("ts", col("ts").cast("timestamp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = ev.withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800L * 1000000, 1).otherwise(0))
      .withColumn("sess_seq", sum(col("new_sess")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val viaSql = flagged.groupBy("user_id", "sess_seq")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaTyped = Streams.sessionizeBatch(spark, dir)
      .select("user_id", "sess_seq", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaTyped === viaSql)
  }

  // ---------------------------------------------------------------- D6
  test("D6: streaming as-of carries purchase state ACROSS batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val input = MemoryStream[Event]
    val name = s"d6_carry_${System.nanoTime()}"
    val q = Streams.asofEnrichStreaming(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a purchase only — no output rows (purchases fold
      // silently into state)
      input.addData(Event(100, t0, 7L, "purchase", 5.0))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      // batch 2: a click LATER than the batch-1 purchase — the state
      // carry enriches it (cross-batch, the thing batch SQL on one
      // micro-batch cannot do)
      input.addData(Event(101, t0.plusMinutes(20), 7L, "click", 1.0))
      q.processAllAvailable()
      val r = spark.table(name).as[Streams.AsofEnriched].collect()
      assert(r.length === 1)
      assert(r.head.purchase_id === Some(100L))
      assert(r.head.gap_us === Some(20L * 60 * 1000000))
    } finally q.stop()
  }

  test("D6: a click before any purchase emits null and is NOT retro-matched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val input = MemoryStream[Event]
    val name = s"d6_noretro_${System.nanoTime()}"
    val q = Streams.asofEnrichStreaming(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, t0, 7L, "click", 1.0))
      q.processAllAvailable()
      // the purchase arrives LATE, in a later batch, with an EARLIER ts
      input.addData(Event(2, t0.minusMinutes(5), 7L, "purchase", 5.0))
      q.processAllAvailable()
      // and a fresh click after it gets enriched
      input.addData(Event(3, t0.plusMinutes(1), 7L, "click", 1.0))
      q.processAllAvailable()
      val r = spark.table(name).as[Streams.AsofEnriched].collect()
        .map(e => e.click_id -> e.purchase_id).toMap
      // Append contract: click 1 emitted null ONCE and stays null —
      // the late purchase cannot retro-update an emitted row
      assert(r === Map(1L -> None, 3L -> Some(2L)))
      assert(spark.table(name).count() === 2)
    } finally q.stop()
  }

  test("D6: in-batch order — equal-ts purchase matches; state is monotone") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val input = MemoryStream[Event]
    val name = s"d6_order_${System.nanoTime()}"
    val q = Streams.asofEnrichStreaming(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // one batch, deliberately added out of order: the slice sort
      // must put the equal-ts purchase BEFORE the click (>= semantics)
      // and the click before the later purchase
      input.addData(
        Event(11, t0, 7L, "click", 1.0),            // equal-ts click
        Event(10, t0, 7L, "purchase", 5.0),          // equal-ts purchase
        Event(12, t0.plusMinutes(30), 7L, "purchase", 5.0))
      q.processAllAvailable()
      val r1 = spark.table(name).as[Streams.AsofEnriched].collect()
      assert(r1.length === 1)
      assert(r1.head.purchase_id === Some(10L) && r1.head.gap_us === Some(0L))
      // batch 2: an OLDER purchase cannot regress the monotone state —
      // the next click matches purchase 12, not 13
      input.addData(Event(13, t0.plusMinutes(10), 7L, "purchase", 5.0),
        Event(14, t0.plusMinutes(40), 7L, "click", 1.0))
      q.processAllAvailable()
      val r2 = spark.table(name).as[Streams.AsofEnriched].collect()
        .map(e => e.click_id -> e.purchase_id).toMap
      assert(r2(14L) === Some(12L))
    } finally q.stop()
  }

  test("D6: single-batch replay entry equals the batch as-of join") {
    val streamed = Streams.streamAsofEnrich(spark, dir)
    val batch = graft.operators.AsofJoin.joinAsof(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  /** Run the untimed sketch driver over explicit micro-batches; the
    * sink's full cell history. */
  private def runFold(fold: Streams.SketchFold,
      batches: Seq[Seq[Streams.Tok]]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Tok]
    val name = s"fold_test_${System.nanoTime()}"
    val q = Streams.foldStreaming(fold)(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  test("D7: streaming CMS state equals the batch sketch across out-of-order micro-batches") {
    import spark.implicits._
    import graft.streaming.Streams.Tok
    val w = graft.operators.Sketch.CmsWidth
    val b1 = Seq(Tok("a", "x"), Tok("a", "y"), Tok("b", "x"), Tok("a", "x"))
    val b2 = Seq(Tok("a", "z"), Tok("b", "x"), Tok("a", "x"), Tok("b", "q"))
    val cells = runFold(Streams.CmsFold, Seq(b1, b2))
    // each (source, subshard)'s latest snapshot, subshards re-merged by
    // per-cell SUM — and the result must equal the batch sketch of the
    // CONCATENATED batches (the monoid law, operationally)
    def finalCells = Streams.snapshot(Streams.CmsFold, cells)
      .select(col("g").as("source"), expr(s"key div $w").cast("int").as("r"),
        (col("key") % w).as("bucket"), col("cnt"))
    val streamed = finalCells.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val direct = graft.operators.Sketch
      .topkSketch((b1 ++ b2).toDF("source", "item"), Seq("source"), "item")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === direct)
    // the batch-2 emission carries batch-1 counts forward: source a
    // folded 3 'x' occurrences in total, and every one of x's 3 cells
    // reports >= 3 after the second batch
    val aFinal = finalCells.filter(col("source") === "a").collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    (0 until graft.operators.Sketch.CmsDepth).foreach { r =>
      val b = graft.operators.Sketch.cmsBucketLocal(r, "x").toLong
      assert(aFinal((r, b)) >= 3L, s"cell ($r,$b) lost cross-batch counts")
    }
  }

  test("D7: a NULL text has no tokens — the entry equals agg_topk_sketch") {
    val tmp = java.nio.file.Files.createTempDirectory("d7_null_text").toFile
    try {
      val docs = graft.Tables(spark, dir, "documents")
      docs.withColumn("text",
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("text")))
        .write.parquet(s"$tmp/documents.parquet")
      val nulls = graft.Tables(spark, tmp.getPath, "documents")
        .filter(col("text").isNull).count()
      assert(nulls > 0, "the fixture must hold NULL texts")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(Streams.streamTopkSketch(spark, tmp.getPath)) ===
        rows(graft.operators.Sketch.topkWords(spark, tmp.getPath)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("D8: streaming KMV equals the batch sketch; later batches evict across batches") {
    import spark.implicits._
    import graft.streaming.Streams.Tok
    // >K distinct per (type, subshard) so the sketch saturates and
    // batch 2's smaller hashes must EVICT batch-1 members; overlapping
    // id ranges exercise duplicate-arrival idempotence
    val b1 = (0L until 2000L).map(i => Tok("click", i.toString)) ++
      (0L until 300L).map(i => Tok("view", (i * 7).toString))
    val b2 = (1500L until 3500L).map(i => Tok("click", i.toString)) ++
      (0L until 300L).map(i => Tok("view", (i * 3).toString))
    val cells = runFold(Streams.KmvFold, Seq(b1, b2))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    val streamed = rows(graft.operators.Sketch.kmvFinish(
      Streams.snapshot(Streams.KmvFold, cells).withColumnRenamed("g", "event_type")))
    val direct = rows(graft.operators.Sketch.kmvDistinct(
      (b1 ++ b2).map(t => (t.source, t.item)).toDF("event_type", "user_id")))
    assert(streamed === direct)
    // the click sketch saturated (3500 distinct >> K)
    assert(streamed.find(_._1 === "click").get._2 ===
      graft.operators.Sketch.KmvK.toLong)
    // direct eviction evidence: some batch-1 member of a subshard that
    // re-emitted in batch 2 is gone from its ver=2 snapshot
    def snap(v: Int) = cells
      .filter(col("ver") === v && col("g") === "click")
      .select(col("sub"), col("key")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val v1 = snap(1); val v2 = snap(2)
    val resub = v2.map(_._1)
    assert((v1.filter(p => resub(p._1)) -- v2).nonEmpty,
      "expected cross-batch eviction in at least one subshard")
  }

  test("D8: kmvHashLocal is byte-identical to the md5-conv Column form") {
    import spark.implicits._
    val items = Seq("0", "42", "-7", "999999999999", "", "ünïcode", "a,b|c")
    val fromCol = items.toDF("s")
      .select(conv(substring(md5(concat(lit("kmv:"), col("s"))), 1, 12),
        16, 10).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(fromCol === items.map(graft.operators.Sketch.kmvHashLocal))
  }

  test("D9: streaming log-histogram equals the batch sketch across out-of-order batches") {
    import spark.implicits._
    import graft.streaming.Streams.Tok
    // values spanning buckets incl. 0 and a repeat in a later batch
    // (cross-batch carry); buckets computed by the JVM twin exactly as
    // the entry's map stage does
    val b1v = Seq("a" -> 0L, "a" -> 1L, "a" -> 7L, "b" -> 100L, "a" -> 7L)
    val b2v = Seq("a" -> 6L, "b" -> 100L, "a" -> 1L, "b" -> 255L, "a" -> 1023L)
    def toks(vs: Seq[(String, Long)]) =
      vs.map { case (g, v) => Tok(g, Streams.logBucketLocal(v).toString) }
    val streamed = Streams.snapshot(Streams.HistFold,
        runFold(Streams.HistFold, Seq(toks(b1v), toks(b2v))))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt, r.getLong(2))).toSet
    val direct = graft.operators.Sketch
      .logHistSketch((b1v ++ b2v).toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed === direct)
    // cross-batch carry pinned explicitly: value 1 (bucket 1) arrived
    // once per batch for 'a' — the final snapshot must hold BOTH
    assert(streamed.contains(("a", 1, 2L)),
      "bucket(1) must carry both batches' counts")
  }

  test("D9: logBucketLocal matches the length(bin(v)) Column idiom; negatives fail fast") {
    import spark.implicits._
    val edges = Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 255L, 256L, 1023L,
      (1L << 62) - 1, 1L << 62, Long.MaxValue)
    val fromCol = edges.toDF("v")
      .select(when(col("v") === 0, lit(0))
        .otherwise(length(bin(col("v")))).cast("int"))
      .collect().map(_.getInt(0)).toSeq
    assert(fromCol === edges.map(Streams.logBucketLocal))
    intercept[IllegalArgumentException](Streams.logBucketLocal(-1L))
  }

  test("D7 map-side combiner conserves per-key counts under any flush cap") {
    import graft.streaming.Streams.Tok
    val toks = Seq(Tok("a", "x"), Tok("a", "y"), Tok("a", "x"), Tok("b", "x"),
      Tok("a", "x"), Tok("b", "y"), Tok("a", "y"))
    val expect = Map(("a", "x") -> 3L, ("a", "y") -> 2L,
      ("b", "x") -> 1L, ("b", "y") -> 1L)
    for (cap <- Seq(1, 2, 3, 100)) {
      val out = Streams.localCombine(toks.iterator, cap).toSeq
      val agg = out.groupBy(t => (t.source, t.item))
        .map { case (k, v) => k -> v.map(_.cnt).sum }
      assert(agg === expect, s"cap $cap loses or invents counts")
      assert(out.forall(_.cnt >= 1L))
      // an unbounded cap combines totally: exactly one row per key
      if (cap == 100) assert(out.size === expect.size)
    }
    assert(Streams.localCombine(Iterator.empty, 4).isEmpty)
  }

  private def graftViews: Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_")).toSet

  private def graftScratch: Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).filter(_.startsWith("graft_")).toSet

  test("every stream gate releases its sink: no temp view, no live query, no scratch dir") {
    val gates = Streams.queries.toSeq.filter(_._1 != "stream_sessionize").sortBy(_._1)
    assert(gates.size === 12)
    gates.foreach { case (name, gate) =>
      val (views0, dirs0) = (graftViews, graftScratch)
      val df = gate(spark, dir)
      assert(graftViews -- views0 === Set.empty, s"$name left its sink view")
      assert(spark.streams.active.isEmpty, s"$name left a query running")
      assert(graftScratch -- dirs0 === Set.empty, s"$name left scratch dirs")
      // the caller owns the rows: the frame reads them after the release
      val n = df.count()
      assert(df.count() === n, s"$name's frame changed between reads")
    }
  }

  test("a listener on the caller's session hears every gate's start and termination, and the conf is restored") {
    import java.util.UUID
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[UUID]()
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.id): Unit
    }
    val gates = Streams.queries.toSeq.filter(_._1 != "stream_sessionize").sortBy(_._1)
    val before = spark.conf.getAll
    spark.streams.addListener(listener)
    try {
      gates.foreach { case (name, gate) =>
        val n = started.size
        gate(spark, dir)
        // onQueryStarted is delivered synchronously by start()
        assert(started.size > n, s"$name: no start event on the caller's session")
        assert(spark.conf.getAll === before, s"$name: the start's conf was not restored")
      }
      // termination events arrive on the listener bus, asynchronously
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!terminated.containsAll(started) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(terminated.containsAll(started), "a gate's query ended unheard")
    } finally spark.streams.removeListener(listener)
  }

  test("drain rethrows a failing query's error, having stopped it and dropped its view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val boom = udf((x: Long) =>
      if (x == 2L) throw new IllegalStateException("drain-probe failure") else x)
    val views0 = graftViews
    spark.streams.addListener(listener)
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.drain(spark, OutputMode.Append())(input.toDF().select(boom(col("value"))))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("drain-probe failure")))
    } finally spark.streams.removeListener(listener)
    // onQueryStarted is delivered synchronously by start()
    assert(started.size === 1)
    assert(spark.streams.get(started.peek()) === null, "the failed query is still registered")
    assert(spark.streams.active.isEmpty)
    assert(graftViews === views0, "the failed query's sink view was not dropped")
  }
}
