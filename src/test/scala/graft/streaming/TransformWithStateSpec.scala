package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.SparkSpec
import graft.streaming.Streams.{AsofEnriched, AsofState, Event}

/** The r13-verdict transformWithState migration probe (stretch #7):
  * D2/D6 run on `flatMapGroupsWithState`; Spark 4's
  * `transformWithState` (TWS) is the successor API — typed state
  * handles, timers, declarative TTL, and INITIAL-STATE seeding — but
  * it requires the RocksDB state store provider. This spec implements
  * the D6 fold as a `StatefulProcessor` and measures what migrating
  * would buy:
  *
  *  - Probe 1 (semantics): the TWS twin reproduces the
  *    flatMapGroupsWithState operator's output EXACTLY on the same
  *    multi-batch, out-of-order MemoryStream — migration is
  *    semantics-preserving, i.e. pure churn for the existing gated
  *    contracts.
  *  - Probe 2 (new capability): initial-state seeding runs the D6
  *    scaladoc's PRODUCTION BACKFILL RECIPE end-to-end — history
  *    folded BATCH-side into one latest-purchase row per key, the
  *    stream seeded at the cutover, live clicks enriched by history
  *    purchases that were never streamed. flatMapGroupsWithState
  *    cannot express this without replaying history through the
  *    stream (the giant-first-micro-batch straggler D6's scaladoc
  *    warns about).
  *
  * VERDICT (recorded for SURVEY §8): keep flatMapGroupsWithState for
  * the gated D2/D6 entries — identical semantics, no RocksDB
  * requirement — and reach for TWS exactly when a pipeline needs
  * state seeding (backfill cutover) or TTL'd/timer-driven state;
  * probe 2 is the committed recipe for that day. */
class TransformWithStateSpec extends SparkSpec {

  private def withRocksDb[A](body: => A): A =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  test("TWS twin reproduces the flatMapGroupsWithState D6 output exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    // the full D6 contract surface: cross-batch carry, pre-purchase
    // null, out-of-order (older-than-state) null, equal-ts match,
    // within-batch monotone state, two keys interleaved
    val batches: Seq[Seq[Event]] = Seq(
      Seq(Event(100, t0, 7L, "purchase", 5.0),
        Event(200, t0.minusMinutes(1), 9L, "click", 1.0)),
      Seq(Event(101, t0.plusMinutes(5), 7L, "click", 1.0),
        Event(102, t0.plusMinutes(5), 9L, "purchase", 2.0),
        Event(103, t0.plusMinutes(5), 9L, "click", 1.0)),
      Seq(Event(104, t0.minusMinutes(30), 7L, "click", 1.0), // older than state
        Event(105, t0.plusMinutes(9), 7L, "purchase", 3.0),
        Event(106, t0.plusMinutes(8), 7L, "purchase", 4.0),
        Event(107, t0.plusMinutes(10), 7L, "click", 1.0)))
    def run(f: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[AsofEnriched]): Set[AsofEnriched] = {
      val input = MemoryStream[Event]
      val name = s"tws_probe_${System.nanoTime()}"
      val q = f(input.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[AsofEnriched].collect().toSet
      } finally q.stop()
    }
    val viaFmgws = run(Streams.asofEnrichStreaming)
    val viaTws = withRocksDb {
      run(ev => ev.filter(e => e.event_type == "click" || e.event_type == "purchase")
        .groupByKey(_.user_id)
        .transformWithState(new TwsProbe.AsofProcessor,
          TimeMode.None(), OutputMode.Append()))
    }
    assert(viaTws === viaFmgws, "TWS migration must be semantics-preserving")
    assert(viaFmgws.size === 5)
    // spot-pin the interesting rows so the comparison is non-vacuous
    assert(viaFmgws.exists(r => r.click_id == 104 && r.purchase_id.isEmpty),
      "older-than-state click must emit null")
    assert(viaFmgws.exists(r => r.click_id == 107 && r.purchase_id.contains(105L)),
      "latest purchase (by ts) must win within a batch")
  }

  test("TWS initial state runs the D6 backfill recipe: seed at cutover, stream live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    // HISTORY (never streamed): purchases for users 7 and 9
    val history = Seq(
      Event(1, t0.minusHours(2), 7L, "purchase", 5.0),
      Event(2, t0.minusHours(1), 7L, "purchase", 6.0), // the latest for 7
      Event(3, t0.minusMinutes(30), 9L, "purchase", 7.0))
    // the batch-side seed: latest purchase at-or-before the cutover,
    // exactly what asofBackwardChunked's boundary pass produces per key
    val seed = history.groupBy(_.user_id).map { case (uid, evs) =>
      val latest = evs.maxBy(e => (TwsProbe.micros(e.ts), e.event_id))
      uid -> AsofState(TwsProbe.micros(latest.ts), latest.event_id)
    }.toSeq.toDS().groupByKey(_._1).mapValues(_._2)
    val out = withRocksDb {
      val input = MemoryStream[Event]
      val name = s"tws_seed_${System.nanoTime()}"
      val q = input.toDS()
        .filter(e => e.event_type == "click" || e.event_type == "purchase")
        .groupByKey(_.user_id)
        .transformWithState(new TwsProbe.AsofProcessor,
          TimeMode.None(), OutputMode.Append(), seed)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        // LIVE: user 7 clicks (enriched by the seeded history purchase),
        // user 9 purchases then clicks (live state supersedes the seed)
        input.addData(Event(10, t0.plusMinutes(1), 7L, "click", 1.0))
        q.processAllAvailable()
        input.addData(
          Event(11, t0.plusMinutes(2), 9L, "purchase", 8.0),
          Event(12, t0.plusMinutes(3), 9L, "click", 1.0))
        q.processAllAvailable()
        spark.table(name).as[AsofEnriched].collect().toSet
      } finally q.stop()
    }
    assert(out.size === 2)
    // the history purchase (id 2) enriched a live click without ever
    // being streamed — the capability flatMapGroupsWithState lacks
    assert(out.exists(r => r.click_id == 10 && r.purchase_id.contains(2L)))
    // live state supersedes the seed where newer
    assert(out.exists(r => r.click_id == 12 && r.purchase_id.contains(11L)))
  }
  // --------------------------------------- D7b/D8b/D9b TTL live sketches
  import java.sql.Timestamp
  import org.apache.spark.sql.functions.col
  import graft.streaming.Streams.TtlIn

  private def tsAt(t0: LocalDateTime, plusMin: Long): Timestamp =
    Timestamp.valueOf(t0.plusMinutes(plusMin))

  /** Drive the TTL driver over explicit micro-batches; returns the
    * full emitted cell history. */
  private def runTtl(fold: Streams.SketchFold, batches: Seq[Seq[TtlIn]],
      windowMs: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[TtlIn]
      val name = s"tws_ttl_${System.nanoTime()}"
      val q = Streams.ttlStreaming(fold, windowMs)(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(name)
    }
  }

  private def tombstoned(cells: org.apache.spark.sql.DataFrame, g: String): Boolean =
    !cells.filter(col("g") === g && col("key") === -1L).isEmpty

  /** Latest-version surviving hash set per key — the entries' read. */
  private def survivors(cells: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] =
    Streams.snapshot(Streams.KmvFold, cells).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap

  private def kmv(uids: Long*): Set[Long] =
    uids.map(u => graft.operators.Sketch.kmvHashLocal(u.toString)).toSet

  test("TTL KMV: an idle key's state is evicted at the event-time watermark and restarts") {
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val w = 10L * 60 * 1000 // 10 minutes
    def in(tp: String, uid: Long, m: Long) = TtlIn(tp, uid.toString, tsAt(t0, m))
    val cells = runTtl(Streams.KmvFold, Seq(
      // batch 1: A has 5 users, B one — both sketches live
      Seq(in("A", 1, 0), in("A", 2, 0), in("A", 3, 0), in("A", 4, 0),
        in("A", 5, 0), in("B", 100, 0)),
      // batch 2: only B, 30 min later — advances the watermark past
      // A's idle timer (t0 + 10 min)
      Seq(in("B", 101, 30)),
      // batch 3: only B again — A's timer fires against the advanced
      // watermark, state cleared, tombstone emitted
      Seq(in("B", 102, 40)),
      // batch 4: A returns — the sketch RESTARTS from empty
      Seq(in("A", 6, 45), in("A", 7, 45))), w)
    // the eviction tombstone was emitted for A
    assert(tombstoned(cells, "A"), "expected an eviction tombstone for the idle key")
    val sv = survivors(cells)
    // streamed ≡ batch ON THE SURVIVING WINDOW: A restarted at batch 4;
    // B never idled past the window, so its full history survives
    assert(sv("A") === kmv(6, 7))
    assert(sv("B") === kmv(100, 101, 102))
  }

  /** Latest-version surviving (idx → cnt) map per key. */
  private def cellSurvivors(fold: Streams.SketchFold,
      cells: org.apache.spark.sql.DataFrame): Map[String, Map[Int, Long]] =
    Streams.snapshot(fold, cells).collect().toSeq
      .groupBy(_.getString(0)).map { case (g, rs) =>
        g -> rs.map(r => r.getLong(1).toInt -> r.getLong(2)).toMap
      }

  /** The batch CMS fold over items, as the expected cell map. */
  private def cmsFold(items: Seq[String]): Map[Int, Long] = {
    val m = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    items.foreach { it =>
      (0 until graft.operators.Sketch.CmsDepth).foreach { r =>
        m(r * graft.operators.Sketch.CmsWidth +
          graft.operators.Sketch.cmsBucketLocal(r, it)) += 1L
      }
    }
    m.toMap
  }

  test("TTL cells: an idle CMS key evicts at the watermark; the survivor is the window's fold") {
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val w = 10L * 60 * 1000 // 10 minutes
    def in(g: String, item: String, m: Long) = TtlIn(g, item, tsAt(t0, m))
    val cells = runTtl(Streams.CmsFold, Seq(
      // batch 1: A counts u1 twice + u2 once; B one item
      Seq(in("A", "u1", 0), in("A", "u2", 0), in("A", "u1", 0),
        in("B", "x", 0)),
      // batches 2-3: only B — the watermark passes A's idle timer,
      // A's counters clear, tombstone emitted
      Seq(in("B", "y", 30)),
      Seq(in("B", "x", 40)),
      // batch 4: A returns — counters RESTART from zero
      Seq(in("A", "u1", 45))), w)
    assert(tombstoned(cells, "A"), "expected an eviction tombstone for the idle key")
    val sv = cellSurvivors(Streams.CmsFold, cells)
    // A's surviving counters are batch 4's fold alone; B never idled
    // past the window, so its full history survives
    assert(sv("A") === cmsFold(Seq("u1")))
    assert(sv("B") === cmsFold(Seq("x", "y", "x")))
  }

  test("TTL cells: without an over-window gap, streamed equals the batch fold (CMS and histogram)") {
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val w = 60L * 60 * 1000 // 1 hour — gaps below never expire
    def in(g: String, item: String, m: Long) = TtlIn(g, item, tsAt(t0, m))
    // out-of-order arrivals within batches; multi-batch accumulation
    val cells = runTtl(Streams.CmsFold, Seq(
      Seq(in("A", "u1", 20), in("A", "u2", 0), in("B", "x", 5)),
      Seq(in("A", "u1", 25), in("B", "x", 50), in("A", "u3", 35))), w)
    assert(cells.filter(col("key") === -1L).isEmpty, "nothing may evict below the window")
    val sv = cellSurvivors(Streams.CmsFold, cells)
    assert(sv("A") === cmsFold(Seq("u1", "u2", "u1", "u3")))
    assert(sv("B") === cmsFold(Seq("x", "x")))
    // the histogram through the same driver: values land in their
    // bit-length buckets and accumulate across batches
    def hin(g: String, v: Long, m: Long) =
      TtlIn(g, Streams.logBucketLocal(v).toString, tsAt(t0, m))
    val hcells = runTtl(Streams.HistFold, Seq(
      Seq(hin("P", 1L, 0), hin("P", 7L, 10)),
      Seq(hin("P", 8L, 20), hin("Q", 0L, 20))), w)
    val hv = cellSurvivors(Streams.HistFold, hcells)
    assert(hv("P") === Map(1 -> 1L, 3 -> 1L, 4 -> 1L))
    assert(hv("Q") === Map(0 -> 1L))
  }

  test("TTL KMV: without an over-window gap, streamed equals the full batch sketch") {
    val t0 = LocalDateTime.of(2024, 3, 1, 10, 0, 0)
    val w = 60L * 60 * 1000 // 1 hour — gaps below never expire
    def in(tp: String, uid: Long, m: Long) = TtlIn(tp, uid.toString, tsAt(t0, m))
    val cells = runTtl(Streams.KmvFold, Seq(
      Seq(in("A", 1, 0), in("B", 9, 5)),
      Seq(in("A", 2, 20), in("A", 1, 25)), // duplicate arrival folds away
      Seq(in("B", 8, 50), in("A", 3, 55))), w)
    assert(cells.filter(col("key") === -1L).isEmpty, "nothing may evict below the window")
    val sv = survivors(cells)
    assert(sv("A") === kmv(1, 2, 3))
    assert(sv("B") === kmv(8, 9))
  }

  test("D3c near-dup gate: single-batch replay equals the batch C2-gated dedup") {
    val dir = sf("sf0.001")
    val streamed = Streams.streamDedupNeardup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val docs = graft.Tables(spark, dir, "documents")
    val dropped = graft.operators.Dedup.minhashLsh(docs)
      .select("doc_b").distinct().collect().map(_.getLong(0)).toSet
    val expected = graft.operators.Dedup.shingled(docs)
      .collect().map(_.getLong(0)).toSet -- dropped
    assert(streamed === expected,
      "the live gate must keep exactly the docs the batch operator keeps")
    assert(dropped.nonEmpty, "fixture must actually drop near-dups")
  }

  test("D3c near-dup gate: cross-batch carry — a batch-2 near-dup of a batch-1 doc is dropped") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val near = base + " w11" // 8 of 9 shingles shared → Jaccard 8/9
    val other = (1 to 10).map(i => s"x$i").mkString(" ")
    val third = (1 to 10).map(i => s"y$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val name = s"d3c_carry_${System.nanoTime()}"
    val bands = graft.operators.Dedup.lshBandRows(
        input.toDS().toDF("doc_id", "text"))
      .select(col("band_key"), col("doc_id"))
      .as[Streams.BandArrival]
    val q = withRocksDb {
      bands.groupByKey(_.band_key)
        .transformWithState(new Streams.NearDupProcessor,
          TimeMode.None(), OutputMode.Append())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
    }
    try {
      input.addData((1L, base), (2L, other)); q.processAllAvailable()
      val afterB1 = spark.table(name).as[Streams.NearDupCand]
        .collect().map(c => (c.doc_a, c.doc_b)).toSet
      assert(afterB1 === Set.empty[(Long, Long)],
        "batch 1 holds no shared-band candidates")
      input.addData((3L, near), (4L, third)); q.processAllAvailable()
      val cands = spark.table(name).as[Streams.NearDupCand]
        .collect().map(c => (c.doc_a, c.doc_b)).toSet
      assert(cands === Set((1L, 3L)),
        "the batch-2 near-dup of a batch-1 doc must surface as a " +
          "candidate pair (state carries across micro-batches); " +
          "unrelated docs pair with nothing")
      // and the exact verify keeps everything except the candidate's
      // later side — the full entry contract on the carry fixture
      val docs = Seq((1L, base), (2L, other), (3L, near), (4L, third))
        .toDF("doc_id", "text")
      val kept = graft.operators.Dedup.nearDupKept(docs,
        spark.table(name).select(col("doc_a"), col("doc_b")).distinct())
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L), "verified drop = the near-dup only")
    } finally q.stop()
  }
}

/** Top-level (serialization-clean) home for the probe's processor. */
private[streaming] object TwsProbe {
  def micros(t: LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L

  /** The D6 fold ([[Streams.asofEnrichStreaming]]) re-expressed as a
    * StatefulProcessor: identical slice sort, identical monotone
    * latest-right state, plus TWS's initial-state hook (the backfill
    * seed). */
  final class AsofProcessor
      extends StatefulProcessorWithInitialState[Long, Event, AsofEnriched, AsofState] {
    @transient private var latest: ValueState[AsofState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[AsofState]("latest",
        Encoders.product[AsofState], TTLConfig.NONE)

    override def handleInitialState(key: Long, initialState: AsofState,
        timerValues: TimerValues): Unit =
      latest.update(initialState)

    override def handleInputRows(uid: Long, in: Iterator[Event],
        timerValues: TimerValues): Iterator[AsofEnriched] = {
      val evs = in.toArray.sortBy(e =>
        (micros(e.ts), if (e.event_type == "purchase") 0 else 1, e.event_id))
      val out = Vector.newBuilder[AsofEnriched]
      evs.foreach { e =>
        val us = micros(e.ts)
        if (e.event_type == "purchase") {
          if (!latest.exists() || latest.get().ts < us ||
              (latest.get().ts == us && latest.get().rid < e.event_id))
            latest.update(AsofState(us, e.event_id))
        } else {
          if (latest.exists() && latest.get().ts <= us) {
            val s = latest.get()
            out += AsofEnriched(uid, e.event_id, us,
              Some(s.rid), Some(s.ts), Some(us - s.ts))
          } else {
            out += AsofEnriched(uid, e.event_id, us, None, None, None)
          }
        }
      }
      out.result().iterator
    }
  }
}
