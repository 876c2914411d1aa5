package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C42 z-order layout: Morton-code correctness on known bit patterns,
  * axis monotonicity, the per-bucket locality guarantee the operator
  * exists for, and the broadcast (never nested-loop) plan shape. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def zOf(pairs: (Long, Long)*): Seq[Long] =
    pairs.toSeq.toDF("ux", "uy")
      .selectExpr(s"(${Layout.zExprSpark("ux", "uy")}) AS z")
      .as[Long].collect().toSeq

  test("morton code: known interleavings") {
    // z(x, y) interleaves x into even bits, y into odd bits
    assert(zOf((0L, 0L)) === Seq(0L))
    assert(zOf((1L, 0L)) === Seq(1L))
    assert(zOf((0L, 1L)) === Seq(2L))
    assert(zOf((1L, 1L)) === Seq(3L))
    assert(zOf((3L, 3L)) === Seq(15L))
    assert(zOf((5L, 0L)) === Seq(17L))     // 101 -> 1_0_1 = 10001
    assert(zOf((0L, 5L)) === Seq(34L))     // odd-bit copy of 17
    assert(zOf((65535L, 65535L)) === Seq((1L << 32) - 1))
  }

  test("morton code: monotone along each axis, bijective on a grid") {
    val grid = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y)
    val zs = zOf(grid: _*)
    val byPair = grid.zip(zs).toMap
    for (y <- 0L until 8L; x <- 0L until 7L)
      assert(byPair((x, y)) < byPair((x + 1, y)), s"x-monotone at ($x,$y)")
    for (x <- 0L until 8L; y <- 0L until 7L)
      assert(byPair((x, y)) < byPair((x, y + 1)), s"y-monotone at ($x,$y)")
    assert(zs.distinct.length === grid.length, "z must be injective")
  }

  test("morton code: randomized differential vs a JVM bit-interleave") {
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    var seed = 0xDEADBEEFCAFEL
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed >>> 11 }
    val pairs = (0 until 300).map(_ => (next() % 65536, next() % 65536))
    assert(zOf(pairs: _*) === pairs.map { case (x, y) => ref(x, y) })
  }

  test("buckets are small hyper-rectangles in BOTH dims on the corpus") {
    val events = graft.Tables(spark, sf("sf0.001"), "events")
    val out = Layout.zorder(events).cache()
    try {
      assert(out.count() > 1, "corpus must spread over multiple buckets")
      val g = events.select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .agg(min("user_id"), max("user_id"), min("s"), max("s")).head()
      val (uRange, sRange) =
        (g.getLong(1) - g.getLong(0), g.getLong(3) - g.getLong(2))
      // top 8 z bits = top 4 bits of each dim ⇒ every bucket spans at
      // most 1/16 of each dim's range (+1 scaled-unit rounding slack);
      // assert the conservative 1/8 bound — the pruning property
      val bad = out.filter(
        (col("max_user") - col("min_user")) > lit(uRange / 8 + 2) ||
        (col("max_s") - col("min_s")) > lit(sRange / 8 + 2))
      assert(bad.count() === 0,
        "a z-bucket spans more than 1/8 of a dimension — no pruning value")
      // conservation: bucket counts sum to the corpus
      assert(out.agg(sum("n_events")).head().getLong(0) === events.count())
    } finally out.unpersist()
  }

  test("plan: literal-inlined bounds keep the corpus scan join-free") {
    val events = graft.Tables(spark, sf("sf0.001"), "events")
    val plan = Layout.zorder(events).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("Join"), s"bounds must inline as literals:\n$plan")
  }

  test("empty input yields an empty frame, not a crash") {
    val empty = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(Layout.zorder(empty).count() === 0)
  }

  // -------------------------------------------------------------- C42b
  test("zorderWrite: the written corpus is a complete, correctly-bucketed permutation") {
    val dir = sf("sf0.001")
    val events = graft.Tables(spark, dir, "events")
    val outDir = graft.Scratch.dir("zorder_write_spec")
    val out = Layout.zorderWrite(events, outDir).cache()
    try {
      // conservation: every input row lands in exactly one bucket file
      assert(out.agg(sum("n_events")).head().getLong(0) === events.count())
      // the digest of the WRITTEN files equals the digest of the input
      val rawDigest = events.agg(
        sum(expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT) % 1000003")).cast("long")).head().getLong(0)
      assert(out.agg(sum("digest")).head().getLong(0) === rawDigest)
      // physical layout: one directory per z-bucket, ≤256 of them
      val dirs = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("zbucket="))
      assert(dirs.nonEmpty && dirs.length <= 256)
      assert(dirs.length === out.count())
      // hyper-rectangle law on the WRITTEN buckets, in rank space:
      // the top 4 bits of each dim are fixed ⇒ rank span ≤ 2^12 − 1
      val g = events.select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .agg(min("user_id"), max("user_id"), min("s"), max("s")).head()
      val (mnu, ru) = (g.getLong(0), math.max(g.getLong(1) - g.getLong(0), 1L))
      val (mns, rs) = (g.getLong(2), math.max(g.getLong(3) - g.getLong(2), 1L))
      val bad = out.filter(
        (col("max_user") - lit(mnu)) * 65535 / lit(ru) -
          (col("min_user") - lit(mnu)) * 65535 / lit(ru) > 4095 ||
        (col("max_s") - lit(mns)) * 65535 / lit(rs) -
          (col("min_s") - lit(mns)) * 65535 / lit(rs) > 4095)
      assert(bad.count() === 0, "a written bucket exceeds its z-cell")
    } finally { out.unpersist(); graft.Scratch.delete(outDir) }
  }

  // -------------------------------------------------------------- C42c
  test("zorderSkip: the z layout prunes BOTH dims; the time layout cannot prune user predicates") {
    // sf0.01: all 256 buckets of both layouts are populated, so the
    // ratios are the structural ones (sparser SFs under-populate and
    // soften the timesort side)
    val rows = Layout.zorderSkip(spark, sf("sf0.01")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def scanned(layout: String, boxes: Range) =
      rows.filter(r => r._1 == layout && boxes.contains(r._2.toInt))
        .map(_._4).sum
    def total(layout: String, boxes: Range) =
      rows.filter(r => r._1 == layout && boxes.contains(r._2.toInt))
        .map(_._3).sum
    // user stripes (boxes 0-3): timesort scans EVERY file, z scans 1/4
    assert(scanned("timesort", 0 until 4) === total("timesort", 0 until 4))
    assert(scanned("zorder", 0 until 4) * 4 <= total("zorder", 0 until 4))
    // time stripes (4-7): both layouts prune to 1/4
    assert(scanned("timesort", 4 until 8) * 4 <= total("timesort", 4 until 8))
    assert(scanned("zorder", 4 until 8) * 4 <= total("zorder", 4 until 8))
    // quartile cells (8-23): z prunes both dims — at least 3× fewer
    // files than the time layout's time-only pruning
    assert(scanned("zorder", 8 until 24) * 3 < scanned("timesort", 8 until 24))
  }

  test("zorderSkip: a REAL parquet reader skips exactly the files the stats model predicts") {
    // the audit above simulates footer pruning from rank stats; this
    // drives Spark's actual parquet reader over the C42b-WRITTEN
    // corpus with a pushed user_id predicate and reads the scan's
    // execution metric. With one file (= one row group = one page)
    // per z-bucket at this SF and record-level filtering off by
    // default, the scan's numOutputRows is precisely the rows of the
    // row groups that SURVIVED footer min/max pruning — so it must
    // equal the per-bucket stats model's prediction, row for row
    val dir = sf("sf0.001")
    val events = graft.Tables(spark, dir, "events")
    val outDir = graft.Scratch.dir("zorder_metrics_spec")
    try {
      val stats = Layout.zorderWrite(events, outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .map { case (b, n, mnu, mxu) => (b, n, mnu, mxu) }
      // a user-quartile predicate (the stripe the 1-D time layout
      // cannot prune): [global min, min + range/4]
      val gmin = stats.map(_._3).min
      val gmax = stats.map(_._4).max
      val uhi = gmin + (gmax - gmin) / 4
      val expected = stats.filter(s => s._3 <= uhi).map(_._2).sum
      val totalRows = stats.map(_._2).sum
      assert(expected * 2 < totalRows,
        "fixture must actually prune (expected scan < half the corpus)")
      val df = spark.read.parquet(outDir)
        .filter(col("user_id") >= gmin && col("user_id") <= uhi)
      df.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec in the plan"))
      assert(scan.metadata("PushedFilters").contains("user_id"),
        s"the predicate must reach the parquet reader: ${scan.metadata}")
      val scanRows = scan.metrics("numOutputRows").value
      assert(scanRows === expected,
        s"reader scanned $scanRows rows; the stats model predicts $expected" +
          s" (of $totalRows total) — footer pruning diverged from the audit")
    } finally graft.Scratch.delete(outDir)
  }
}
