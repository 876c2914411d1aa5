package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphSpec, Pipeline, Text}

/** [[Loop]]'s two parts: observed metrics with their exact fallback,
  * and conf scopes that live in a private session clone. */
class LoopSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  /** Run `body` with the sticky flag cleared, so every [[Loop.observed]]
    * takes its aggregate fallback; the flag is restored after. */
  private def unobserved[A](body: => A): A = {
    Loop.rides = false
    try body finally Loop.rides = true
  }

  private def kleeneFixture(): (Map[Long, Long], Long) = {
    import spark.implicits._
    val (rank, iters) = Graph.kleeneDist(GraphSpec.seededEdges.toDF("u", "v", "w"))
    try (rank.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, iters)
    finally rank.unpersist(false)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("an observed metric delivers the exact value on the fast path") {
    try {
      val (cp, m) = Loop.observed(spark.range(0, 1000).toDF("x"),
        sum(col("x")).as("s"), count(lit(1)).as("n"))(
        _.localCheckpoint(true))(identity)
      try {
        assert(m.getLong(0) === 499500L && m.getLong(1) === 1000L)
        assert(Loop.rides, "a delivered metric leaves the flag set")
      } finally cp.unpersist(false)
    } finally Loop.rides = true
  }

  test("an observed frame with no rows gives the exact metrics, not an empty row") {
    try {
      val none = spark.range(0, 100).toDF("x").filter(col("x") < 0)
      val (joined, m) = Loop.observed(none,
        sum(col("x")).as("s"), count(lit(1)).as("n"))(
        eo => spark.range(0, 100).toDF("x").join(eo, "x").collect().length)(
        _ => none)
      assert(joined === 0)
      assert(m.length === 2 && m.isNullAt(0) && m.getLong(1) === 0L, m.toString)
      assert(Loop.rides, "an empty frame is not a missed Observation")
    } finally Loop.rides = true
  }

  test("a missed Observation returns the exact agg and clears the sticky flag") {
    try {
      val base = spark.range(0, 100).toDF("x")
      // no action ever runs the observed frame, so a zero wait misses;
      // the outer call then skips its wait (flag cleared) and
      // aggregates its own exact frame: the nested shape of a Kleene
      // window whose last round missed
      val ((inner, innerM), outerM) = Loop.observed(base,
          max(col("x")).as("mx"))({ f =>
        Loop.observed(f.select((col("x") * 2).as("x")),
          sum(col("x")).as("s"))(identity)(identity, timeout = Duration.Zero)
      })(_ => base)
      assert(!Loop.rides, "a miss must clear the sticky flag")
      assert(innerM.getLong(0) === 9900L)
      assert(outerM.getLong(0) === 99L)
      assert(inner.count() === 100L)
    } finally Loop.rides = true
  }

  test("with the sticky flag cleared the Kleene loop gives the observed run's ranks and round") {
    val observed = kleeneFixture()
    assert(observed._2 > 10L && observed._2 < 128L)
    assert(unobserved(kleeneFixture()) === observed)
  }

  test("with the sticky flag cleared bpeLearnBatched gives the observed run's rows") {
    val observed = rows(Text.bpeLearnBatched(spark, dir))
    assert(observed.nonEmpty)
    assert(unobserved(rows(Text.bpeLearnBatched(spark, dir))) === observed)
  }

  test("with the sticky flag cleared qualityTrain gives the observed run's rows") {
    val observed = rows(Pipeline.qualityTrain(spark, dir))
    assert(observed.nonEmpty)
    assert(unobserved(rows(Pipeline.qualityTrain(spark, dir))) === observed)
  }

  /** Whether `df` plans adaptively, and the widths of its shuffles. */
  private def planOf(df: DataFrame): (Boolean, Seq[Int]) = {
    def widths(p: SparkPlan) =
      p.collect { case x: ShuffleExchangeExec => x.outputPartitioning.numPartitions }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => (true, widths(a.executedPlan))
      case p => (false, widths(p))
    }
  }

  private def grouped(df: DataFrame): DataFrame =
    df.groupBy((col("id") % 13).as("k")).count()

  test("a scope's conf stays in its clone: the caller plans adaptively at its own width meanwhile") {
    val before = spark.conf.getAll
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(width !== 3)
    val scope = new Loop.Isolated(spark,
      "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "3")
    val inner = grouped(scope.in(spark.range(0, 1000).toDF()))
    assert(planOf(inner) === ((false, Seq(3))))
    assert(planOf(grouped(spark.range(0, 1000).toDF())) === ((true, Seq(width))))
    assert(spark.conf.getAll === before)
    // a frame moved back plans with the caller's settings again
    val back = scope.out(inner)
    assert(planOf(back) === ((true, Seq(width))))
    assert(rows(back) === rows(grouped(spark.range(0, 1000).toDF())))
    assert(spark.conf.getAll === before)
  }

  test("two Kleene loops, a PageRank and an unrelated query at once: serial results, the caller's conf never changes") {
    val before = spark.conf.getAll
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def unrelated(): ((Boolean, Seq[Int]), Seq[String], Boolean) = {
      val df = grouped(spark.range(0, 5000).toDF())
      (planOf(df), rows(df), spark.conf.getAll == before)
    }
    val serialKleene = kleeneFixture()
    val serialRank = rows(Graph.pagerank(spark, dir))
    val serialUnrelated = ((true, Seq(width)), rows(grouped(spark.range(0, 5000).toDF())), true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val kleenes = Seq.fill(2)(Future { go.await(); kleeneFixture() })
      val rank = Future { go.await(); rows(Graph.pagerank(spark, dir)) }
      val loops = Future.sequence(kleenes :+ rank)
      // planned and run again and again while the loops run
      val others = Future {
        go.await()
        Iterator.continually(unrelated()).takeWhile(_ => !loops.isCompleted).toVector :+ unrelated()
      }
      go.countDown()
      kleenes.foreach(k => assert(Await.result(k, 5.minutes) === serialKleene))
      assert(Await.result(rank, 5.minutes) === serialRank)
      val seen = Await.result(others, 5.minutes)
      assert(seen.size > 1)
      seen.foreach(u => assert(u === serialUnrelated))
    } finally pool.shutdown()
    assert(spark.conf.getAll === before)
  }
}
