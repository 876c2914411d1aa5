package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphSpec, Pipeline, Text}
import graft.streaming.Streams

/** [[Loop]]'s two parts: observed metrics with their exact fallback,
  * and conf scopes that restore what they found. */
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

  test("withConf restores set keys, unsets absent ones, and nests") {
    val set = "spark.sql.shuffle.partitions"
    val absent = "graft.loop.spec.absent"
    val before = spark.conf.get(set)
    Loop.withConf(spark, set -> "3", absent -> "x") {
      assert(spark.conf.get(set) === "3")
      Loop.withConf(spark, set -> "5") { assert(spark.conf.get(set) === "5") }
      assert(spark.conf.get(set) === "3" && spark.conf.get(absent) === "x")
    }
    assert(spark.conf.get(set) === before)
    assert(spark.conf.getOption(absent).isEmpty)
    intercept[IllegalStateException] {
      Loop.withConf(spark, set -> "7") { throw new IllegalStateException }
    }
    assert(spark.conf.get(set) === before, "a failing body still restores")
  }

  test("conf scopes restore what they found when two Kleene loops and a stream start run at once") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    def confState = keys.map(k =>
      (k, spark.conf.getOption(k), spark.conf.getAll.get(k)))
    val before = confState
    val serialKleene = kleeneFixture()
    val serialWindow = rows(Streams.windowAgg(spark, dir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val kleenes = Seq.fill(2)(Future { go.await(); kleeneFixture() })
      val window = Future { go.await(); rows(Streams.windowAgg(spark, dir)) }
      go.countDown()
      kleenes.foreach(k => assert(Await.result(k, 5.minutes) === serialKleene))
      assert(Await.result(window, 5.minutes) === serialWindow)
    } finally pool.shutdown()
    assert(confState === before)
  }
}
