package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C50 PageRank specs: a fully hand-computed 3-node fixture (every
  * round's integer arithmetic checked), hub ordering on the real
  * corpus, and layout invariance. */
class GraphSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("pagerank: hand-computed 3-node bipartite fixture, all rounds exact") {
    import spark.implicits._
    // customers 1, 2 both trade with supplier 1 (one duplicated pair
    // exercises the DISTINCT): nodes c1=2, c2=4, s1=3; edges
    // symmetric. By hand (ppm, floor division at every step):
    //   r1: s1 = 150000 + 850000·(1e6+1e6)//1e6      = 1,850,000
    //       c  = 150000 + 850000·(1e6//2)//1e6       =   575,000
    //   r2: s1 = 150000 + (850000·1,150,000)//1e6    = 1,127,500
    //       c  = 150000 + (850000·(1,850,000//2))//1e6 =  936,250
    //   r3: s1 = 150000 + (850000·1,872,500)//1e6    = 1,741,625
    //       c  = 150000 + (850000·(1,127,500//2))//1e6 = 629,187
    val orders = Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L), (11L, 1L), (10L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val res = Graph.pagerank(orders, lineitem).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(res === List(
      ("supplier", 1L, 1741625L),
      ("customer", 1L, 629187L),
      ("customer", 2L, 629187L)))
  }

  test("pagerank on the corpus: damping floor holds, top node is a supplier hub") {
    val res = corpusRanks()
    assert(res.length === 20)
    // every rank carries at least the teleport mass
    assert(res.forall(_._3 >= 150000L))
    // the bipartite trade graph is customer-heavy (150 customers, 10
    // suppliers at sf0.001), so rank concentrates on supplier hubs
    assert(res.head._1 === "supplier")
    // total order: (rank desc, type, key) strictly sorted
    val keys = res.map(r => (-r._3, r._1, r._2))
    assert(keys === keys.sorted)
  }

  test("pagerank leaves no persisted RDD behind for its caller") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val top = Graph.pagerank(spark, dir)
    val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(gained.isEmpty, s"pagerank left persisted RDDs $gained")
    assert(top.collect().length === 20)
  }

  private def corpusRanks() =
    Graph.pagerank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList

  test("pagerank is layout-invariant") {
    import graft.Tables
    val base = Graph.pagerank(spark, dir).collect().toSeq
    val shuffled = Graph.pagerank(
      Tables(spark, dir, "orders").repartition(7),
      Tables(spark, dir, "lineitem").repartition(5)).collect().toSeq
    assert(base === shuffled)
  }

  // ------------------------------------------------------------- C51
  test("pagerankConverged: exact fixed point reached before the cap, stable under one more step") {
    val rows = Graph.pagerankConverged(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val iters = rows.head._4
    assert(rows.forall(_._4 === iters), "iters is a frame constant")
    assert(iters > 1 && iters < Graph.PrcCap,
      s"must genuinely converge before the cap (got $iters)")
    // every rank carries at least the teleport mass; order is total
    assert(rows.forall(_._3 >= 1500L))
    val keys = rows.map(r => (-r._3, r._1, r._2)).toList
    assert(keys === keys.sorted)
    // STABILITY: recompute the graph independently and check the
    // output frame maps to itself under one more Kleene step
    val t = graft.Tables
    val ew0 = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey"), col("s_nationkey"), col("o_custkey"), col("l_suppkey"))
      .distinct()
      .select((col("c_nationkey").cast("long") * 2).as("u"),
        (col("s_nationkey").cast("long") * 2 + 1).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = ew0 ++ ew0.map { case (u, v, w) => (v, u, w) }
    val tw = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
    val names = t(spark, dir, "nation")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val frame = rows.map { case (tp, name, r, _) =>
      val nk = names.collectFirst { case (k, v) if v == name => k }.get
      (if (tp == "customer") nk * 2 else nk * 2 + 1) -> r
    }.toMap
    assert(Graph.prcStep(edges, tw, frame) === frame,
      "the gated frame must be an exact fixed point")
  }

  // ------------------------------------------------------------- C54
  test("pagerankPersonalized: seed dominates, mass concentrates near it, exact convergence") {
    val conv = Graph.pagerankConverged(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pers = Graph.pagerankPersonalized(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(pers.map(r => (r._1, r._2)).toSet === conv.map(r => (r._1, r._2)).toSet,
      "same node set as the uniform form")
    val iters = pers.head._4
    assert(iters > 1 && iters < Graph.PrcCap, s"genuine convergence (got $iters)")
    // the seed (a customer-side nation) holds the top rank — all
    // teleport mass enters there
    assert(pers.head._1 === "customer", "top-ranked node must be the seed")
    assert(pers.head._3 > pers(1)._3, "seed rank strictly dominates")
    // personalization reorders: the rank ordering differs from uniform
    assert(pers.map(r => (r._1, r._2)).toSeq !== conv.map(r => (r._1, r._2)).toSeq,
      "seed concentration must change the ordering")
    // every rank is non-negative and supplier ranks are reachable mass
    assert(pers.forall(_._3 >= 0))
    assert(pers.filter(_._1 == "supplier").forall(_._3 > 0),
      "suppliers trade with the seed's market — reachable, positive rank")
  }

  test("pagerankConverged: two-node hand fixture converges to the scalar fixed point") {
    import spark.implicits._
    // one customer (nation 0) trades with one supplier (nation 1):
    // both nodes see the symmetric single-edge update
    // r' = 1500 + 8500·r // 10⁴, whose least fixed point from 1500 is
    // the first r with 8500·r // 10⁴ = r − 1500
    val orders = Seq((10L, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L)).toDF("l_orderkey", "l_suppkey")
    val customer = Seq((1L, 0L)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((0L, "ALPHA"), (1L, "BETA")).toDF("n_nationkey", "n_name")
    val rows = Graph.pagerankConverged(lineitem, orders, customer, supplier, nation)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 2)
    val r = rows.head._3
    assert(rows.forall(_._3 === r), "symmetric nodes rank equally")
    assert(8500L * r / 10000L === r - 1500L, "scalar fixed-point equation")
    assert(8500L * (r - 1) / 10000L !== r - 1 - 1500L,
      "least such point: the value below is not fixed")
  }

  test("kleeneDist ≡ collected kleene: ranks AND convergence round on a seeded graph") {
    import spark.implicits._
    val edges = GraphSpec.seededEdges
    val tw = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val tele = tw.keys.map(_ -> 1500L).toMap
    val (rc, itc) = Graph.kleene(edges.toArray, tw, tele)
    val (rdf, itd) = Graph.kleeneDist(edges.toDF("u", "v", "w"))
    val rd = rdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(itd === itc, "convergence round must match the collected loop")
    assert(itc < 128L, "fixture must actually converge before the cap")
    assert(itc > 10L, "fixture must take a non-trivial number of rounds")
    assert(rd === rc, "fixed-point ranks must match the collected loop")
  }

  test("pagerankDistConverged: hand-checkable symmetric pair + corpus convergence") {
    import spark.implicits._
    // one customer trades with one supplier in two distinct orders:
    // w = 2 both ways, tw = 2 each, so the update collapses to the
    // same scalar recurrence as the C51 two-node fixture
    val orders = Seq((10L, 1L), (11L, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L), (11L, 1L), (10L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val rows = Graph.pagerankDistConverged(lineitem, orders)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 2)
    val r = rows.head._3
    assert(rows.forall(_._3 === r), "symmetric nodes rank equally")
    assert(8500L * r / 10000L === r - 1500L, "scalar fixed-point equation")
    // corpus: converges before the cap and the frame is one more
    // application of the update away from itself (a fixed point)
    val corpus = Graph.pagerankDistConverged(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(corpus.nonEmpty)
    val iters = corpus.head._4
    assert(corpus.forall(_._4 === iters))
    assert(iters > 10L && iters < 128L,
      s"corpus must genuinely converge before the cap (got $iters)")
  }

  test("observed metrics of k lazily chained rounds all complete on one localCheckpoint action") {
    // the claim the Observation fast paths of kleeneDist/pagerank,
    // bpeLearnBatched and qualityTrain rest on: each round's metric is
    // delivered by the single checkpoint action, on both join paths
    // (broadcast puts round i's metric under round i+1's
    // BroadcastExchange) and with AQE on (session default) or off
    // (kleeneDist's static planning)
    val edges = spark.range(0, 1000).toDF("u")
      .select(col("u"), (col("u") + 1).as("v")).localCheckpoint(true)
    for (aqe <- Seq("true", "false"); bcast <- Seq(false, true))
        withConf("spark.sql.adaptive.enabled" -> aqe) {
      val path = s"aqe=$aqe broadcast=$bcast"
      var cur = spark.range(0, 1000).toDF("node")
        .select(col("node"), lit(10000L).as("r")).localCheckpoint(true)
      val rounds = (1 to 4).map { i =>
        val rs = if (bcast) broadcast(cur) else cur.hint("shuffle_hash")
        val stepped = edges.join(rs, edges("u") === rs("node"))
          .groupBy(col("v").as("node")).agg(sum(col("r")).as("r"))
        val o = org.apache.spark.sql.Observation(s"chain_${aqe}_${bcast}_$i")
        cur = stepped.observe(o, sum(col("r")).as("mass"))
        (stepped, o)
      }
      val plan = cur.queryExecution.executedPlan.toString
      if (bcast) assert(plan.contains("BroadcastHashJoin"), path)
      else assert(plan.contains("ShuffledHashJoin") &&
        !plan.contains("BroadcastHashJoin"), path)
      val cp = cur.localCheckpoint(true) // the ONE action for 4 rounds
      try {
        // 2 s: the shortest Await the production fast paths use
        val masses = rounds.map { case (_, o) =>
          val row = scala.concurrent.Await.result(o.future,
            scala.concurrent.duration.Duration(2, "seconds"))
          row.getLong(row.fieldIndex("mass"))
        }
        // each round drops node 999's outflow: mass (1001 − i)·10⁴
        assert(masses === (1 to 4).map(i => (1001L - i) * 10000L), path)
        assert(masses.last === cp.agg(sum(col("r"))).collect()(0).getLong(0), path)
        rounds.zip(masses).foreach { case ((stepped, _), m) =>
          assert(stepped.agg(sum(col("r"))).collect()(0).getLong(0) === m, path)
        }
      } finally cp.unpersist(true)
    }
  }
}

object GraphSpec {
  /** Deterministic pseudo-random weighted digraph (u, v, w),
    * symmetrized so no node dangles — big enough that the Kleene loop
    * takes tens of rounds to converge. */
  lazy val seededEdges: Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(7)
    val n = 24
    val halfMap = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (_ <- 1 to 120) {
      val u = rnd.nextInt(n).toLong
      var v = rnd.nextInt(n).toLong
      if (v == u) v = (u + 1) % n
      halfMap((u, v)) = halfMap.getOrElse((u, v), 0L) + rnd.nextInt(9) + 1L
    }
    val half = halfMap.toSeq.map { case ((u, v), w) => (u, v, w) }
    half ++ half.map { case (u, v, w) => (v, u, w) }
  }
}
