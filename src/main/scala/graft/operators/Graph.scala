package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Loop, Tables}

/** Graph / link-analysis operators (SURVEY.md §2 C50) — the iterative
  * message-passing family (the batch-trainer cousins are C37/C38):
  * rank flows along edges for a FIXED number of rounds, each round one
  * shuffle, all arithmetic exact-integer so DuckDB replays it.
  */
object Graph {

  /** PageRank iterations — fixed, like C38's Lloyd rounds: the gated
    * artifact pins every round via the unrolled-CTE oracle; production
    * runs to a convergence test instead, changing only the loop bound. */
  private val PrIters = 3
  private val PrTopK = 20

  /** Integer fixed-point PageRank (C50; Brin & Page 1998) over the
    * customer↔supplier trade graph — an edge per DISTINCT
    * (customer, supplier) pair that traded (through orders×lineitem),
    * symmetrized so the walk is well-defined on the bipartite graph
    * and no node dangles. Ranks are ppm fixed-point longs seeded at
    * 10⁶; one round is
    * `r'(v) = 150000 + (850000 · Σ_{(u,v)∈E} (r(u) div deg(u))) div 10⁶`
    * — the 0.85-damped update with EVERY operation an integer floor
    * op, identical in Spark (`div`) and DuckDB (`//`), so the gated
    * output (top-[[PrTopK]] nodes by rank after [[PrIters]] rounds,
    * ties by node id) hash-matches the unrolled-CTE oracle exactly
    * (the C38 discipline; floor-div mass leakage is deterministic and
    * identical on both engines, which is what the gate needs).
    *
    * Scale shape: the edge frame is DISTINCT pairs (dedup'd once,
    * map-side combinable) and appears in every round as an IDENTICAL
    * subplan over the same DataFrame object, so ReuseExchange
    * materializes its shuffle once per action (the C5/r11 discipline
    * — no persist, nothing to leak); each round is one
    * broadcast-or-shuffle join of the (node, rank) frame
    * (NODE-bounded, not edge-bounded) into the edges plus one
    * map-side-combined sum per destination — the Pregel superstep
    * as two exchanges, T rounds = T linear passes. Rank values are
    * long-safe far past any test SF: a hub's rank is bounded by
    * 10⁶·|V| and the update multiplies by 85·10⁴ — overflow needs
    * |V| > 10⁷·10⁶/85, ~10¹⁰ nodes.
    *
    * Node ids: customers at custkey·2, suppliers at suppkey·2+1 —
    * disjoint by parity; the output decodes (node_type, key). */
  def pagerank(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val e0 = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("u"),
        (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()
    val edges = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    // r19 (§2.4/§5, the kleeneDist recipe): measured, the lazy 3-round
    // plan re-executed the corpus distinct ~3x inside one action
    // (three 13s-CPU stages at sf0.1 — static ReuseExchange does not
    // dedup the per-round join exchanges). One checkpointed edge frame
    // at the size-derived width ([[onEdgeFrame]]) now feeds deg and
    // every round as a co-partitioned shuffled-hash join — one
    // node-bounded exchange per round is all that remains, and the
    // bounded top-K result is eagerly materialized so every checkpoint
    // releases here instead of leaking into the session.
    onEdgeFrame(edges) { ew =>
      val deg = ew.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("d"))
        .localCheckpoint(true) // node-bounded; read by every round
      try {
        var rank = deg.select(col("node"), lit(1000000L).as("r"))
        for (_ <- 1 to PrIters) {
          val contrib = rank.hint("shuffle_hash").join(deg, "node")
            .select(col("node"), expr("r div d").as("c"))
          rank = ew.join(contrib.hint("shuffle_hash"),
              ew("u") === contrib("node"))
            .groupBy(col("v").as("node"))
            .agg(expr("150000 + (850000 * sum(c)) div 1000000").as("r"))
        }
        val top = rank
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("node_type"),
            expr("node div 2").as("key"),
            col("r").as("rank_ppm"))
          .orderBy(col("rank_ppm").desc, col("node_type"), col("key"))
          .limit(PrTopK)
        // bounded (PrTopK rows): a local relation of the collected rows
        // holds no persisted RDD for the caller to release
        val rows = java.util.Arrays.asList(top.collect(): _*)
        (top.sparkSession.createDataFrame(rows, top.schema), ())
      } finally Loop.release(deg)
    }._1
  }

  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  val pagerankSql: String = {
    val stages = (1 to PrIters).map { t =>
      s"""r$t AS MATERIALIZED (
         |  SELECT e.v AS node,
         |    150000 + (850000 * CAST(sum(p.r // deg.d) AS BIGINT))
         |      // 1000000 AS r
         |  FROM e JOIN r${t - 1} p ON e.u = p.node
         |    JOIN deg ON e.u = deg.node
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |deg AS MATERIALIZED (
       |  SELECT u AS node, count(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$stages
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  node // 2 AS key, r AS rank_ppm
       |FROM r$PrIters
       |ORDER BY rank_ppm DESC, node_type, key
       |LIMIT $PrTopK""".stripMargin
  }

  // --------------------------------------------------------------- C51
  /** Fixed-point scale of the converged ranks (per-10k units). */
  private[graft] val PrcScale = 10000L
  private[graft] val PrcTeleport = 1500L
  private[graft] val PrcDamp = 8500L
  /** Iteration cap — measured convergence is 56/88/60 rounds at
    * sf0.001/0.01/0.1; the oracle unrolls exactly this many stages and
    * both engines fall back to the frame AT the cap if a pathological
    * weight table never freezes (then the gate compares cap-frames —
    * still deterministic, never divergent). */
  private[operators] val PrcCap = 128

  /** One Kleene round of the weighted damped update over the collected
    * nation graph, with an arbitrary non-negative TELEPORT vector —
    * shared by [[pagerankConverged]] (uniform teleport),
    * [[pagerankPersonalized]] (seed-concentrated), and the stability
    * specs. Every operation is non-negative integer floor arithmetic
    * (`/` on non-negative longs ≡ `div` ≡ DuckDB `//`); the map is
    * monotone in r for ANY fixed teleport, so Kleene iteration from
    * r₀ = teleport (which satisfies r₀ ≤ f(r₀)) converges exactly. */
  private[graft] def prcStepSeeded(
      edges: Array[(Long, Long, Long)], tw: Map[Long, Long],
      teleport: Map[Long, Long], r: Map[Long, Long]): Map[Long, Long] = {
    val contrib = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    edges.foreach { case (u, v, w) =>
      contrib(v) += r(u) * w / tw(u)
    }
    r.keys.map(n =>
      n -> (teleport.getOrElse(n, 0L) + PrcDamp * contrib(n) / PrcScale))
      .toMap
  }

  /** [[prcStepSeeded]] with the uniform [[PrcTeleport]] vector. */
  private[graft] def prcStep(
      edges: Array[(Long, Long, Long)], tw: Map[Long, Long],
      r: Map[Long, Long]): Map[Long, Long] =
    prcStepSeeded(edges, tw,
      r.keys.map(_ -> PrcTeleport).toMap, r)

  /** Corpus-scale weighted nation trade graph, collected (bounded
    * STRUCTURALLY: 25 nations ⇒ ≤2·25² weighted edges — the C38
    * bounded-collect discipline): symmetrized edges + per-node total
    * weight. Shared by C51/C54. */
  private def nationGraph(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame)
      : (Array[(Long, Long, Long)], Map[Long, Long]) = {
    val ew0 = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey"), col("s_nationkey"),
        col("o_custkey"), col("l_suppkey"))
      .distinct()
      .select((col("c_nationkey").cast("long") * 2).as("u"),
        (col("s_nationkey").cast("long") * 2 + 1).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val half = ew0.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = half ++ half.map { case (u, v, w) => (v, u, w) }
    val tw = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
    (edges, tw)
  }

  /** The shared Kleene loop: iterate [[prcStepSeeded]] from
    * r₀ = teleport until the exact fixed point (or [[PrcCap]]),
    * returning (final frame, rounds). */
  private[operators] def kleene(edges: Array[(Long, Long, Long)],
      tw: Map[Long, Long], teleport: Map[Long, Long])
      : (Map[Long, Long], Long) = {
    var rank = tw.keys.map(n => n -> teleport.getOrElse(n, 0L)).toMap
    var iters = PrcCap.toLong
    var t = 0
    while (t < PrcCap && iters == PrcCap.toLong) {
      t += 1
      val next = prcStepSeeded(edges, tw, teleport, rank)
      if (next == rank) iters = t.toLong
      rank = next
    }
    (rank, iters)
  }

  /** (node frame → gated output) tail shared by C51/C54. */
  private def rankFrame(spark: SparkSession, nation: DataFrame,
      rank: Map[Long, Long], iters: Long): DataFrame = {
    import spark.implicits._
    val ranks = rank.toSeq.map { case (n, r) =>
      (n, if (n % 2 == 0) "customer" else "supplier", n / 2, r)
    }.toDF("node", "node_type", "nkey", "rank_e4")
    ranks
      .join(broadcast(nation.select(
          col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))),
        col("nkey") === col("n_nationkey"))
      .select(col("node_type"), col("n_name"), col("rank_e4"),
        lit(iters).as("iters"))
      .orderBy(col("rank_e4").desc, col("node_type"), col("n_name"))
  }

  /** CONVERGENCE-TESTED weighted PageRank (C51) — C50 run to an EXACT
    * integer fixed point instead of a pinned round count, on the
    * nation-level trade graph (the domain-PageRank shape: web-scale
    * pipelines aggregate page-level links to a bounded entity graph —
    * domains, hosts, sources — and rank THAT; the corpus-scale work is
    * the edge-weight aggregation, here `count(DISTINCT (custkey,
    * suppkey))` trading pairs per nation pair through
    * lineitem⋈orders⋈customer⋈supplier, one distinct + one count,
    * both map-side combinable).
    *
    * Why not "iterate C50 until frames stop changing": the floor-div
    * damped update is NOT a contraction on ℤ — measured at sf0.001,
    * C50's update settles into a persistent limit cycle (160 nodes
    * oscillating with amplitude up to 123 ppm, stable from round ~70
    * through 300), so exact frame-equality NEVER fires (§8). The fix is
    * order-theoretic, not numeric: the update is MONOTONE (all
    * coefficients non-negative, floor preserves ≤), so Kleene iteration
    * from the teleport floor r₀ = [[PrcTeleport]] — which satisfies
    * r₀ ≤ f(r₀) — produces a pointwise-NONDECREASING, integer,
    * mass-bounded trajectory that must reach the LEAST fixed point of f
    * exactly, in finitely many rounds (measured: 56/88/60 at the three
    * test SFs). No epsilon, no oscillation, engine-exact.
    *
    * Per-edge contribution is `(r(u)·w) div W(u)` (not `w·(r div W)`,
    * which floors to zero the moment total weight exceeds rank — at
    * sf0.1 that form converges instantly to the all-teleport frame).
    * Long-safety: ranks are mass-bounded by [[PrcScale]]·|V| ≤ 5·10⁵
    * and w ≤ distinct trading pairs ≤ lineitem rows, so r·w stays
    * below 2⁶³ past sf10⁴.
    *
    * Scale shape: ONE corpus pass builds the weighted graph (the 100 TB
    * cost); the iteration runs on the collected graph — bounded
    * STRUCTURALLY (25 nations is a schema constant: ≤ 2·25² weighted
    * edges, ≤ 50 nodes), the C38 bounded-collect discipline. For entity
    * graphs too large to collect (page-level), the loop body is C50's
    * two-exchange superstep with a per-round changed-count action —
    * same Kleene argument, distributed frames. Output: all 50 nodes
    * with their exact least-fixed-point rank and the measured
    * convergence round, (rank desc, type, name)-ordered. */
  def pagerankConverged(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val (edges, tw) = nationGraph(lineitem, orders, customer, supplier)
    val (rank, iters) =
      kleene(edges, tw, tw.keys.map(_ -> PrcTeleport).toMap)
    rankFrame(lineitem.sparkSession, nation, rank, iters)
  }

  def pagerankConverged(spark: SparkSession, dir: String): DataFrame =
    pagerankConverged(Tables(spark, dir, "lineitem"),
      Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "supplier"), Tables(spark, dir, "nation"))

  // --------------------------------------------------------------- C54
  /** PERSONALIZED PageRank (C54; Haveliwala 2002 — the
    * recommendation-graph form of C51): the same weighted nation graph
    * and the same monotone Kleene iteration, but the teleport mass is
    * CONCENTRATED on one seed node — the customer-side nation with the
    * largest total trade weight (ties by node id; chosen IN the data,
    * replayed by the oracle) — at [[PrcTeleport]]·|V| so total
    * teleport mass matches C51's. Ranks then measure proximity TO THE
    * SEED along weighted trade paths: "which nations does the heaviest
    * customer market actually reach" — the query a recommender runs
    * per user/segment. Kleene from r₀ = teleport still applies
    * verbatim (r₀ ≤ f(r₀) for ANY non-negative teleport; the
    * ScalaCheck law quantifies over random teleport vectors); measured
    * convergence 58/59 rounds at sf0.001/0.01, same [[PrcCap]] and the
    * same adaptive conv-in-SQL oracle. */
  def pagerankPersonalized(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val (edges, tw) = nationGraph(lineitem, orders, customer, supplier)
    val seed = tw.filter(_._1 % 2 == 0).toSeq
      .minBy { case (n, w) => (-w, n) }._1
    val seedMass = PrcTeleport * tw.size
    val (rank, iters) = kleene(edges, tw, Map(seed -> seedMass))
    rankFrame(lineitem.sparkSession, nation, rank, iters)
  }

  def pagerankPersonalized(spark: SparkSession, dir: String): DataFrame =
    pagerankPersonalized(Tables(spark, dir, "lineitem"),
      Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "supplier"), Tables(spark, dir, "nation"))

  // --------------------------------------------------------------- C55
  /** Rows kept in the distributed-PageRank gated artifact. */
  private val PrdTopK = 100
  // (r18's KleeneBroadcastNodes broadcast threshold retired in r19:
  // every superstep now runs the co-partitioned shuffled-hash join,
  // which needs neither the broadcast build nor the size probe.)

  /** Checkpoint/witness cadence for [[kleeneDist]]: k rounds are
    * chained LAZILY (each carrying its own observed mass — ALL k
    * Observations complete during the single window-end
    * localCheckpoint action, on the shuffle and the broadcast path —
    * pinned by GraphSpec), so checkpoint I/O and driver jobs drop
    * k-fold while per-round mass exactness — and therefore the exact
    * convergence round — is fully preserved. Monotonicity makes the
    * ≤ k−1 rounds of overshoot safe: past the least fixed point the
    * frame no longer changes, so the window-end frame IS the
    * converged frame.
    *
    * 8 (r18 opt round): solo-warm sf1 A/B read 265.2 s at cadence 4 →
    * 146.7 s at 8 → 135.9 s at 16 (bench_points_r18/
    * kleene_cad{4,8,16}_sf1_opt.json) — the win flattens past 8 while
    * the worst-case overshoot (≤ k−1 lazy rounds past the fixed
    * point, each a full superstep inside the window-end action) keeps
    * growing, so 8 is the knee. Exactness is cadence-independent: the
    * per-round masses ride the same chained Observations and the
    * convergence round is recovered from the mass chain. */
  private val KleeneCadence = 8

  /** Target edge rows per partition for the Kleene loops. The
    * per-round frames are node-bounded and each round pays a fixed
    * per-task cost (measured ~0.2-0.4 s of saturated-CPU overhead per
    * 32-task round on a 1.2M-edge graph where 8 tasks run the same
    * round 2x faster), so the loops derive their width from the EDGE
    * mass — ceil(edges / this) clamped to the session width — instead
    * of inheriting the session width outright (guide §2: size-derived
    * partitioning; a 100 TB graph still clamps to the cluster's
    * configured width). */
  private val KleeneRowsPerPart = 150000L

  /** Size-derived loop width: ceil(rows / [[KleeneRowsPerPart]])
    * clamped to the session's shuffle width (guide §2 — partitioning
    * scales with the data AND the cluster, never a local constant). */
  private def sizedWidth(spark: SparkSession, rows: Long): Int = {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(width.toLong,
      (rows + KleeneRowsPerPart - 1) / KleeneRowsPerPart)).toInt
  }

  /** The edge-frame scaffold [[pagerank]] and [[kleeneDist]] share:
    * `edges` is localCheckpoint'd and counted, the loop width p is
    * [[sizedWidth]] of that count, and `body` gets the edges
    * repartitioned on `u` into p partitions and checkpointed again,
    * with every exchange of the loop at width p; both checkpoints are
    * released after.
    *
    * localCheckpoint, not persist: the edge frame is replayed by every
    * round, and each action over a lazy frame re-analyzes and
    * re-optimizes the full logical plan — with the corpus-build subtree
    * attached that planning overhead dominates the round (measured
    * ~0.5s/round of pure driver planning at sf0.001).
    *
    * The whole scaffold plans with AQE off, because the loops rely on
    * STATIC co-partitioned planning: under AQE, (1) localCheckpoint
    * captures UnknownPartitioning into the LogicalRDD (probed on this
    * Spark: AQE-off preserves hashpartitioning(u, p)), so every round
    * would re-exchange the EDGE frame, and (2) each exchange inside a
    * window materializes as its own driver sub-job — ~18 sub-jobs per
    * 8-round window where the static plan runs ONE job. The shuffles
    * are the node-bounded rank frames (the edge side never
    * re-shuffles), so AQE's coalescing/skew machinery has nothing to
    * win here. Both settings live in a [[Loop.Isolated]] clone: AQE off
    * from the start, width p once the edge checkpoint is counted; the
    * frame `body` returns moves back to the caller's session. */
  private def onEdgeFrame[B](edges: DataFrame)(
      body: DataFrame => (DataFrame, B)): (DataFrame, B) = {
    val scope = new Loop.Isolated(edges.sparkSession, "spark.sql.adaptive.enabled" -> "false")
    val ewRaw = scope.in(edges).localCheckpoint(true)
    try {
      val p = sizedWidth(scope.session, ewRaw.count())
      scope.set("spark.sql.shuffle.partitions" -> p.toString)
      val ew = ewRaw.repartition(p, col("u")).localCheckpoint(true)
      try body(ew) match { case (df, b) => (scope.out(df), b) }
      finally Loop.release(ew)
    } finally Loop.release(ewRaw)
  }

  /** The DISTRIBUTED Kleene loop (C55's engine) — [[kleene]] with the
    * graph left as a DataFrame: per round one two-exchange superstep
    * (the C50 shape: join the node-bounded rank frame into the
    * persisted edge frame on `u`, then a map-side-combined sum per
    * destination `v`) plus ONE bounded action, the 1-row rank-mass
    * sum. The sum is a COMPLETE convergence witness here, cheaper
    * than any frame diff: Kleene from r₀ = teleport under a monotone
    * update makes every node's rank pointwise NONDECREASING, so
    * Σr is strictly increasing until the least fixed point and
    * Σr_t = Σr_{t−1} ⟺ frame_t ≡ frame_{t−1} — no join against the
    * previous frame, no changed-count shuffle. Each round's rank
    * frame is localCheckpoint'd (eager): the loop would otherwise
    * chain T joins into one logical plan (the C37b/§8 lineage
    * discipline), and the checkpoint is also what makes the witness
    * action cheap (a ≤|V|-row scan). GraphSpec proves this loop ≡
    * the collected [[kleene]] (ranks AND convergence round) on a
    * seeded random graph.
    *
    * Input: symmetrized weighted edges (u, v, w); every node must
    * have an out-edge (symmetrization guarantees it). Returns the
    * converged (node, r) frame — NEVER collected — and the round. */
  private[graft] def kleeneDist(edges: DataFrame): (DataFrame, Long) = {
    val tw = edges.groupBy(col("u").as("node")).agg(sum(col("w")).as("tw"))
    onEdgeFrame(edges.join(tw, edges("u") === tw("node"))
        .select(col("u"), col("v"), col("w"), col("tw")))(kleeneDistLoop)
  }

  private def kleeneDistLoop(ew: DataFrame): (DataFrame, Long) = {
    // r19 (§2.4, remove the shuffle outright): the superstep joins
    // the rank frame SHUFFLE-HASH into the checkpointed edge frame —
    // rank arrives already hashpartitioned on node (r₀ below is
    // built partitioned; every later round's frame exits the
    // per-destination sum partitioned the same way), the edge side
    // carries its checkpointed hashpartitioning(u) (the repartition
    // in [[onEdgeFrame]] rides INTO the checkpoint — LogicalRDD
    // preserves the materialized plan's partitioning), so the join
    // plans with NO exchange on either side and no per-round broadcast
    // build (the r18 path collected + re-shipped the node-bounded rank
    // frame every round — measured ~0.15 s of broadcast latency per
    // round at sf0.1). The hint only picks the join STRATEGY; rows and
    // values are unchanged. Build side = the node-bounded rank frame:
    // ≤3 64-bit columns per node per partition.
    def rside(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    // r₀ and |V| both derive from the CHECKPOINTED edge frame: the
    // r18 form re-executed the corpus-build subtree once for
    // tw.count() and again for the r₀ checkpoint — two full extra
    // corpus passes per call (the distinct here scans checkpointed
    // blocks instead). Same node set: every ew row carries a
    // u ∈ tw by construction of the tw join.
    var rank = ew.select(col("u").as("node")).distinct()
      .select(col("node"), lit(PrcTeleport).as("r"))
      .localCheckpoint(true)
    val nodes = rank.count() // bounded: one row per node
    def step(r: DataFrame): DataFrame =
      ew.join(rside(r), ew("u") === r("node"))
        .groupBy(col("v").as("node"))
        .agg(expr(s"$PrcTeleport + ($PrcDamp * sum((r * w) div tw))" +
          s" div $PrcScale").as("r"))
    val mass = sum(col("r")).as("mass")
    def massOf(row: org.apache.spark.sql.Row): Long =
      if (row.isNullAt(0)) 0L else row.getLong(0)
    // `n` lazy rounds from `cur`, each carrying its observed mass; the
    // innermost action checkpoints the last round, and that ONE job
    // completes every Observation (GraphSpec pins it) — a window costs
    // one driver job instead of a checkpoint + a 1-row witness scan
    // per round (the r16 verdict measured that per-round job debt as
    // the dominant warm-solo cost at sf10). On a missed Observation
    // the masses are aggregated instead: the last round's from its
    // checkpoint, earlier rounds' from their lazy frames — exact.
    def window(cur: DataFrame, n: Int): (DataFrame, List[Long]) = {
      val round = step(cur)
      if (n == 1) {
        val (cp, m) =
          Loop.observed(round, mass)(_.localCheckpoint(true))(identity)
        (cp, List(massOf(m)))
      } else {
        val ((cp, later), m) =
          Loop.observed(round, mass)(window(_, n - 1))(_ => round)
        (cp, massOf(m) :: later)
      }
    }
    // r₀ = teleport at every node, so the initial mass needs no action
    var prevMass = PrcTeleport * nodes
    var iters = PrcCap.toLong
    var t = 0
    while (t < PrcCap && iters == PrcCap.toLong) {
      // once Observations stop riding, a window is one round whose
      // mass is read from its checkpoint (the r16 shape)
      val n = if (Loop.rides) math.min(KleeneCadence, PrcCap - t) else 1
      val (next, masses) = window(rank, n)
      // the exact convergence round: first adjacent equality in the
      // mass chain (monotone ⇒ equality is frame identity, and the
      // window-end frame equals the fixed point from that round on)
      val chain = prevMass +: masses
      (1 until chain.length).find(i => chain(i) == chain(i - 1))
        .foreach(i => iters = (t + i).toLong)
      t += n
      prevMass = masses.last
      Loop.release(rank)
      rank = next
    }
    (rank, iters)
  }

  /** DISTRIBUTED convergence-tested PageRank (C55) — the gated form of
    * the claim C51's scaladoc could only sketch: for entity graphs too
    * large to collect (C51's nation iteration is driver-side, sound
    * only because 25 nations bound it structurally), the SAME monotone
    * Kleene iteration runs with distributed frames — here on the
    * customer↔supplier trade graph, |V| = customers + suppliers and
    * |E| = distinct trading pairs, both corpus-SCALED, never
    * driver-bounded. Edge weight = the number of distinct orders the
    * pair traded (one distinct + one count, map-side combinable);
    * symmetrized so no node dangles; teleport/damp/scale/cap and the
    * Kleene argument are C51's verbatim — measured convergence
    * 58/54/68 rounds at sf0.001/0.01/0.1, same band as the nation
    * graph (rounds grow with log(max rank), not |V|).
    *
    * Long-safety: total rank mass is bounded by Σteleport/(1−damp) =
    * 10⁴·|V| (floor only leaks mass downward), so r·w stays under
    * 2⁶³ until |V|·(orders per pair) exceeds ~10¹⁵ — past sf10⁴.
    *
    * Scale shape: the graph builds in one corpus pass; per round one
    * broadcast-or-shuffle join of the node-bounded rank frame into
    * the persisted edge frame + one map-side-combined sum + the 1-row
    * mass witness — T rounds = T linear passes, nothing ever
    * collected (the output is a top-[[PrdTopK]] TakeOrdered, not a
    * global sort). The oracle is the C51 adaptive conv-in-SQL
    * discipline over the same graph: all [[PrcCap]] stages unrolled,
    * the convergence round picked by per-stage EXCEPT counts. */
  def pagerankDistConverged(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val half = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"), col("l_orderkey"))
      .distinct()
      .select((col("o_custkey") * 2).as("u"),
        (col("l_suppkey") * 2 + 1).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val edges = half.unionAll(
      half.select(col("v").as("u"), col("u").as("v"), col("w")))
    val (rank, iters) = kleeneDist(edges)
    rank.select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("key"),
        col("r").as("rank_e4"),
        lit(iters).as("iters"))
      .orderBy(col("rank_e4").desc, col("node_type"), col("key"))
      .limit(PrdTopK)
  }

  def pagerankDistConverged(spark: SparkSession, dir: String): DataFrame =
    pagerankDistConverged(Tables(spark, dir, "lineitem"),
      Tables(spark, dir, "orders"))

  val pagerankDistConvergedSql: String = {
    val stages = (1 to PrcCap).map { k =>
      s"""r$k AS MATERIALIZED (SELECT ew.v AS node,
         |  $PrcTeleport + ($PrcDamp * CAST(sum((p.r * ew.w) // wt.tw)
         |    AS BIGINT)) // $PrcScale AS r
         |  FROM ew JOIN r${k - 1} p ON ew.u = p.node
         |    JOIN wt ON ew.u = wt.node
         |  GROUP BY ew.v)""".stripMargin
    }.mkString(",\n")
    val checks = (1 to PrcCap).map { k =>
      s"""SELECT $k AS t, (SELECT count(*) FROM
         |  (SELECT * FROM r$k EXCEPT SELECT * FROM r${k - 1}) x) AS ch"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val frames = (1 to PrcCap).map(k =>
      s"SELECT $k AS t, node, r FROM r$k").mkString("\nUNION ALL\n")
    s"""WITH ew0 AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v,
       |    count(*) AS w
       |  FROM (SELECT DISTINCT o_custkey, l_suppkey, l_orderkey
       |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey) p
       |  GROUP BY 1, 2),
       |ew AS MATERIALIZED (
       |  SELECT u, v, w FROM ew0 UNION ALL SELECT v, u, w FROM ew0),
       |wt AS MATERIALIZED (
       |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS tw FROM ew GROUP BY 1),
       |r0 AS (SELECT node, CAST($PrcTeleport AS BIGINT) AS r FROM wt),
       |$stages,
       |chs AS ($checks),
       |conv AS (SELECT CAST(coalesce(min(CASE WHEN ch = 0 THEN t END),
       |  $PrcCap) AS BIGINT) AS it FROM chs),
       |allf AS ($frames)
       |SELECT CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  f.node // 2 AS key, f.r AS rank_e4, conv.it AS iters
       |FROM allf f
       |CROSS JOIN conv
       |WHERE f.t = conv.it
       |ORDER BY rank_e4 DESC, node_type, key
       |LIMIT $PrdTopK""".stripMargin
  }

  /** The oracle unrolls ALL [[PrcCap]] stages and picks the convergence
    * round IN SQL (min t with frame t ≡ frame t−1, cap fallback), so
    * one static query replays the data-dependent iteration count at any
    * SF — the adaptive twist on C38's unrolled-CTE discipline. The
    * teleport expression is a parameter so C51 (uniform) and C54
    * (seed-concentrated) share one builder. */
  private def prcConvSql(extraCtes: String, tele: String => String): String = {
    val stages = (1 to PrcCap).map { k =>
      s"""r$k AS MATERIALIZED (SELECT ew.v AS node,
         |  ${tele("ew.v")} + ($PrcDamp * CAST(sum((p.r * ew.w) // wt.tw)
         |    AS BIGINT)) // $PrcScale AS r
         |  FROM ew JOIN r${k - 1} p ON ew.u = p.node
         |    JOIN wt ON ew.u = wt.node
         |  GROUP BY ew.v)""".stripMargin
    }.mkString(",\n")
    val checks = (1 to PrcCap).map { k =>
      s"""SELECT $k AS t, (SELECT count(*) FROM
         |  (SELECT * FROM r$k EXCEPT SELECT * FROM r${k - 1}) x) AS ch"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val frames = (1 to PrcCap).map(k =>
      s"SELECT $k AS t, node, r FROM r$k").mkString("\nUNION ALL\n")
    s"""WITH ew0 AS MATERIALIZED (
       |  SELECT c_nationkey * 2 AS u, s_nationkey * 2 + 1 AS v,
       |    count(*) AS w
       |  FROM (SELECT DISTINCT c_nationkey, s_nationkey, o_custkey,
       |          l_suppkey
       |        FROM lineitem
       |          JOIN orders ON l_orderkey = o_orderkey
       |          JOIN customer ON o_custkey = c_custkey
       |          JOIN supplier ON l_suppkey = s_suppkey) p
       |  GROUP BY 1, 2),
       |ew AS MATERIALIZED (
       |  SELECT u, v, w FROM ew0 UNION ALL SELECT v, u, w FROM ew0),
       |wt AS MATERIALIZED (
       |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS tw FROM ew GROUP BY 1),
       |$extraCtes
       |r0 AS (SELECT node, CAST(${tele("node")} AS BIGINT) AS r FROM wt),
       |$stages,
       |chs AS ($checks),
       |conv AS (SELECT CAST(coalesce(min(CASE WHEN ch = 0 THEN t END),
       |  $PrcCap) AS BIGINT) AS it FROM chs),
       |allf AS ($frames)
       |SELECT CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  n.n_name, f.r AS rank_e4, conv.it AS iters
       |FROM allf f
       |CROSS JOIN conv
       |JOIN nation n ON f.node // 2 = n.n_nationkey
       |WHERE f.t = conv.it
       |ORDER BY rank_e4 DESC, node_type, n_name""".stripMargin
  }

  val pagerankConvergedSql: String =
    prcConvSql("", _ => PrcTeleport.toString)

  val pagerankPersonalizedSql: String = prcConvSql(
    s"""seed AS MATERIALIZED (SELECT node FROM wt WHERE node % 2 = 0
       |  ORDER BY tw DESC, node LIMIT 1),
       |sm AS MATERIALIZED (SELECT CAST($PrcTeleport * count(*) AS BIGINT)
       |  AS m FROM wt),""".stripMargin,
    v => s"(CASE WHEN $v = (SELECT node FROM seed)" +
      s" THEN (SELECT m FROM sm) ELSE 0 END)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (pagerank(_, _)),
    "graph_pagerank_converged" -> (pagerankConverged(_, _)),
    "graph_pagerank_personalized" -> (pagerankPersonalized(_, _)),
    "graph_pagerank_dist_converged" -> (pagerankDistConverged(_, _)))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pagerankSql,
    "graph_pagerank_converged" -> pagerankConvergedSql,
    "graph_pagerank_personalized" -> pagerankPersonalizedSql,
    "graph_pagerank_dist_converged" -> pagerankDistConvergedSql)
}
