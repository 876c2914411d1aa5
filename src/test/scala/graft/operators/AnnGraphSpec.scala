package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C53 graph-beam ANN: retrieval quality against the exact baseline,
  * result-shape laws, and layout invariance. Exact VALUES are pinned
  * by the driver's algorithm-parity oracle (graphBeamSql). */
class AnnGraphSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("graph beam: recall@10 against the exact brute force clears the floor") {
    val truth = hits(Ann.bruteforce(spark, dir))
    val got = hits(Ann.graphBeam(spark, dir))
    assert(got.keySet === truth.keySet, "every query must return results")
    val recalls = truth.map { case (q, t) =>
      got(q).intersect(t).size.toDouble / t.size
    }.toSeq
    val macroRecall = recalls.sum / recalls.size
    info(f"graph-beam macro recall@10 = $macroRecall%.3f (per-q min ${recalls.min}%.2f)")
    // calibration: the synthetic embeddings are near-uniform, so ALL
    // local methods sit low here — the C20 recall curve reads 0.225
    // (ivfpq) to 0.40 (pq) on the same corpus; graph-beam's measured
    // 0.34 is mid-band, and the floor pins it above the family's
    // bottom and ~17× above random (10/499 ≈ 0.02)
    assert(macroRecall >= 0.25, f"macro recall $macroRecall%.3f below floor")
  }

  test("graph beam: ranks contiguous, cosine non-increasing, query never self-reports") {
    val rows = Ann.graphBeam(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq,
        s"q $q ranks not contiguous")
      assert(sorted.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      }, s"q $q cosine not non-increasing")
      assert(!sorted.exists(_._3 == q), s"q $q returned itself")
    }
  }

  test("nn-descent: recall@10 at least the blocked build's, never below the family floor") {
    val truth = hits(Ann.bruteforce(spark, dir))
    def macroRecall(got: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val beam = macroRecall(hits(Ann.graphBeam(spark, dir)))
    val nnd = macroRecall(hits(Ann.graphNndescent(spark, dir)))
    info(f"blocked-build recall@10 = $beam%.3f; nn-descent refined = $nnd%.3f")
    // the refined graph's neighbor lists are non-degrading by
    // construction (old edges stay candidates under the exact
    // re-rank), and the local join adds the cross-block links the
    // blocked pass structurally cannot see — search recall must not
    // fall below the blocked build's
    assert(nnd >= beam,
      f"nn-descent recall $nnd%.3f fell below the blocked build's $beam%.3f")
    assert(nnd >= 0.25, f"nn-descent recall $nnd%.3f below the family floor")
  }

  test("nn-descent: ranks contiguous, cosine non-increasing, no self-reports, partition-invariant") {
    import graft.Tables
    val rows = Ann.graphNndescent(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq,
        s"q $q ranks not contiguous")
      assert(sorted.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      }, s"q $q cosine not non-increasing")
      assert(!sorted.exists(_._3 == q), s"q $q returned itself")
    }
    val shuffled = Ann.graphNndescent(Tables(spark, dir, "embeddings")
      .repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ===
      shuffled.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("nn-descent keeps only the checkpoints its result scans") {
    val leaked = leakedRdds(Ann.graphNndescent(spark, dir))
    assert(leaked.isEmpty, s"graphNndescent left persisted RDDs $leaked")
  }

  test("graph beam: partition invariance") {
    import graft.Tables
    val base = Ann.graphBeam(spark, dir).collect().map(_.toSeq).toSeq
    val shuffled = Ann.graphBeam(Tables(spark, dir, "embeddings")
      .repartition(7)).collect().map(_.toSeq).toSeq
    assert(base === shuffled)
  }
}
