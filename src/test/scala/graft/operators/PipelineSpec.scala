package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C14 pipeline specs: the curated corpus is consistent between its
  * stats, row, and materialized forms. */
class PipelineSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("kept docs reconcile with the per-source stats") {
    val kept = Pipeline.keptDocs(spark, dir)
    val stats = Pipeline.curate(spark, dir)
    val totalFromStats = stats.agg(sum(col("n_docs"))).head.getLong(0)
    assert(kept.count() === totalFromStats)
    assert(kept.select("doc_id").distinct().count() === kept.count(), "no dup doc ids")
  }

  test("near-dup curation drops exactly the demoted cluster members from the stats") {
    val base = Pipeline.curate(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nd = Pipeline.curateNearDup(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nd.keySet.subsetOf(base.keySet))
    nd.foreach { case (src, n) => assert(n <= base(src), s"source $src grew") }
    // independent recomputation: kept ∩ non-canonical = the dropped docs
    val demoted = Dedup.clusters(spark, dir)
      .filter(!col("is_canonical")).select("doc_id")
    val dropped = Pipeline.kept(spark, dir)
      .join(demoted, Seq("doc_id"), "left_semi").count()
    assert(base.values.sum - nd.values.sum === dropped)
  }

  test("decontamination flags exactly the docs sharing >=3 grams with the benchmark") {
    val flagged = Pipeline.decontaminate(spark, dir)
    // no benchmark doc flags itself, counts are >= the floor
    assert(flagged.filter(col("doc_id") % 97 === 0).count() === 0)
    assert(flagged.filter(col("n_shared_grams") < 3).count() === 0)
    // a benchmark doc's own exact duplicate (if any) must be flagged:
    // identical text shares every gram. Recompute independently via the
    // exact-dedup groups.
    val dupOfBench = Dedup.exact(spark, dir)
      .filter(col("n_copies") >= 2 && col("keep_id") % 97 === 0)
      .count()
    val plan = flagged.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(dupOfBench == 0 || flagged.count() > 0)
  }

  test("per-source sampling cap keeps min(n, 10) per source") {
    val stats = Pipeline.sampleCap(spark, dir).collect()
    assert(stats.nonEmpty)
    assert(stats.exists(r => r.getLong(1) < r.getLong(2)),
      "cap must BIND somewhere at this SF or the entry is vacuous")
    stats.foreach { r =>
      val (kept, total) = (r.getLong(1), r.getLong(2))
      assert(kept === math.min(total, 10L), s"source ${r.getString(0)}")
    }
  }

  test("bloom-prefiltered decontamination equals the exact decontaminate") {
    val exact = Pipeline.decontaminate(spark, dir).collect().toSeq
    val bloom = Pipeline.decontaminateBloom(spark, dir).collect().toSeq
    assert(bloom === exact, "bloom prefilter must not change the result")
  }

  test("sequence packing conserves docs and tokens and starts every shard at seq 0") {
    val packed = Pipeline.packSequences(spark, dir)
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val (totDocs, totToks) =
      (docs.count(), docs.agg(sum(col("n_tok"))).head.getLong(0))
    val agg = packed.agg(sum(col("n_docs")), sum(col("seq_tokens"))).head
    assert(agg.getLong(0) === totDocs, "every doc lands in exactly one sequence")
    assert(agg.getLong(1) === totToks, "token mass is conserved")
    assert(packed.filter(col("seq_id") < 0).count() === 0)
    // each (source, shard) partition starts at sequence 0
    val starts = packed.groupBy(col("source"), col("shard"))
      .agg(min(col("seq_id")).as("m")).filter(col("m") =!= 0).count()
    assert(starts === 0)
    assert(packed.filter(col("seq_id") =!= 0).count() > 0,
      "budget must BIND at this SF or the entry is vacuous")
  }

  test("source mixing downsamples deterministically by the md5 keep rule") {
    val mixed = Pipeline.mixSources(spark, dir).collect()
    assert(mixed.nonEmpty)
    mixed.foreach { r =>
      val (total, ppm, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept <= total)
      assert(ppm <= 1000000L)
      assert(ppm < 1000000L || kept == total)
    }
    assert(mixed.exists(r => r.getLong(3) < r.getLong(1)),
      "mixing must BIND somewhere at this SF or the entry is vacuous")
    // independent recomputation of one source's kept count via the
    // same md5 fixed-point rule in raw Spark SQL
    val src = mixed.head.getString(0)
    val expect = mixed.head.getLong(3)
    val n = graft.Tables(spark, dir, "documents")
      .filter(col("source") === src)
      .filter(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 1000000" +
          s" < least(1000000, 10000000 div ${mixed.head.getLong(1)})"))
      .count()
    assert(n === expect, s"source $src")
  }

  test("train/val split is deterministic, ~10%, and stable under corpus growth") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val assign = Pipeline.splitTrainVal(docs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // deterministic: recomputation is identical
    val again = Pipeline.splitTrainVal(docs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(assign === again)
    // held-out fraction near 10% (binomial tolerance on 500 docs)
    val valFrac = assign.values.count(_ == "val").toDouble / assign.size
    assert(valFrac > 0.04 && valFrac < 0.16, s"val fraction $valFrac")
    // growth-stable: adding docs never reassigns an existing one
    val grown = docs.select("doc_id", "source", "text")
      .union(Seq((900001L, "web", "new doc one"), (900002L, "web", "new doc two"))
        .toDF("doc_id", "source", "text"))
    val after = Pipeline.splitTrainVal(grown)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(assign.forall { case (id, s) => after(id) == s })
    // library form: in-memory frame with extra columns keeps them
    val lib = Pipeline.splitTrainVal(
      Seq((1L, "x", "a b c", 9)).toDF("doc_id", "source", "text", "extra"))
    assert(lib.columns.toSeq === Seq("doc_id", "source", "text", "extra", "split"))
  }

  test("leakage-safe split: no near-dup cluster straddles the boundary") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
    val assigned = Pipeline.splitLeakageSafe(docs)
    // the defining property: every cluster is entirely train or val
    val straddling = assigned.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n"))
      .filter($"n" > 1)
    assert(straddling.count() === 0)
    // non-vacuous: the corpus has real multi-doc clusters, and both
    // splits are populated
    val multi = assigned.groupBy($"cluster_id").count().filter($"count" > 1)
    assert(multi.count() > 0)
    assert(assigned.select($"split").distinct().count() === 2)
    // singleton docs keep exactly the P7 assignment (cluster_id = doc_id)
    val singletonIds = assigned.groupBy($"cluster_id").count()
      .filter($"count" === 1).select($"cluster_id".as("doc_id"))
    val p7 = Pipeline.splitTrainVal(docs).select($"doc_id", $"split".as("p7"))
    val mismatched = assigned.join(singletonIds, "doc_id")
      .join(p7, "doc_id").filter($"split" =!= $"p7")
    assert(mismatched.count() === 0)
  }

  test("materialize writes a source-partitioned parquet corpus with text") {
    val out = java.nio.file.Files.createTempDirectory("graft-curated").toString + "/corpus"
    Pipeline.materialize(spark, dir, out)
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("source=")),
      "hive-style source partitions expected")
    val back = spark.read.parquet(out)
    val kept = Pipeline.kept(spark, dir)
    assert(back.count() === kept.count())
    assert(back.filter(col("text").isNull).count() === 0)
    assert(back.select("doc_id").exceptAll(kept.select("doc_id")).count() === 0)
  }

  test("bpe packing conserves total BPE tokens and doc count") {
    val packed = Pipeline.packSequencesBpe(spark, dir)
    val bpe = Text.tokensBpe(spark, dir)
    assert(packed.agg(sum(col("seq_tokens"))).head.getLong(0) ===
      bpe.agg(sum(col("n_bpe"))).head.getLong(0),
      "packing must neither drop nor double-count tokens")
    assert(packed.agg(sum(col("n_docs"))).head.getLong(0) === bpe.count())
    // BPE budgets bind differently than whitespace budgets: the two
    // packings must agree on the doc universe but generally not on
    // sequence boundaries (non-vacuity of using the real token unit)
    val ws = Pipeline.packSequences(spark, dir)
    assert(ws.agg(sum(col("n_docs"))).head.getLong(0) ===
      packed.agg(sum(col("n_docs"))).head.getLong(0))
  }

  test("epoch mixing: cap respected, emission bounds hold, both directions bind") {
    val rows = Pipeline.mixEpochs(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, toksTotal, w, ppm, nEmit, toksEmit) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(w >= 1 && w <= 8, s"weight $w out of range")
      assert(ppm >= 0 && ppm <= 4000000L, s"epoch cap violated: $ppm")
      // every doc emits floor(epochs) or floor(epochs)+1 times
      val whole = ppm / 1000000L
      assert(nEmit >= nDocs * whole && nEmit <= nDocs * (whole + 1),
        s"emission count outside [$whole, ${whole + 1}] epochs: $nEmit/$nDocs")
      assert(toksEmit >= toksTotal * whole && toksEmit <= toksTotal * (whole + 1))
    }
    // the mixture must actually re-weight at this SF: some source
    // upsamples past one epoch AND some downsamples below it
    assert(rows.exists(r => r.getLong(5) > r.getLong(1)),
      "no source upsampled — the capability this op adds is vacuous here")
    assert(rows.exists(r => r.getLong(5) < r.getLong(1)),
      "no source downsampled")
    // independent recomputation of one source's emission via the same
    // md5 fixed-point rule in raw Spark SQL
    val r0 = rows.head
    val n = graft.Tables(spark, dir, "documents")
      .filter(col("source") === r0.getString(0))
      .filter(expr(
        "cast(conv(substring(md5('epoch:' || cast(doc_id as string)), 1, 15), 16, 10) as bigint)" +
          s" % 1000000 < ${r0.getLong(4)} % 1000000"))
      .count()
    assert(r0.getLong(5) === r0.getLong(1) * (r0.getLong(4) / 1000000L) + n,
      s"source ${r0.getString(0)}")
  }

  test("shard balance: snake allocation is exact on a full descending fixture") {
    import spark.implicits._
    // token counts 64..1 over 2 blocks of 32: block 1 pairs (64-i, 33+i)
    // = 97 per shard, block 2 pairs (32-i, 1+i) = 33 — every shard must
    // total exactly 130 tokens over exactly 4 docs
    val docs = (1 to 64).map(i => (i.toLong, ("w " * (65 - i)).trim))
      .toDF("doc_id", "text")
    val rows = Pipeline.shardBalance(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 16L))
    rows.foreach { r =>
      assert(r.getLong(1) === 4L, s"shard ${r.getLong(0)} doc count")
      assert(r.getLong(2) === 130L, s"shard ${r.getLong(0)} token total")
    }
  }

  test("shard balance: the within-one-doc-of-optimal law holds under adversarial skew") {
    import spark.implicits._
    // one 1000-token giant among 47 singletons: the giant's shard may
    // exceed the rest by at most the giant itself
    val docs = ((1L, ("w " * 1000).trim) +:
      (2 to 48).map(i => (i.toLong, "w"))).toDF("doc_id", "text")
    val rows = Pipeline.shardBalance(docs).collect()
    val totals = rows.map(_.getLong(2))
    assert(totals.max - totals.min <= 1000L,
      s"spread ${totals.max - totals.min} exceeds the max-doc bound")
    assert(rows.map(_.getLong(1)).sum === 48L)
    assert(totals.sum === 1047L)
  }

  test("shard balance on the corpus: conservation, the balance law, partition invariance") {
    val d = graft.Tables(spark, dir, "documents")
    val rows = Pipeline.shardBalance(d).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 16L))
    val tok = d.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n")), count(lit(1)), max(col("n"))).head
    assert(rows.map(_.getLong(2)).sum === tok.getLong(0), "token conservation")
    assert(rows.map(_.getLong(1)).sum === tok.getLong(1), "doc conservation")
    assert(rows.map(_.getLong(2)).max - rows.map(_.getLong(2)).min
      <= tok.getLong(2), "balance law: spread bounded by the largest doc")
    // the assignment is a pure function of the corpus, not its layout
    val re = Pipeline.shardBalance(d.repartition(7)).collect()
    assert(re.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("dsir: disjoint-vocabulary fixture separates target from raw exactly") {
    import spark.implicits._
    // target (en) vocabulary {alpha, beta}, raw-only (de) {gamma, delta}
    // — bucket-collision-free in 4096 buckets (verified offline). With
    // disjoint vocabularies every en feature has c_tgt = c_raw, so each
    // factor is exactly rawtot/tgttot > 1; every de feature has
    // c_tgt = 0, so each factor is < 1.
    val docs = (
      (1 to 4).map(i => (i.toLong, "alpha beta alpha", "en")) ++
        (5 to 16).map(i => (i.toLong, "gamma delta gamma", "de"))
      ).toDF("doc_id", "text", "lang")
    val rows = Pipeline.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.size === 16)
    (1 to 4).foreach { i =>
      val (nf, np, w) = rows(i.toLong)
      assert(nf === 5L, s"doc $i n_feats") // 3 unigrams + 2 bigrams
      assert(np === 5L, s"doc $i: every target feature must lean target")
      assert(w > 1.0, s"doc $i target weight $w must exceed 1")
    }
    (5 to 16).foreach { i =>
      val (nf, np, w) = rows(i.toLong)
      assert(nf === 5L && np === 0L, s"doc $i: no raw-only feature leans target")
      assert(w < 1.0 && w > 0.0, s"doc $i raw-only weight $w")
    }
    // the weight is a pure function of the corpus, not its layout
    val re = Pipeline.dsirWeights(docs.repartition(5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(re === rows, "partition invariance (bit-exact doubles)")
  }

  test("dsir on the corpus: feature accounting laws hold for every doc") {
    val d = graft.Tables(spark, dir, "documents")
    val n = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Pipeline.dsirWeights(d).collect()
    assert(rows.length === n.size)
    rows.foreach { r =>
      val (id, nf, np, w) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nf === 2 * n(id) - 1, s"doc $id: words + bigrams")
      assert(np >= 0 && np <= nf, s"doc $id: n_pos in range")
      assert(w > 0.0 && !w.isInfinite && !w.isNaN, s"doc $id weight $w")
    }
  }

  /** Independent chunker: the spec's own window/stride/md5 chain. */
  private def chunksOf(text: String): (Long, Long, Long, String) = {
    val toks = text.split(" ", -1)
    val n = toks.length
    val W = 64; val S = 48
    val nc = if (n <= W) 1 else 1 + ((n - W + S - 1) / S)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val parts = (0 until nc)
      .map(i => toks.slice(i * S, math.min(i * S + W, n)).mkString(" "))
    val sumTok = (0 until nc).map(i => math.min(W, n - i * S).toLong).sum
    (n.toLong, nc.toLong, sumTok, hex(parts.map(hex).mkString("")))
  }

  test("chunking: window/stride arithmetic and the md5 chain on boundary lengths") {
    import spark.implicits._
    val lens = Seq(1, 63, 64, 65, 112, 113, 160)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      ((i + 1).toLong, (1 to n).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Pipeline.chunkOverlap(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    lens.zipWithIndex.foreach { case (n, i) =>
      val text = (1 to n).map(j => s"t$j").mkString(" ")
      assert(got((i + 1).toLong) === chunksOf(text), s"len $n")
    }
    // expected chunk counts at the boundaries
    assert(lens.indices.map(i => got((i + 1).toLong)._2) ===
      Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    // the overlap law: with W=64, S=48 every 17-token span fits whole
    // inside some chunk (pure arithmetic over all lengths we'd ever see)
    for (n <- 17 to 300; s <- 1 to n - 16) {
      val nc = if (n <= 64) 1 else 1 + ((n - 64 + 47) / 48)
      assert((0 until nc).exists(i => i * 48 + 1 <= s && s + 16 <= i * 48 + 64),
        s"span [$s, ${s + 16}] of a $n-token doc straddles every chunk")
    }
  }

  /** O(n²) reference skyline: maximize q, minimize n, over distinct points. */
  private def bruteSkyline(pts: Seq[(Long, Long)]): Set[(Long, Long)] =
    pts.filter { case (q, n) =>
      !pts.exists { case (q2, n2) =>
        q2 >= q && n2 <= n && (q2 > q || n2 < n)
      }
    }.toSet

  test("skyline2d equals the O(n^2) brute force on adversarial point sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases: Seq[(String, Seq[(Long, Long)])] = Seq(
      "anti-chain diagonal" -> (1 to 50).map(i => (i * 1000L, i.toLong)),
      "single chain (one survivor)" -> (1 to 50).map(i => (i * 1000L, 100L - i)),
      "all same quality" -> (1 to 30).map(i => (7777L, i.toLong)),
      "all same length" -> (1 to 30).map(i => (i * 313L, 9L)),
      "one bucket only" -> (1 to 40).map(i => (500L + i, (i * 7 % 40).toLong)),
      "random 500" -> Seq.fill(500)((rnd.nextInt(1000000).toLong,
        rnd.nextInt(200).toLong + 1)).distinct
    )
    cases.foreach { case (name, pts) =>
      val df = pts.toDF("quality_micro", "n_words")
        .withColumn("n_docs", lit(1L))
        .withColumn("min_doc_id", col("quality_micro"))
      val got = Pipeline.skyline2d(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === bruteSkyline(pts), s"case: $name")
    }
  }

  test("pareto skyline on the corpus: sound, complete, and layout-invariant") {
    val d = graft.Tables(spark, dir, "documents")
    val sky = Pipeline.paretoSkyline(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force the frontier over ALL distinct corpus points, taken
    // from the entry's own upstream score frame
    val qn = Pipeline.paretoSkylinePoints(d)
      .select(col("quality_micro"), col("n_words")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sky === bruteSkyline(qn.distinct), "frontier differs from brute force")
    assert(sky.nonEmpty && sky.size < qn.distinct.size, "frontier is a proper subset")
    val re = Pipeline.paretoSkyline(d.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re === sky, "layout invariance")
  }

  test("chunking differential: every corpus doc matches the independent chunker") {
    val d = graft.Tables(spark, dir, "documents")
    val texts = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Pipeline.chunkOverlap(d).collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
        === chunksOf(texts(id)), s"doc $id")
    }
  }

  // ------------------------------------- C40 exact stratified sampling
  private def selectFrame(hs: Seq[(String, Long, Long)]) = {
    import spark.implicits._
    hs.toDF("source", "doc_id", "h")
  }
  private def kFrame(ks: (String, Long)*) = {
    import spark.implicits._
    ks.toSeq.toDF("source", "k")
  }
  private def keptSet(d: org.apache.spark.sql.DataFrame,
      t: org.apache.spark.sql.DataFrame, bw: Long) = {
    import spark.implicits._
    Pipeline.stratifiedSelect(d, t, bw)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
  }

  test("stratified select: k inside a bucket, on an edge, zero, and all") {
    // h = 0..99 with doc_id = h, bucket width 10 ⇒ buckets 0-9 hold
    // exactly 10 each — every boundary case is addressable
    val d = selectFrame((0L until 100L).map(i => ("s", i, i)))
    // k=35: buckets 0-2 full, bucket 3 contributes its 5 smallest
    assert(keptSet(d, kFrame("s" -> 35L), 10L) ===
      (0L until 35L).map(("s", _)).toSet)
    // k=30: exactly a bucket edge — no boundary bucket at all
    assert(keptSet(d, kFrame("s" -> 30L), 10L) ===
      (0L until 30L).map(("s", _)).toSet)
    // k=0: nothing kept; k=100: everything kept (no straddle either way)
    assert(keptSet(d, kFrame("s" -> 0L), 10L) === Set.empty)
    assert(keptSet(d, kFrame("s" -> 100L), 10L) ===
      (0L until 100L).map(("s", _)).toSet)
  }

  test("stratified select: sparse buckets and multi-source independence") {
    // source a: h jumps over empty buckets; source b: all in ONE bucket
    val d = selectFrame(Seq(
      ("a", 1L, 5L), ("a", 2L, 95L), ("a", 3L, 96L), ("a", 4L, 300L),
      ("b", 1L, 42L), ("b", 2L, 43L), ("b", 3L, 44L)))
    val out = keptSet(d, kFrame("a" -> 3L, "b" -> 2L), 10L)
    assert(out === Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L), ("b", 2L)))
  }

  test("stratified select: equal h resolves by doc_id inside the boundary") {
    val d = selectFrame(Seq(
      ("s", 7L, 11L), ("s", 3L, 11L), ("s", 9L, 11L), ("s", 1L, 2L)))
    // k=2: h=2 first, then the SMALLEST doc_id among the h=11 tie
    assert(keptSet(d, kFrame("s" -> 2L), 10L) === Set(("s", 1L), ("s", 3L)))
  }

  test("stratified select equals the naive per-stratum sort at sf0.001") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables(spark, dir, "documents")
    val d = docs.select(col("source"), col("doc_id"),
      conv(substring(md5(concat(lit("samp:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
    val t = d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .withColumn("k", expr("n_total div 3")) // ragged: boundary everywhere
    val fast = Pipeline.stratifiedSelect(d, t.select("source", "k"))
      .select("source", "doc_id")
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val naive = d.withColumn("rn", row_number().over(w))
      .join(t.select("source", "k"), Seq("source"))
      .filter(col("rn") <= col("k")).select("source", "doc_id")
    assert(fast.count() === naive.count())
    assert(fast.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(fast).count() === 0)
  }

  test("stratified select: randomized differential vs sort-take-k") {
    // deterministic LCG frames: heavy h collisions (h mod 37), sparse
    // and dense buckets, k swept across the whole range — every case
    // must match the reference sort((h, doc_id)).take(k) exactly
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed >>> 11 }
    for (trial <- 0 until 4) {
      val n = 120 + trial * 70
      val rows = (0 until n).map { i =>
        val src = s"s${next() % 3}"
        (src, i.toLong, (next() % 37) * (1L + next() % 5))
      }
      val ks = rows.groupBy(_._1).map { case (s, g) =>
        s -> (next() % (g.size + 1)).toLong
      }
      val want = rows.groupBy(_._1).toSeq.flatMap { case (s, g) =>
        g.sortBy(r => (r._3, r._2)).take(ks(s).toInt)
          .map(r => (s, r._2))
      }.toSet
      val d = selectFrame(rows)
      val t = kFrame(ks.toSeq: _*)
      assert(keptSet(d, t, 8L) === want, s"trial $trial (bucket 8)")
      assert(keptSet(d, t, 1000L) === want, s"trial $trial (one bucket)")
    }
  }

  test("stratified entry: exact counts and rate rule") {
    val out = Pipeline.sampleStratified(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (src, nTotal, nTarget, nKept) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val q = src.drop(3).toInt % 4 + 1
      assert(nTarget === q * nTotal / 4, src)
      assert(nKept === nTarget, s"$src: kept != target — selection inexact")
    }
    // the rate rule must actually exercise distinct fractions
    assert(out.map(r => r.getLong(2) * 4 / r.getLong(1)).distinct.length > 1)
  }

  // --------------------------------------------------------------- C52
  test("qualityTrain: learned model generalizes — held-out accuracy beats majority and the stand-in (sf0.01)") {
    // sf0.01 (the driver's gate SF): the sf0.001 toy corpus has 407
    // train docs against 4096 buckets and a 70% majority class the
    // model measurably cannot beat — see the C52 scaladoc
    val dir01 = sf("sf0.01")
    val docs = graft.Tables(spark, dir01, "documents")
    val out = Pipeline.qualityTrain(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val theta = out.filter(_._1 == -1L) match {
      case Array((_, th)) => th
      case other => fail(s"exactly one θ row expected, got ${other.length}")
    }
    val w = out.filter(_._1 >= 0L)
    assert(w.nonEmpty && w.forall(_._2 != 0L))
    assert(w.map(_._1).distinct.length === w.length)
    // features + labels recomputed independently of the trainer
    import spark.implicits._
    val fb = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("feats", concat(col("toks"),
        when(size(col("toks")) >= 2, zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), explode(col("feats")).as("g"))
      .select(col("doc_id"),
        expr(s"CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % ${Text.ModelBuckets}").as("bucket"))
      .distinct()
      .withColumn("cnt", lit(1L))
    val lab = docs.select(col("doc_id"))
      .join(Pipeline.kept(docs).select(col("doc_id"), lit(1L).as("k")), Seq("doc_id"), "left")
      .select(col("doc_id"), when(col("k").isNull, -1L).otherwise(1L).as("y"))
    val hold = lab.filter(
      expr(s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % ${Pipeline.TrainHoldMod} = 0"))
    def acc(weights: org.apache.spark.sql.DataFrame, th: Long): (Long, Long) = {
      val scored = fb.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id")).agg(sum(col("wt") * col("cnt")).as("s"))
      val ev = hold.join(scored, Seq("doc_id"), "left")
        .select(col("y"), coalesce(col("s"), lit(0L)).as("s"))
        .withColumn("pred", when(col("s") > th, 1L).otherwise(-1L))
      (ev.filter(col("pred") === col("y")).count(), ev.count())
    }
    val (learnedOk, n) = acc(w.toSeq.toDF("bucket", "wt"), theta)
    val standin = spark.range(Text.ModelBuckets)
      .select(col("id").as("bucket"),
        expr("(id * 2654435761) % 2001 - 1000").as("wt"))
    val (standinOk, _) = acc(standin, 0L)
    val pos = hold.filter(col("y") === 1L).count()
    val majorityOk = math.max(pos, n - pos)
    info(s"held-out n=$n learned=$learnedOk standin=$standinOk majority=$majorityOk")
    assert(n > 0)
    assert(learnedOk > majorityOk,
      s"learned ($learnedOk/$n) must beat the majority class ($majorityOk/$n)")
    assert(learnedOk > standinOk,
      s"learned ($learnedOk/$n) must beat the C32 stand-in ($standinOk/$n)")
  }

  /** qualityTrain's semantics (qualityTrainSql's rounds) replayed on
    * the driver over (doc_id, y, feature buckets) train rows. */
  private def trainReplay(train: Seq[(Long, Long, Set[Long])]): Seq[(Long, Long)] = {
    var w = Map.empty[Long, Long]
    var theta = 0L
    def scores = train.map { case (_, y, bs) => y -> bs.iterator.map(w.getOrElse(_, 0L)).sum }
    for (_ <- 1 to Pipeline.TrainRounds) {
      val err = train.zip(scores).collect {
        case (d, (y, s)) if (y == 1L && s <= theta) || (y == -1L && s > theta) => d
      }
      def n(y: Long) = math.max(err.count(_._2 == y).toLong, 1L)
      def cnt(y: Long) = err.filter(_._2 == y).flatMap(_._3).groupBy(identity)
        .map { case (b, xs) => b -> xs.size.toLong * Pipeline.TrainRate }
      val (p, q) = (cnt(1L), cnt(-1L))
      val dlt = (p.keySet ++ q.keySet).map(b =>
        b -> (p.getOrElse(b, 0L) / n(1L) - q.getOrElse(b, 0L) / n(-1L))).toMap
      w = (w.keySet ++ dlt.keySet).map(b => b -> (w.getOrElse(b, 0L) + dlt.getOrElse(b, 0L))).toMap
      val s2 = scores
      theta = (s2.map(_._2).distinct :+ (s2.map(_._2).min - 1L)).map { th =>
        (s2.count { case (y, s) => (y == 1L && s <= th) || (y == -1L && s > th) }, th)
      }.min._2
    }
    ((-1L -> theta) +: w.toSeq.filter(_._2 != 0L)).sortBy(_._1)
  }

  test("qualityTrain: NULL-text train docs keep s = 0, as the oracle's LEFT JOIN does") {
    // the corpus's kept docs (y = +1), each again under a fresh id with
    // NULL text (y = −1): a NULL doc scores 0, so it is an error
    // exactly when θ < 0 and moves the θ argmin to 0
    val base = graft.Tables(spark, dir, "documents")
    val pos = base.join(Pipeline.kept(base).select("doc_id"), Seq("doc_id"), "left_semi")
    val docs = pos.unionByName(pos
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text", lit(null).cast("string")))
    val got = Pipeline.qualityTrain(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // features by the declarative chain, labels and hold-out as specified
    val toks = split(col("text"), " ")
    val feats = concat(toks, when(size(toks) >= 2, zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>")))
    val bucketsOf = docs.select(col("doc_id"), transform(feats, g =>
        conv(substring(md5(g), 1, 15), 16, 10).cast("bigint") % Text.ModelBuckets))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Set.empty[Long] else r.getSeq[Long](1).toSet)).toMap
    val keptIds = Pipeline.kept(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    val heldOut = docs.select(col("doc_id"), expr(s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % ${Pipeline.TrainHoldMod} = 0"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val train = bucketsOf.keys.toSeq.sorted.filterNot(heldOut).map(d =>
      (d, if (keptIds(d)) 1L else -1L, bucketsOf(d)))
    assert(train.count(_._3.isEmpty) > 20, "the fixture trains NULL-text docs")
    assert(train.count(_._2 == 1L) > 20, "and positives")
    assert(got === trainReplay(train))
  }

  test("qualityTrain leaves no persisted RDD behind for its caller") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Pipeline.qualityTrain(spark, dir).collect()
    val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(gained.isEmpty, s"qualityTrain left persisted RDDs $gained")
    assert(out.exists(_.getLong(0) == -1L))
  }
}
