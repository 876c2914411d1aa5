package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Loop, Tables}

/** End-to-end training-data curation (the composition the individual
  * C-ops exist for): language gate → quality threshold → exact dedup →
  * per-source corpus stats. One declarative plan — Catalyst fuses the
  * feature projections, and the only shuffles are the dedup hash
  * groupBy and the final stats groupBy. (The near-dup stage chains the
  * same way — [[curateNearDup]] adds [[Dedup.labelMap]]'s canonical
  * gate as a dup-graph-sized anti-join; it is a separate entry so the
  * base oracle stays non-recursive.)
  *
  * Cross-engine exactness: the quality score is an INTEGER micro-score
  * (`quality_micro` = quality × 10⁶, BIGINT) computed with one explicit
  * integer rounding — truncating division of non-negative integers,
  * `div` in Spark ≡ `//` in DuckDB — so every gate, sum, and mean is
  * exact integer arithmetic on both engines. The only doubles in the
  * output are raw IEEE quotients of identically-derived exact operands
  * (bit-identical by IEEE 754). The r2/r3 flake was the alternative:
  * a double→DECIMAL(10,6) cast of `round(x, 6)` is legal-to-disagree
  * between engines when the double sits at a 6-dp boundary. */
object Pipeline {

  /** quality ≥ 0.5, in micro units. */
  private val QualityFloorMicro = 500000L

  /** The quality formula of [[Text.quality]], re-derived as an exact
    * ×10⁶ integer score:
    *   min(n_words/50, 1)·0.3  → least(n_words·6000, 300000)
    *   (stop_cnt/n_words)·0.35 → (350000·stop_cnt) div n_words
    *   (alpha/n_chars)·0.35    → (350000·alpha_chars) div n_chars
    * All terms are < 2³² and non-negative, so truncating and floor
    * division coincide and nothing overflows. Empty text (n_chars = 0)
    * scores NULL — never kept — as DuckDB's `//` by zero gives NULL;
    * Spark's ANSI `div` would raise. */
  private def qualityMicro(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("stop_cnt", Text.wordCount(col("toks"), Text.enStops).cast("long"))
      .withColumn("alpha_chars",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
      .select(col("doc_id"), col("n_words"),
        (least(col("n_words") * lit(6000L), lit(300000L)) +
          expr("(350000 * stop_cnt) div n_words") +
          expr("(350000 * alpha_chars) div nullif(n_chars, 0)")).as("quality_micro"))

  /** The surviving documents after every gate — the pipeline's actual
    * output corpus (what a training run reads); [[curate]] aggregates
    * it into per-source stats. Library form: any frame with `doc_id`,
    * `lang`, `source`, `text`. */
  def kept(documents: DataFrame): DataFrame = {
    val lang = Text.langId(documents).select(col("doc_id"), col("pred_lang"))
    val qual = qualityMicro(documents)
    val keep = Dedup.exact(documents).select(col("keep_id").as("doc_id"))
    val d = documents.select(col("doc_id"), col("lang"), col("source"))
    d.join(lang, "doc_id")
      .join(qual, "doc_id")
      .join(keep, Seq("doc_id"), "left_semi") // first copy of each text wins
      .filter(col("pred_lang") === col("lang") &&
        col("quality_micro") >= QualityFloorMicro)
  }

  def kept(spark: SparkSession, dir: String): DataFrame =
    kept(Tables(spark, dir, "documents"))

  /** kept-corpus entry: the curated document set itself (id + lang +
    * source + size + score), deterministically ordered. `quality` is the
    * raw quotient micro/10⁶ — exact operands, bit-stable. */
  def keptDocs(documents: DataFrame): DataFrame =
    kept(documents)
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
        (col("quality_micro") / lit(1000000.0)).as("quality"))
      .orderBy(col("doc_id"))

  def keptDocs(spark: SparkSession, dir: String): DataFrame =
    keptDocs(Tables(spark, dir, "documents"))

  /** Write the curated corpus as source-partitioned parquet — the
    * materialization a training pipeline consumes. Partitioning by
    * source keeps per-source reads pruned; maxRecordsPerFile bounds
    * file sizes at scale. */
  def materialize(documents: DataFrame, outDir: String): Unit =
    kept(documents)
      .join(documents.select(col("doc_id"), col("text")), "doc_id")
      .write.mode("overwrite")
      .partitionBy("source")
      .option("maxRecordsPerFile", 5000000)
      .parquet(outDir)

  def materialize(spark: SparkSession, dir: String, outDir: String): Unit =
    materialize(Tables(spark, dir, "documents"), outDir)

  /** Shared per-source stats tail of [[curate]] and [[curateNearDup]]
    * — ONE definition so a cross-engine-exactness fix (like the r5
    * HUGEINT casts) can never land in one entry and miss the other.
    * avg_quality: exact integer sum ÷ exact double denominator — one
    * IEEE division, no decimal cast anywhere. */
  private def sourceStats(keptDf: DataFrame): DataFrame =
    keptDf
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        (sum(col("quality_micro")).cast("double") / (lit(1000000.0) * count(lit(1))))
          .as("avg_quality"))
      .orderBy(col("source"))

  /** The SQL mirror of [[sourceStats]]'s select list (shared by
    * [[curateSql]] and [[curateNearDupSql]] the same way). */
  private val sourceStatsSelect: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS total_words,
      |  CAST(sum(quality_micro) AS DOUBLE) / (1000000.0 * count(*)) AS avg_quality""".stripMargin

  def curate(documents: DataFrame): DataFrame =
    sourceStats(kept(documents))

  def curate(spark: SparkSession, dir: String): DataFrame =
    curate(Tables(spark, dir, "documents"))

  /** The shared gate pipeline as SQL CTEs, built from the same
    * language-marker / stopword definitions and the same integer
    * micro-score the Spark side uses (`//` = floor division ≡ Spark
    * `div` on non-negative operands). */
  private val curateCtes: String = {
    val scoreSelect = Text.langMarkers
      .map { case (l, ws) => s"${Text.sqlWordCount(ws)} AS s_$l" }.mkString(",\n    ")
    val m = s"greatest(${Text.langMarkers.map { case (l, _) => s"s_$l" }.mkString(",")})"
    val pred = Text.langMarkers
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH t AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, lang, source,
       |    $scoreSelect,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(${Text.sqlWordCount(Text.enStops)} AS BIGINT) AS stop_cnt,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars
       |  FROM t),
       |p AS (SELECT *, $m AS m FROM s),
       |f AS (SELECT doc_id, lang, source, n_words,
       |    $pred AS pred_lang,
       |    least(n_words * 6000, 300000)
       |      + (350000 * stop_cnt) // n_words
       |      + (350000 * alpha_chars) // n_chars AS quality_micro
       |  FROM p),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |survivors AS (
       |  SELECT doc_id, lang, source, n_words, quality_micro
       |  FROM f JOIN keepers USING (doc_id)
       |  WHERE pred_lang = lang AND quality_micro >= $QualityFloorMicro)""".stripMargin
  }

  val curateSql: String =
    s"""$curateCtes
       |$sourceStatsSelect
       |FROM survivors
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val keptDocsSql: String =
    s"""$curateCtes
       |SELECT doc_id, lang, source, n_words, quality_micro / 1000000.0 AS quality
       |FROM survivors
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- near-dup curation
  /** [[curate]] with the near-dup stage chained in: docs demoted by the
    * minhash-LSH cluster assignment (non-canonical members of a
    * near-dup component) are dropped before the per-source stats.
    *
    * Scale shape: the demoted set is DUP-GRAPH-sized — only docs that
    * appear in a verified near-dup pair AND lost the min-id tie-break —
    * so the gate is an anti-join against a small side (broadcast when
    * the size gate proves it, AQE otherwise), never a corpus-sized
    * label join; the full `Dedup.clusters` output (every doc × label)
    * is never materialized here. */
  def curateNearDup(documents: DataFrame): DataFrame = {
    val (labels, small) = Dedup.labelMap(documents)
    val demoted = labels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    val demotedSide = if (small) broadcast(demoted) else demoted
    sourceStats(
      kept(documents).join(demotedSide, Seq("doc_id"), "left_anti"))
  }

  def curateNearDup(spark: SparkSession, dir: String): DataFrame =
    curateNearDup(Tables(spark, dir, "documents"))

  /** Oracle: the curation CTEs ∩ the canonical set of the recursive
    * transitive-closure clusters oracle (both CTE lists verbatim —
    * the near-dup gate is `doc_id = min(reachable)`). */
  val curateNearDupSql: String =
    s"""WITH RECURSIVE ${curateCtes.stripPrefix("WITH ")},
       |${Dedup.clustersCtes},
       |canon AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING a = min(b))
       |$sourceStatsSelect
       |FROM survivors JOIN canon USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ------------------------------------------------- decontamination
  /** Deterministic pseudo-benchmark membership (a stand-in for a real
    * eval-set id list): every 97th doc_id. */
  private val BenchmarkMod = 97
  /** ≥ this many shared distinct 3-grams with the benchmark ⇒
    * contaminated. */
  private val ContaminationFloor = 3
  /** Cap on the benchmark gram set a bloom blob may compile (16M
    * grams ≈ a 20 MB blob at 10 bits/element — far beyond any real
    * eval set, far below the 2 GB single-row wall). */
  private val BloomGramLimit = 16 * 1000 * 1000

  /** Benchmark decontamination — the training-data op that keeps eval
    * data out of the corpus: a document is contaminated when it shares
    * ≥ [[ContaminationFloor]] distinct word-3-grams with ANY benchmark
    * document. Gram matching joins on xxhash64(gram) like
    * [[Dedup.ngramJaccard]] (collision probability ≈ n²/2⁶⁴ — accepted
    * and documented there); the benchmark gram set is orders of
    * magnitude smaller than the corpus, so the join broadcasts at
    * scale and the corpus shuffles nothing.
    *
    * All outputs are exact integers — no cross-engine float risk. */
  def decontaminate(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, WordShingles}
    val d = documents
      .withColumn("shingles",
        Bridge.column(WordShingles(Bridge.expression(col("text")))))
      .select(col("doc_id"), col("shingles"))
    val grams = d
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    // the benchmark's distinct gram set (small side)
    val benchGrams = grams
      .filter(col("doc_id") % BenchmarkMod === 0)
      .select(col("g")).distinct()
    grams
      .filter(col("doc_id") % BenchmarkMod =!= 0)
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= ContaminationFloor)
      .select(col("doc_id"), col("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables(spark, dir, "documents"))

  val decontaminateSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
       |  FROM t WHERE len(toks) >= 3),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchmarkMod = 0)
       |SELECT doc_id, count(*) AS n_shared_grams
       |FROM g
       |WHERE doc_id % $BenchmarkMod <> 0 AND gram IN (SELECT gram FROM bench)
       |GROUP BY doc_id
       |HAVING count(*) >= $ContaminationFloor
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- capped sampling
  /** Per-source document cap. */
  private val SampleCap = 10

  /** Per-group capped sampling — bound any one source's share of the
    * corpus: keep the first [[SampleCap]] docs per source in
    * deterministic doc_id order (row_number over a per-source window;
    * the window sorts with Spark's spillable external sort, and the
    * output stats are exact integers). */
  def sampleCap(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(
        sum(when(col("rn") <= SampleCap, 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_total"))
      .orderBy(col("source"))
  }

  def sampleCap(spark: SparkSession, dir: String): DataFrame =
    sampleCap(Tables(spark, dir, "documents"))

  val sampleCapSql: String =
    s"""SELECT source,
       |  CAST(sum(CASE WHEN rn <= $SampleCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  count(*) AS n_total
       |FROM (SELECT source,
       |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |      FROM documents)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ------------------------------------- bloom-prefiltered decontamination
  /** [[decontaminate]] with the benchmark gram set compiled into ONE
    * bloom blob ([[graft.functions.BloomBlob]] — the reference's
    * dd_bloom_filter_create wire format) instead of a distributed
    * semi-join side. At 100 TB the benchmark set is fixed-size (eval
    * sets), so the blob is built once from a single collect_set
    * aggregate row, fetched to the driver as ONE bounded scalar (a few
    * KB — the same contract as a broadcast variable), and inlined as a
    * literal: every executor then prefilters its grams with the
    * codegen'd BloomFilterContains against a CONSTANT blob — no
    * shuffle, no join, no per-row broadcast lookup — and only the
    * bloom-surviving grams (true matches + ~0.1% false positives at 10
    * bits/element) enter the exact semi-join verify. Output is
    * IDENTICAL to [[decontaminate]] (bloom false positives are removed
    * by the verify), so the oracle is the same SQL. */
  def decontaminateBloom(documents: DataFrame): DataFrame =
    decontaminateBloom(documents, BloomGramLimit)

  /** [[decontaminateBloom]] with a benchmark gram set of at most `cap`
    * grams. */
  private[graft] def decontaminateBloom(documents: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, WordShingles}
    import graft.functions.GraftFunctions
    val d = documents
      .withColumn("shingles",
        Bridge.column(WordShingles(Bridge.expression(col("text")))))
      .select(col("doc_id"), col("shingles"))
    val grams = d.select(col("doc_id"), explode(col("shingles")).as("g"))
    // localCheckpoint the (bounded, benchmark-sized) gram set once:
    // both consumers — the size gate, the blob build and the
    // exact-verify semi-join — read the materialized blocks instead of
    // re-running the shingle lineage (blocks are reclaimed by the
    // ContextCleaner on GC, the minhashLsh pattern)
    val benchGrams = grams
      .filter(col("doc_id") % BenchmarkMod === 0)
      .select(col("g")).distinct()
      .localCheckpoint()
    // fail-fast size gate BEFORE anything funnels through one aggregate
    // row: the whole design rests on "the benchmark set is bounded"
    // (eval sets are), and if that assumption ever breaks, the
    // collect_set row below would hit the 2 GB single-row / driver-heap
    // wall with an opaque OOM. limit(cap+1).count() is a BOUNDED action
    // (CollectLimitExec stops at cap+1 rows — the Dedup.labelMap probe
    // pattern) over the already-materialized checkpoint blocks.
    val probed = benchGrams.limit(cap + 1).count()
    require(probed <= cap,
      s"decontaminateBloom: benchmark gram set exceeds the $cap-gram bloom " +
        "cap (use the distributed semi-join decontaminate() for an " +
        "unbounded benchmark side)")
    // one aggregate row holding the whole (bounded) benchmark gram set
    // → one blob; .head() ships only the blob bytes, never the grams
    val blob: Array[Byte] = benchGrams
      .agg(collect_set(col("g")).as("gs"))
      .select(GraftFunctions.dd_bloom_filter_create(col("gs")).as("b"))
      .head().getAs[Array[Byte]](0)
    grams
      .filter(col("doc_id") % BenchmarkMod =!= 0)
      .filter(GraftFunctions.dd_bloom_filter_contains(lit(blob), col("g")))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .join(benchGrams.select(xxhash64(col("g")).as("g")), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= ContaminationFloor)
      .select(col("doc_id"), col("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloom(Tables(spark, dir, "documents"))

  // ------------------------------------------------- sequence packing
  /** Token budget of one packed training sequence. */
  private val SeqBudget = 256L
  /** Docs per packing shard — bounds every window partition so the
    * packing sort never concentrates a whole source on one task. */
  private val PackShard = 256L

  /** Sequence packing — the step that turns a curated corpus into
    * fixed-token-budget training rows: docs are laid out in
    * deterministic doc_id order and a document starts a new sequence
    * whenever the running token count crosses a [[SeqBudget]] boundary
    * (`seq_id = tokens_before_this_doc div budget` — the standard
    * contiguous-fill approximation of bin packing; a single streaming
    * pass, no global coordination). Packing is per (source, shard):
    * sharding by `doc_id div` [[PackShard]] keeps every window
    * partition a bounded few hundred rows however large one source
    * grows, so the plan holds at 100 TB — shuffle keys are
    * (source, shard), each sort is in-memory-sized, and shards pack
    * independently exactly like parallel writers over corpus shards.
    * All outputs are exact integers (whitespace token counts, floor
    * division — `div` ≡ DuckDB `//` on non-negatives). */
  def packSequences(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard", expr(s"doc_id div $PackShard"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $SeqBudget"))
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("seq_tokens"))
      .orderBy(col("source"), col("shard"), col("seq_id"))
  }

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables(spark, dir, "documents"))

  /** Oracle: same window cumsum; the window `sum()` and the final
    * `sum()` are HUGEINT in DuckDB, so both the derived `seq_id` and
    * `seq_tokens` carry explicit BIGINT casts (§5 discipline). */
  val packSequencesSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    doc_id // $PackShard AS shard
       |  FROM documents),
       |c AS (SELECT source, shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t),
       |s AS (SELECT source, shard,
       |    CAST((cum - n_tok) // $SeqBudget AS BIGINT) AS seq_id, n_tok
       |  FROM c)
       |SELECT source, shard, seq_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens
       |FROM s
       |GROUP BY source, shard, seq_id
       |ORDER BY source, shard, seq_id""".stripMargin

  /** Sequence packing with the budget in REAL BPE tokens (r13, the
    * C11b integration the r12 verdict asked for): identical packing
    * algebra to [[packSequences]], but `n_tok` is the document's
    * deterministic BPE token count under
    * [[org.apache.spark.sql.graft.BpeLen.Merges]] — the unit an
    * actual context-length budget is set in. Per-doc counts come from
    * the Text.tokensBpe shape (explode → per-(doc, word)
    * pre-aggregation → codegen'd BpeLen once per distinct pair →
    * weighted sum); the oracle reuses the same recursive-CTE merge
    * replay over the distinct vocabulary, then packs with the same
    * window cumsum. Documents with no nonempty words drop on both
    * sides (inner dictionary join). Integer-exact end-to-end. */
  def packSequencesBpe(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.{Bridge, BpeLen}
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), "[ \t\n\r]+")).as("wd"))
      .filter(col("wd") =!= "")
      .groupBy(col("doc_id"), col("source"), col("wd"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("toks",
        Bridge.column(BpeLen(Bridge.expression(col("wd")))).cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt") * col("toks")).as("n_tok"))
      .withColumn("shard", expr(s"doc_id div $PackShard"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $SeqBudget"))
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("seq_tokens"))
      .orderBy(col("source"), col("shard"), col("seq_id"))
  }

  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame =
    packSequencesBpe(Tables(spark, dir, "documents"))

  val packSequencesBpeSql: String =
    s"""WITH RECURSIVE
       |w0 AS (SELECT doc_id, source,
       |         unnest(string_split_regex(lower(text), '[ \\t\\n\\r]+')) AS w
       |       FROM documents),
       |wc AS (SELECT doc_id, source, w, count(*) AS cnt
       |       FROM w0 WHERE w <> '' GROUP BY 1, 2, 3),
       |vocab AS (SELECT DISTINCT w FROM wc),
       |merges(rank, pat, rep) AS (VALUES ${Text.mergesValuesSql}),
       |b(w, s, r) AS (
       |  SELECT w, chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g'), 1
       |  FROM vocab WHERE NOT contains(w, chr(31))
       |  UNION ALL
       |  SELECT b.w,
       |    CASE WHEN contains(b.s, m.pat) THEN replace(b.s, m.pat, m.rep)
       |         ELSE b.s END,
       |    CASE WHEN contains(b.s, m.pat) THEN b.r ELSE b.r + 1 END
       |  FROM b JOIN merges m ON m.rank = b.r),
       |lenv AS (
       |  SELECT w, length(s) - length(replace(s, chr(31), '')) - 1 AS toks
       |  FROM b WHERE r = ${Text.mergeCount + 1}
       |  UNION ALL
       |  SELECT w, length(w) AS toks FROM vocab WHERE contains(w, chr(31))),
       |nt AS (SELECT wc.doc_id, wc.source,
       |         CAST(sum(wc.cnt * lenv.toks) AS BIGINT) AS n_tok,
       |         wc.doc_id // $PackShard AS shard
       |       FROM wc JOIN lenv ON wc.w = lenv.w GROUP BY 1, 2, 4),
       |c AS (SELECT source, shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM nt),
       |s AS (SELECT source, shard,
       |    CAST((cum - n_tok) // $SeqBudget AS BIGINT) AS seq_id, n_tok
       |  FROM c)
       |SELECT source, shard, seq_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens
       |FROM s
       |GROUP BY source, shard, seq_id
       |ORDER BY source, shard, seq_id""".stripMargin

  // ------------------------------------------------- source mixing
  /** Expected per-source doc budget after mixing. */
  private val MixBudget = 10L
  /** Fixed-point scale of the keep threshold (parts per million). */
  private val MixScale = 1000000L

  /** Deterministic source mixing — re-weight a multi-source corpus by
    * down-sampling each source toward a [[MixBudget]]-doc expected
    * budget (the "flatten the source distribution" step of a training
    * data recipe). The keep rule is a pure function of the doc id:
    * keep ⇔ md5-hash(doc_id) mod [[MixScale]] < keep_ppm, with
    * keep_ppm = min(scale, scale·budget div n_source) — exact integer
    * arithmetic end to end, reproducible across engines and runs, no
    * RNG state ([[Dedup.simHash]]'s md5 60-bit idiom: Spark
    * `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT`). At scale: per-source
    * counts are one tiny aggregate broadcast back over the corpus —
    * the corpus itself is scanned once and never shuffled until the
    * final per-source stats groupBy. */
  def mixSources(documents: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id"), col("source"))
    val rates = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("keep_ppm",
        least(lit(MixScale), expr(s"($MixScale * $MixBudget) div n_total")))
    d.join(broadcast(rates), "source")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % MixScale)
      .groupBy(col("source"), col("n_total"), col("keep_ppm"))
      .agg(count(when(col("h") < col("keep_ppm"), 1)).as("n_kept"))
      .orderBy(col("source"))
  }

  def mixSources(spark: SparkSession, dir: String): DataFrame =
    mixSources(Tables(spark, dir, "documents"))

  val mixSourcesSql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
       |r AS (SELECT source, n_total,
       |    least($MixScale, ($MixScale * $MixBudget) // n_total) AS keep_ppm
       |  FROM c),
       |h AS (SELECT source,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $MixScale AS h
       |  FROM documents)
       |SELECT r.source, r.n_total, r.keep_ppm,
       |  count(*) FILTER (WHERE h.h < r.keep_ppm) AS n_kept
       |FROM h JOIN r USING (source)
       |GROUP BY r.source, r.n_total, r.keep_ppm
       |ORDER BY r.source""".stripMargin

  // ------------------------------------------------- epoch mixing (C31)
  /** Repetition cap: never repeat a source beyond 4 epochs (the
    * data-constrained-scaling result of Muennighoff et al. 2023 — past
    * ~4 epochs repeated tokens stop buying loss). */
  private val EpochCapPpm = 4L * MixScale
  /** The mixture re-weights toward 2× the corpus token mass (so some
    * sources upsample past 1 epoch and the cap binds, some downsample). */
  private val MixTargetFactor = 2L

  /** UP-sampling source mixing — the capability [[mixSources]] (a pure
    * down-sampler) lacks: given a per-source mixture weight, compute a
    * per-source repetition factor (epochs, ppm fixed-point), cap it at
    * [[EpochCapPpm]], and emit each doc `floor(epochs)` times plus one
    * more iff md5-hash("epoch:" ‖ doc_id) mod [[MixScale]] < frac —
    * deterministic fractional repetition, the exact-integer cousin of a
    * Bernoulli epoch (reproducible across engines, runs, and partition
    * counts). The target token mass per source is
    * `MixTargetFactor · total_tokens · w_s / Σw`, with the mixture
    * weight w_s = 1 + md5-hash(source) mod 8 — a deterministic stand-in
    * for a recipe's hand-tuned weight vector (the same stand-in
    * contract as Multimodal's fake decode: the plumbing — weight join,
    * cap, fractional repetition, token accounting — is the operator;
    * real recipes substitute their weights).
    *
    * Scale shape: one narrow scan aggregates per-source token mass (a
    * source-cardinality-bounded frame); the global Σ is a window over
    * that tiny frame (NOT a 1-row cross join — that plans the BNLJ the
    * plan audit forbids); the per-source rates broadcast back over the
    * corpus, and per-doc copy counts aggregate map-side. The corpus
    * crosses no shuffle. Production emit = the same frame exploded by
    * `sequence(1, n_copies)` (bounded ≤ 5× by the cap); this entry
    * emits the per-source accounting of that emission. Overflow note:
    * `2·SCALE·w·total` stays under 2⁶³ through ~10¹² corpus tokens;
    * beyond that, rearrange to `(2·SCALE·w·(total div Σw)) div toks_s`
    * (≤ 1 ppm drift) or lift to DECIMAL(38,0). */
  def mixEpochs(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val rates = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("tokens_total"))
      .withColumn("w",
        (conv(substring(md5(col("source")), 1, 15), 16, 10)
          .cast("long") % 8) + 1)
      // global totals over the source-bounded aggregate: a single-
      // partition window over n_sources rows, not a corpus shuffle
      .withColumn("total", sum(col("tokens_total")).over(Window.partitionBy()))
      .withColumn("sumw", sum(col("w")).over(Window.partitionBy()))
      .withColumn("epochs_ppm",
        least(lit(EpochCapPpm),
          expr(s"($MixTargetFactor * $MixScale * w * total) div (sumw * tokens_total)")))
      .select(col("source"), col("n_docs"), col("tokens_total"), col("w"),
        col("epochs_ppm"))
    val copies = t.join(broadcast(rates), "source")
      .withColumn("h",
        conv(substring(md5(concat(lit("epoch:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % MixScale)
      .withColumn("n_copies",
        expr(s"epochs_ppm div $MixScale") +
          when(col("h") < col("epochs_ppm") % MixScale, 1L).otherwise(0L))
    copies.groupBy(col("source"))
      .agg(sum(col("n_copies")).cast("long").as("n_emitted"),
        sum(col("n_copies") * col("n_tok")).cast("long").as("tokens_emitted"))
      .join(broadcast(rates), "source")
      .select(col("source"), col("n_docs"), col("tokens_total"), col("w"),
        col("epochs_ppm"), col("n_emitted"), col("tokens_emitted"))
      .orderBy(col("source"))
  }

  def mixEpochs(spark: SparkSession, dir: String): DataFrame =
    mixEpochs(Tables(spark, dir, "documents"))

  val mixEpochsSql: String =
    s"""WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
       |  FROM documents),
       |s AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS tokens_total
       |  FROM t GROUP BY source),
       |sw AS (SELECT source, n_docs, tokens_total,
       |    1 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 8 AS w
       |  FROM s),
       |r AS (SELECT source, n_docs, tokens_total, w,
       |    least(CAST($EpochCapPpm AS BIGINT),
       |      ($MixTargetFactor * $MixScale * w * (SELECT CAST(sum(tokens_total) AS BIGINT) FROM sw))
       |        // ((SELECT CAST(sum(w) AS BIGINT) FROM sw) * tokens_total)) AS epochs_ppm
       |  FROM sw),
       |c AS (SELECT t.source, t.n_tok,
       |    (r.epochs_ppm // $MixScale)
       |      + CASE WHEN ('0x' || substr(md5('epoch:' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
       |                  % $MixScale < (r.epochs_ppm % $MixScale)
       |             THEN 1 ELSE 0 END AS n_copies
       |  FROM t JOIN r USING (source))
       |SELECT r.source, r.n_docs, r.tokens_total, r.w, r.epochs_ppm,
       |  CAST(sum(c.n_copies) AS BIGINT) AS n_emitted,
       |  CAST(sum(c.n_copies * c.n_tok) AS BIGINT) AS tokens_emitted
       |FROM c JOIN r USING (source)
       |GROUP BY r.source, r.n_docs, r.tokens_total, r.w, r.epochs_ppm
       |ORDER BY r.source""".stripMargin

  // ------------------------------------------------------------- P7
  private val SplitScale = 1000L
  private val ValPermille = 100L // 10% held out

  /** Deterministic train/validation split: a doc is 'val' ⇔
    * md5("split:" || doc_id) mod 1000 < [[ValPermille]]. The assignment
    * is a pure function of the doc id — stable under re-runs,
    * repartitioning, and corpus growth (new docs never reassign
    * existing ones), which is what makes a held-out set trustworthy
    * across pipeline iterations; the salt keeps it independent of the
    * [[mixSources]] keep-hash. Pure per-doc map, no shuffle: the split
    * column is computed in the scan stage. */
  def splitTrainVal(documents: DataFrame): DataFrame =
    documents.withColumn("split",
      when(
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % SplitScale < ValPermille, "val")
        .otherwise("train"))

  /** P7 entry: per-(source, split) doc and exact token mass — the
    * sanity report every split step ships with. One map-side-combined
    * groupBy over (source, split). */
  def splitTrainValStats(documents: DataFrame): DataFrame =
    splitTrainVal(documents)
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy(col("source"), col("split"))

  def splitTrainValStats(spark: SparkSession, dir: String): DataFrame =
    splitTrainValStats(Tables(spark, dir, "documents"))

  val splitTrainValSql: String =
    s"""SELECT source,
       |  CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |            % $SplitScale < $ValPermille
       |       THEN 'val' ELSE 'train' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- P8
  /** Leakage-safe split: P7 hashes the DOC id, so two near-duplicate
    * documents can land on opposite sides of the train/val boundary —
    * the classic eval-contamination leak (the validation doc's
    * near-twin was trained on). Here the split key is the near-dup
    * CLUSTER id (C13's connected components over the verified
    * pair graph): every member of a cluster carries the same
    * assignment, so no near-dup pair ever straddles. Singleton docs
    * have cluster_id = doc_id, which makes their assignment IDENTICAL
    * to P7's — the leakage-safe split only moves docs that have a
    * near-twin, exactly the ones P7 gets wrong.
    *
    * Scale shape: C13's clustering (banded candidates, size-gated
    * label map) + one join of the label frame back to the corpus +
    * the same per-row hash-mod as P7 — the split itself adds no
    * shuffle beyond the label join. */
  def splitLeakageSafe(documents: DataFrame): DataFrame =
    documents
      .join(Dedup.clusters(documents).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"))
      .withColumn("split",
        when(
          conv(substring(md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % SplitScale < ValPermille, "val")
          .otherwise("train"))

  /** P8 entry: per-(source, split) doc and cluster counts. */
  def splitLeakageSafeStats(documents: DataFrame): DataFrame =
    splitLeakageSafe(documents)
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy(col("source"), col("split"))

  def splitLeakageSafeStats(spark: SparkSession, dir: String): DataFrame =
    splitLeakageSafeStats(Tables(spark, dir, "documents"))

  val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE ${Dedup.clustersCtes},
       |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
       |SELECT d.source,
       |  CASE WHEN ('0x' || substr(md5('split:' || CAST(cl.cluster_id AS VARCHAR)), 1, 15))::BIGINT
       |            % $SplitScale < $ValPermille
       |       THEN 'val' ELSE 'train' END AS split,
       |  count(*) AS n_docs,
       |  count(DISTINCT cl.cluster_id) AS n_clusters
       |FROM documents d JOIN cl USING (doc_id)
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- shard balance (C33)
  /** Training-loader shard count (data-parallel ranks / file shards). */
  private val NumShards = 16L

  /** Token-balanced shard assignment (C33) — the data-loader prep step
    * between curation and training: place every document into one of
    * [[NumShards]] shards so per-shard token mass is near-equal
    * (unbalanced shards idle data-parallel ranks at every epoch
    * boundary). Allocation is boustrophedon ("snake") over the global
    * token-count rank: sort docs by (n_tok DESC, doc_id), walk blocks
    * of 2N, deal block positions 0..N−1 forward and N..2N−1 back, so
    * each block gives every shard one heavy and one light doc. The
    * law (PipelineSpec proves both the theorem on an adversarial
    * fixture and the bound on the real corpus): within one block the
    * pair-sum spread is ≤ block max − block min, and blocks telescope
    * (block j's min ≥ block j+1's max), so
    * `max shard tokens − min shard tokens ≤ max single-doc tokens` —
    * the assignment is within one document of optimal, deterministically.
    *
    * Scale shape: the global rank is NOT a single-partition window over
    * the corpus (the classic scale-killer). Instead: (1) a map-side-
    * combined histogram of distinct token counts — bounded by max doc
    * length, thousands of rows at any corpus size; (2) prefix-sum
    * offsets via a single-partition window over THAT histogram (the
    * mixEpochs discipline: tiny bounded frame, never the corpus);
    * (3) rank = offset + row_number partitioned BY n_tok — distributed
    * across as many partitions as there are distinct lengths, each
    * bounded by its tie count. A corpus where one exact length
    * dominates would re-concentrate; the fix is a secondary
    * (n_tok, doc_id range-bucket) sub-key with per-bucket sub-offsets —
    * same histogram trick one level down. Production emits the
    * (doc_id → shard) frame this derives; the entry emits the
    * per-shard accounting (the mixEpochs convention). */
  def shardBalance(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val offsets = t.groupBy(col("n_tok"))
      .agg(count(lit(1)).as("n"))
      // prefix sum over the length histogram: docs with strictly more
      // tokens rank first
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.partitionBy().orderBy(col("n_tok").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tok"), col("offset"))
    val block = NumShards * 2
    t.join(broadcast(offsets), "n_tok")
      .withColumn("pos",
        (col("offset")
          + row_number().over(
              Window.partitionBy(col("n_tok")).orderBy(col("doc_id")))
          - 1) % block)
      .withColumn("shard",
        when(col("pos") < NumShards, col("pos"))
          .otherwise(lit(block - 1) - col("pos")).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .orderBy(col("shard"))
  }

  def shardBalance(spark: SparkSession, dir: String): DataFrame =
    shardBalance(Tables(spark, dir, "documents"))

  val shardBalanceSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |r AS (SELECT n_tok,
       |    (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1)
       |      % ${NumShards * 2} AS pos
       |  FROM t)
       |SELECT CAST(CASE WHEN pos < $NumShards THEN pos
       |                 ELSE ${NumShards * 2 - 1} - pos END AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM r GROUP BY 1 ORDER BY shard""".stripMargin

  // --------------------------------------------------- DSIR weights (C34)
  /** Hash-bucket count for the two n-gram bag models (the DSIR paper
    * uses 10k; 4096 matches C32's bucket space and keeps the oracle's
    * replay readable — the plumbing is bucket-count-agnostic). */
  private val DsirBuckets = 4096L

  /** DSIR importance weights (C34) — Data Selection via Importance
    * Resampling (Xie et al. 2023): score every raw document by how
    * much more likely it is under a TARGET corpus's hashed n-gram
    * bag-of-words model than under the raw corpus's own, then select
    * the docs that look most like the target. Features are the
    * document's words plus word bigrams (C32's feature space), hashed
    * into [[DsirBuckets]] buckets; the target here is the `lang='en'`
    * subset (a real pipeline points this at its quality corpus). The
    * importance weight is the likelihood ratio
    * `Π_g p_tgt(bucket(g)) / p_raw(bucket(g))` with add-1 smoothing.
    *
    * Cross-engine exactness without transcendentals: the classic form
    * sums logs, but `ln` is not bit-portable across engines (the §8
    * discipline). Each factor here is instead ONE division of two
    * exact longs — `(c_tgt(b)+1)·(C_raw+B)` over `(c_raw(b)+1)·(C_tgt+B)`
    * — and the per-doc weight is the POSITION-ORDERED product of those
    * factors (a [[Text.bucketFold]] product over the per-bucket
    * factor table, computed once per bucket on the driver ≡ DuckDB
    * `list_reduce(list(q ORDER BY pos))`, the C25 ordered-fold idiom:
    * long→double conversion, multiply, and divide are all exactly
    * rounded, so identical operand order means identical bits).
    * Overflow: each long product is ≤ (C+1)·(C+B) and is taken with
    * `Math.multiplyExact`, so it raises rather than wraps; safe through
    * ~3·10⁹ feature occurrences per model, far past the gate SFs —
    * beyond that, pre-divide both totals by a common 2^k (the scaladoc
    * constant trade: ≤1 ulp drift per factor) or lift to DECIMAL(38).
    *
    * Scale shape: the bucket-count models are ONE map-side-combined
    * aggregation over the exploded buckets (≤[[DsirBuckets]] rows
    * cross the wire per partition), collected — a BOUNDED collect, 4096
    * rows by construction — and ride the scoring pass as two
    * [[Text.bucketFold]] tables (the factors q[b] and the 0/1
    * target-leaning flags), so the scoring pass is a pure per-row fold:
    * features never leave their row, zero corpus shuffles, one
    * corpus-linear count pass plus one corpus-linear score pass. A doc
    * with NULL text has no features and no output row (the oracle's
    * unnest emits none either).
    *
    * Alongside `w` the entry emits `n_pos`, the count of the doc's
    * features whose smoothed target probability exceeds the raw one —
    * an EXACT-INTEGER comparison (`(c_tgt+1)·(C_raw+B) >
    * (c_raw+1)·(C_tgt+B)`, cross-multiplied so no division happens),
    * the length-fair sign-test companion to the length-compounding
    * ratio. The keep decision itself is policy, applied downstream
    * (the paper resamples by Gumbel-top-k over `ln w`; a fixed
    * `n_pos/n_feats` floor is the deterministic analogue) — bundling a
    * hard flag here would freeze a threshold that degenerates on
    * vocabulary-shared corpora like the gate fixture.
    *
    * CACHE LIFETIME (the r18 ADVICE note): the returned frame reads a
    * MEMORY_AND_DISK-persisted feature projection that this function
    * deliberately does NOT unpersist — the output is corpus-scaled
    * (per-doc), so eager materialization would double-store it, and
    * releasing before the caller's action would recompute the feature
    * hashing twice. Library callers should release it after consuming
    * the result (`spark.sparkContext.getPersistentRDDs` sweep or
    * session teardown); Bench/Verify's per-entry cleanup already does. */
  def dsirWeights(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.BucketFold
    // r18 opt: the count pass and the scoring pass each re-derived
    // the md5-per-feature buckets from the raw text; one persisted
    // bucketed projection (doc_id, is-target, n_feats, buckets) now
    // feeds both passes, halving the feature-hashing work. Still zero
    // corpus shuffles (PlanAuditSpec's no-Exchange pin holds over the
    // InMemoryTableScan); the projection is released by the caller's
    // post-entry cleanup (the bench's leaked-persist discipline).
    val bucketed = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), (col("lang") === "en").as("t"),
        Text.hashedFeatures(col("text"), DsirBuckets).as("buckets"))
      .select(col("doc_id"), col("t"),
        size(col("buckets")).cast("long").as("n_feats"), col("buckets"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = bucketed
      .select(explode(col("buckets")).as("b"), col("t"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("craw"),
        sum(when(col("t"), 1L).otherwise(0L)).as("ctgt"))
      .collect() // bounded: ≤ DsirBuckets rows by construction
    val raw = new Array[Long](DsirBuckets.toInt)
    val tgt = new Array[Long](DsirBuckets.toInt)
    counts.foreach { r =>
      val b = r.getLong(0).toInt
      raw(b) = r.getLong(1); tgt(b) = r.getLong(2)
    }
    val rawTot = raw.sum + DsirBuckets
    val tgtTot = tgt.sum + DsirBuckets
    // the factor's two exact longs, once per bucket
    val num = tgt.map(c => Math.multiplyExact(c + 1L, rawTot))
    val den = raw.map(c => Math.multiplyExact(c + 1L, tgtTot))
    val q = BucketFold.Product(num.indices.map(b =>
      num(b).toDouble / den(b).toDouble).toArray)
    val pos = BucketFold.Sum(num.indices.map(b =>
      if (num(b) > den(b)) 1L else 0L).toArray)
    bucketed
      .withColumn("w", Text.bucketFold(col("buckets"), q))
      .withColumn("n_pos", Text.bucketFold(col("buckets"), pos))
      .select(col("doc_id"), col("n_feats"), col("n_pos"), col("w"))
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables(spark, dir, "documents"))

  val dsirWeightsSql: String =
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
       |  FROM documents),
       |f AS (SELECT doc_id, lang,
       |    list_concat(toks, list_transform(
       |      generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS feats
       |  FROM t),
       |e AS (SELECT doc_id, lang, i AS pos,
       |    ('0x' || substr(md5(feats[i]), 1, 15))::BIGINT % $DsirBuckets AS b
       |  FROM f, unnest(generate_series(1, len(feats))) AS u(i)),
       |c AS (SELECT b, count(*) AS craw,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ctgt
       |  FROM e GROUP BY b),
       |tot AS (SELECT CAST(sum(craw) + $DsirBuckets AS BIGINT) AS rawtot,
       |    CAST(sum(ctgt) + $DsirBuckets AS BIGINT) AS tgttot FROM c),
       |q AS (SELECT e.doc_id, e.pos,
       |    CAST((c.ctgt + 1) * tot.rawtot AS DOUBLE)
       |      / CAST((c.craw + 1) * tot.tgttot AS DOUBLE) AS q,
       |    CASE WHEN (c.ctgt + 1) * tot.rawtot
       |              > (c.craw + 1) * tot.tgttot
       |         THEN 1 ELSE 0 END AS pf
       |  FROM e JOIN c USING (b), tot)
       |SELECT doc_id, count(*) AS n_feats,
       |  CAST(sum(pf) AS BIGINT) AS n_pos,
       |  list_reduce(list(q ORDER BY pos), (acc, x) -> acc * x) AS w
       |FROM q GROUP BY doc_id""".stripMargin

  // ----------------------------------------------- overlap chunking (C35)
  /** Chunk window (tokens) and stride — 16-token overlap so no span of
    * ≤ 17 tokens is ever cut without appearing whole in some chunk. */
  private val ChunkWindow = 64L
  private val ChunkStride = 48L

  /** Overlapping-window document chunking (C35) — the retrieval-prep
    * step between curation and embedding: split each document's token
    * stream into windows of [[ChunkWindow]] tokens advancing by
    * [[ChunkStride]] (16-token overlap, the standard RAG chunking
    * shape), so every passage fits an embedding-model context and
    * boundary-straddling spans survive in the overlap. Chunk count is
    * `1 + ceil(max(0, n−W)/S)`; the last chunk may be short (both
    * engines' slice clamps identically).
    *
    * The entry emits the per-doc accounting with a C1b-shape
    * reassembly proof: `chunks_md5` = md5 of the position-ordered
    * concatenation of each chunk's own md5, so the oracle agreeing
    * means every chunk's exact token content and order match — not
    * just the counts. `n_chunk_tokens` (window sum incl. overlap)
    * pins the window/stride arithmetic.
    *
    * Scale shape: pure per-row map — chunk ids, slices, and hashes are
    * all computed inside the row via `transform`/`sequence`, zero
    * shuffles, zero explodes; linear in corpus bytes. Production emits
    * the exploded (doc_id, chunk_id, text) frame this derives —
    * explode-at-write multiplies rows ~n/S-fold but stays map-only. */
  def chunkOverlap(documents: DataFrame): DataFrame = {
    val W = ChunkWindow
    val S = ChunkStride
    documents
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_tok") <= W, 1L)
          .otherwise(lit(1L) + expr(s"(n_tok - $W + $S - 1) div $S")))
      .withColumn("n_chunk_tokens", expr(
        s"""aggregate(sequence(0L, n_chunks - 1), CAST(0 AS BIGINT),
           |  (acc, i) -> acc + least($W, n_tok - i * $S))""".stripMargin))
      .withColumn("chunks_md5", md5(concat_ws("", expr(
        s"""transform(sequence(0L, n_chunks - 1),
           |  i -> md5(concat_ws(' ',
           |         slice(toks, CAST(i * $S + 1 AS INT), $W))))""".stripMargin))))
      .select(col("doc_id"), col("n_tok"), col("n_chunks"),
        col("n_chunk_tokens"), col("chunks_md5"))
  }

  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables(spark, dir, "documents"))

  val chunkOverlapSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (SELECT doc_id, toks, n_tok,
       |    CAST(CASE WHEN n_tok <= $ChunkWindow THEN 1
       |         ELSE 1 + (n_tok - $ChunkWindow + $ChunkStride - 1)
       |                    // $ChunkStride END AS BIGINT) AS n_chunks
       |  FROM t)
       |SELECT doc_id, n_tok, n_chunks,
       |  CAST(list_sum(list_transform(generate_series(0, n_chunks - 1),
       |    i -> least($ChunkWindow, n_tok - i * $ChunkStride)))
       |    AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(list_transform(generate_series(0, n_chunks - 1),
       |    i -> md5(array_to_string(
       |           list_slice(toks, i * $ChunkStride + 1,
       |                      i * $ChunkStride + $ChunkWindow),
       |           ' '))), '')) AS chunks_md5
       |FROM c""".stripMargin

  // --------------------------------------------------- Pareto skyline (C36)
  /** Quality-bucket width for the skyline grid prune:
    * `quality_micro div 1000` → at most ~1001 buckets. */
  private[graft] val SkyBucket = 1000L

  /** Distributed 2-D skyline over DISTINCT points `(quality_micro,
    * n_words[, n_docs, min_doc_id])` — maximize quality, minimize
    * length. Exact, fully distributed, no single-partition pass over
    * data-sized frames:
    *
    *  1. GRID PRUNE: bucket points by `quality_micro div [[SkyBucket]]`;
    *     the per-bucket min length is a tiny (≤ ~1001-row) aggregate,
    *     and `hmin(b)` = min length over all STRICTLY higher buckets is
    *     one window over that tiny frame (the mixEpochs discipline).
    *     A point survives iff `n < hmin(b)` (or no higher bucket). The
    *     prune is EXACT both ways: a pruned point is dominated by the
    *     higher-bucket witness (`q' > q`, `n' ≤ n`), and if a
    *     same-bucket dominator was pruned its dominatee is pruned too
    *     (`n ≥ n_dom ≥ hmin`), so no skyline point is lost and no
    *     cross-bucket domination remains among survivors.
    *  2. PER-BUCKET FINISH: among survivors only same-bucket domination
    *     is left, so a window PARTITIONED BY bucket (order
    *     `quality_micro DESC, n ASC`, running min of n over the strict
    *     prefix) finishes exactly: keep iff no preceding survivor in
    *     the bucket has `n ≤ mine` — distributed across buckets, each
    *     partition bounded by its bucket's surviving point count.
    *
    * Input must be distinct on (quality_micro, n_words) — the entry
    * groups first, which also makes dominance strict-in-one
    * well-defined (duplicate docs ride along in `n_docs`). */
  private[operators] def skyline2d(pts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = pts.withColumn("b", expr(s"quality_micro div $SkyBucket"))
    val buckets = b.groupBy(col("b")).agg(min(col("n_words")).as("bmin"))
      .withColumn("hmin", min(col("bmin")).over(
        Window.partitionBy().orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("b"), col("hmin"))
    val surv = b.join(broadcast(buckets), "b")
      .filter(col("hmin").isNull || col("n_words") < col("hmin"))
    val w = Window.partitionBy(col("b"))
      .orderBy(col("quality_micro").desc, col("n_words").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    surv.withColumn("m", min(col("n_words")).over(w))
      .filter(col("m").isNull || col("n_words") < col("m"))
      .drop("b", "hmin", "m")
  }

  /** Pareto-skyline data selection (C36) — the skyline operator
    * (Börzsönyi et al., ICDE 2001; Spark SQL integration studied in
    * EDBT 2023) applied to curation: the Pareto frontier of document
    * quality vs length, i.e. every (quality_micro, n_tok) point such
    * that no document is simultaneously higher-quality and
    * shorter-or-equal (or equal-quality and strictly shorter). This is
    * the budget curve a data-selection pass walks: for any token
    * budget, the best attainable quality is on this frontier.
    * All-integer metrics (the C14 exact micro-score), so the DuckDB
    * NOT-EXISTS dominance oracle replays it bit-for-bit; the
    * distributed plan is [[skyline2d]]'s grid-prune + per-bucket
    * finish — the naive formulation is an O(n²) self-join (a
    * CartesianProduct, PlanAuditSpec-forbidden), this is two linear
    * passes plus bounded-frame windows. */
  /** The skyline's input point set — distinct (quality_micro, n_words)
    * with doc accounting; exposed so the spec can brute-force the
    * frontier over exactly the frame the operator consumes. */
  private[graft] def paretoSkylinePoints(documents: DataFrame): DataFrame =
    qualityMicro(documents)
      .groupBy(col("quality_micro"), col("n_words"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  def paretoSkyline(documents: DataFrame): DataFrame = {
    val pts = paretoSkylinePoints(documents)
    skyline2d(pts)
      .select(col("quality_micro"), col("n_words").cast("long").as("n_tok"),
        col("n_docs"), col("min_doc_id"))
      .orderBy(col("quality_micro").desc)
  }

  def paretoSkyline(spark: SparkSession, dir: String): DataFrame =
    paretoSkyline(Tables(spark, dir, "documents"))

  val paretoSkylineSql: String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(toks) AS BIGINT) AS n_tok,
       |    CAST(${Text.sqlWordCount(Text.enStops)} AS BIGINT) AS stop_cnt,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
       |      AS alpha_chars
       |  FROM t),
       |q AS (SELECT doc_id, n_tok,
       |    least(n_tok * 6000, 300000)
       |      + (350000 * stop_cnt) // n_tok
       |      + (350000 * alpha_chars) // n_chars AS qm
       |  FROM s),
       |p AS (SELECT qm, n_tok, count(*) AS n_docs,
       |    CAST(min(doc_id) AS BIGINT) AS min_doc_id
       |  FROM q GROUP BY 1, 2)
       |SELECT qm AS quality_micro, n_tok, n_docs, min_doc_id FROM p
       |WHERE NOT EXISTS (SELECT 1 FROM p o
       |  WHERE o.qm >= p.qm AND o.n_tok <= p.n_tok
       |    AND (o.qm > p.qm OR o.n_tok < p.n_tok))
       |ORDER BY quality_micro DESC""".stripMargin

  // ------------------------------------------- exact stratified sampling
  /** Digest modulus for the kept-set membership sum (prime, < 2³¹ so
    * the per-source sum of ≤2³¹-sized residues stays long-safe up to
    * ~2³² kept docs per source). */
  private val DigestMod = 1000000007L

  /** Bucket width for the selection histogram: h < 16¹⁵ = 2⁶⁰, so
    * 2⁵²-wide buckets give 256 of them. */
  private val SampleBucket = 1L << 52

  /** EXACT k-smallest-by-h selection per stratum WITHOUT a full
    * per-stratum sort — the distributed selection kernel of
    * [[sampleStratified]], factored so the spec can drive handcrafted
    * h layouts onto exact bucket edges.
    *
    * `d` carries (source, doc_id, h); `t` carries (source, k), k ≥ 0.
    * Returns the kept (source, doc_id, h) rows: for each source, the k
    * smallest by (h, doc_id) — the doc_id tiebreak makes the order
    * total, so the keep-set is unique.
    *
    * Plan: one (source, bucket) histogram (≤ 256·|sources| rows), a
    * cumulative sweep over that TINY frame (window over sources ×
    * ≤256 rows — never data), broadcast back as two per-source
    * thresholds. Bucket counts are monotone-cumulative in b, so
    * "fully kept" is a single `b ≤ b_full` scan predicate; only the
    * ONE boundary bucket per source (expected |stratum|/256 rows)
    * pays a row_number sort, and that window runs on the
    * already-filtered boundary subset. Compare the naive plan — a full
    * row_number over every stratum — which serializes each stratum
    * through one task's sort; here a 100 TB hot stratum costs a scan
    * plus a 1/256-sized sort. (Same refine-the-one-bucket shape as
    * C29c's exact quantile, applied to selection.) */
  private[operators] def stratifiedSelect(d: DataFrame, t: DataFrame,
      bucketWidth: Long = SampleBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val hb = d.withColumn("b", expr(s"h div $bucketWidth"))
    val cum = hb.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("source")).orderBy(col("b"))))
      .join(t.select(col("source"), col("k")), Seq("source"))
    // monotone cum ⇒ full buckets form a prefix: b ≤ b_full keeps all
    val full = cum.filter(col("cum") <= col("k"))
      .groupBy(col("source")).agg(max(col("b")).as("b_full"))
    // at most ONE straddling bucket per source; r_star = how many of
    // its (h, doc_id)-smallest rows complete the count to k
    val bnd = cum
      .filter(col("cum") - col("cnt") < col("k") && col("cum") > col("k"))
      .select(col("source"), col("b").as("b_bnd"),
        (col("k") - (col("cum") - col("cnt"))).as("r_star"))
    val tagged = hb
      .join(broadcast(full), Seq("source"), "left")
      .join(broadcast(bnd), Seq("source"), "left")
    val keptFull = tagged
      .filter(col("b_full").isNotNull && col("b") <= col("b_full"))
    val wB = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val keptBnd = tagged
      .filter(col("b_bnd").isNotNull && col("b") === col("b_bnd"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= col("r_star"))
    keptFull.select(col("source"), col("doc_id"), col("h"))
      .unionByName(keptBnd.select(col("source"), col("doc_id"), col("h")))
  }

  /** EXACT-count stratified sampling (C40) — the per-source
    * downsampling every corpus-mixing recipe starts from ("web at 25%,
    * books at 100%"), with the count guarantee Bernoulli sampling
    * (Spark `sampleBy`, Vitter 1985 rejection variants) cannot give:
    * each source keeps EXACTLY k_s = rate_s · n_s (floor) documents,
    * selected uniformly (by md5 rank — deterministic, replayable, and
    * independent of layout) rather than "first k by id"
    * ([[sampleCap]]'s cheaper, biased cousin).
    *
    * Rates here derive from the source index (src{i} → (i mod 4 + 1)
    * quarters, exercising 25/50/75/100%); production passes a rate
    * table. Selection = k_s smallest by (h, doc_id) via
    * [[stratifiedSelect]] — histogram + one boundary-bucket sort, no
    * full per-stratum sort, so a hot source never serializes through
    * one task.
    *
    * Output is the per-source audit frame (n_total/n_target/n_kept +
    * an order-free membership digest: sum of h mod [[DigestMod]] over
    * kept docs — O(1) aggregation state, collision-improbable);
    * production materializes the kept rows themselves (the
    * [[stratifiedSelect]] output joined back to the corpus), same
    * plan minus the digest. Oracle replays the SAME keep-set with the
    * naive per-stratum row_number — fine single-node, and the
    * equality IS the proof the distributed selection picks the
    * identical k rows. */
  def sampleStratified(documents: DataFrame): DataFrame = {
    val d = documents.select(col("source"), col("doc_id"),
      conv(substring(md5(concat(lit("samp:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
    val t = d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .withColumn("idx", substring(col("source"), 4, 10).cast("int"))
      .withColumn("k", expr("((idx % 4) + 1) * n_total div 4"))
    val kept = stratifiedSelect(d, t)
    kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("h") % DigestMod).as("digest"))
      .join(t, Seq("source"), "right")
      .select(col("source"), col("n_total"), col("k").as("n_target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("digest"), lit(0L)).as("digest"))
      .orderBy(col("source"))
  }

  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    sampleStratified(Tables(spark, dir, "documents"))

  val sampleStratifiedSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |t AS (
       |  SELECT source, count(*) AS n_total,
       |    ((CAST(substr(source, 4) AS INT) % 4) + 1) * count(*) // 4 AS k
       |  FROM d GROUP BY source),
       |r AS (
       |  SELECT d.source, d.h,
       |    row_number() OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id) AS rn
       |  FROM d),
       |kept AS (
       |  SELECT r.source, r.h FROM r JOIN t ON r.source = t.source
       |  WHERE r.rn <= t.k)
       |SELECT t.source, t.n_total, t.k AS n_target,
       |  count(kept.h) AS n_kept,
       |  coalesce(CAST(sum(kept.h % $DigestMod) AS BIGINT), 0) AS digest
       |FROM t LEFT JOIN kept ON t.source = kept.source
       |GROUP BY t.source, t.n_total, t.k
       |ORDER BY t.source""".stripMargin

  // --------------------------------------------------------------- C52
  /** Trainer rounds — fixed and unrolled, the C38/C50 discipline
    * (production iterates to a validation plateau; measured here,
    * held-out accuracy peaks at rounds 2-3 and overfits past 4). */
  private[operators] val TrainRounds = 3
  /** Held-out split: md5(doc_id) mod 5 = 0 (≈20%) never trains. */
  private[operators] val TrainHoldMod = 5L
  /** Update scale: error centroids are ×10⁶ class-normalized. */
  private[operators] val TrainRate = 1000000L
  /** Score-range buckets for the θ argmin's histogram+refine pass. */
  private[operators] val ThetaBuckets = 1024L

  /** Exact θ-candidate frame (th, err) over a scores frame
    * (doc_id, y, s) — the C29c histogram+refine SHAPE in place of a
    * global ordered window: `Window.orderBy(s)` with no partitionBy
    * plans a SinglePartition sort whose input is O(distinct train
    * scores) — the one task the whole cluster waits on at 100× train
    * scale (the r15 verdict's scale-killer). The error curve
    * err(θ) = |{y=+1 : s ≤ θ}| + |{y=−1 : s > θ}| decomposes into a
    * cross-bucket PREFIX plus a WITHIN-bucket cumulative: distinct
    * scores are cut into ≤[[ThetaBuckets]] contiguous equal-width
    * ranges, the per-bucket (P, Q) histogram is a bounded collect
    * whose running sums ride back as a broadcast literal, and the
    * within-bucket cumulative is a window PARTITIONED by bucket —
    * distributed, never global (PlanAuditSpec pins
    * no-SinglePartition on this frame, the C39 precedent). Every
    * candidate's error is still computed EXACTLY, so the argmin —
    * and therefore the gated artifact and its unchanged oracle — is
    * identical to the serial form. */
  private[graft] def thetaCandidates(ts: DataFrame): DataFrame =
    thetaCandidatesFromAgg(ts.sparkSession, thetaScoreAgg(ts))

  /** The θ pass's only corpus-scaled pass: (s, p, q) per DISTINCT train
    * score. Everything downstream ([[thetaCandidatesFromAgg]]) consumes
    * this aggregate, so persisting it (the [[thetaArgmin]] wrapper)
    * bounds the per-round cost to ONE scan of the scores frame. */
  private def thetaScoreAgg(ts: DataFrame): DataFrame =
    ts.groupBy(col("s")).agg(
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"),
      sum(when(col("y") === -1L, 1L).otherwise(0L)).as("q"))

  /** [[thetaCandidates]] over a caller-provided (possibly persisted)
    * distinct-score aggregate. The score stats (smin/smax/totQ) are
    * derived from the AGGREGATE, not the scores frame — identical
    * values (min/max over distinct scores ≡ over all scores; Σq ≡ the
    * y=−1 count), one corpus-scaled scan saved per call (r19, §5). */
  private def thetaCandidatesFromAgg(spark: SparkSession,
      agg: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val st = agg.agg(min(col("s")), max(col("s")),
      sum(col("q")).cast("long"))
      .head() // bounded: 1 row of score stats
    def lz(i: Int) = if (st.isNullAt(i)) 0L else st.getLong(i)
    val (smin, smax, totQ) = (lz(0), lz(1), lz(2))
    val width = math.max(1L, (smax - smin) / ThetaBuckets + 1L)
    // (s - smin) ≥ 0, so div is plain truncation on both engines
    val bucketed = agg.withColumn("b", expr(s"(s - ($smin)) div $width"))
    val hist = bucketed.groupBy(col("b"))
      .agg(sum(col("p")).as("hp"), sum(col("q")).as("hq"))
      .collect() // bounded: ≤ ThetaBuckets rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var (cp, cq) = (0L, 0L)
    val prefix = hist.map { case (b, hp, hq) =>
      val row = (b, cp, cq); cp += hp; cq += hq; row
    }.toSeq
    val pdf = broadcast(prefix.toDF("b", "cp0", "cq0"))
    val iw = Window.partitionBy(col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.join(pdf, "b")
      .select(col("s").as("th"),
        (col("cp0") + sum(col("p")).over(iw) + lit(totQ)
          - col("cq0") - sum(col("q")).over(iw)).as("err"))
      .unionAll(Seq((smin - 1, totQ)).toDF("th", "err"))
  }

  /** The per-round θ: exact argmin over [[thetaCandidates]], with the
    * distinct-score aggregate PERSISTED across its three bounded
    * consumers (stats row, bucket histogram, candidate frame) — the
    * corpus-scaled scores frame is scanned once per round instead of
    * three times (r19 opt, guide §5 reuse of intermediates; identical
    * candidate set, identical argmin). */
  private def thetaArgmin(ts: DataFrame): Long = {
    val agg = thetaScoreAgg(ts).persist()
    try thetaCandidatesFromAgg(ts.sparkSession, agg)
      .orderBy(col("err"), col("th"))
      .limit(1).head().getLong(0) // bounded: the 1-row argmin
    finally { agg.unpersist(false); () }
  }

  /** Learned quality-model TRAINING (C52) — completes the trainer trio
    * (C37 learns the tokenizer, C38 learns the ANN codebook, C52 learns
    * the quality scorer C32 runs with stand-in weights): a linear
    * classifier over the SAME hashed feature space as
    * [[Text.qualityModel]] (words + word bigrams, md5-hashed into
    * [[Text.ModelBuckets]] buckets — [[Text.hashedFeatures]], exploded
    * — binary presence; a NULL-text doc has no feature and scores 0
    * every round, as the oracle's `tr LEFT JOIN` keeps it — bounded updates
    * where raw counts let long docs swamp a round), labels from the C14
    * heuristic gate (y = +1 ⇔ the doc survives [[kept]] — the
    * distill-the-pipeline trick: a cheap linear model imitates the full
    * gate, then scores corpora the gate's joins can't reach). Docs with
    * md5(doc_id) mod [[TrainHoldMod]] = 0 are held out and never train.
    *
    * The round is a class-normalized batch update, not the classic
    * unit-rate batch perceptron — that one was measured ORBITING here
    * (train errors cycling 121→280→121 forever at both test SFs, §8):
    * with ~70% negative labels, w₀ = Σ y·x starts all-negative and a
    * ±unit update of every misclassified doc overshoots back and forth.
    * Instead each round (1) collects the misclassified docs under the
    * CURRENT (w, θ), (2) adds the CLASS-NORMALIZED error-centroid
    * contrast Δw_b = (Σ_{err,y=+1} x_b)·10⁶ div max(n⁺,1) −
    * (Σ_{err,y=−1} x_b)·10⁶ div max(n⁻,1) — so each round moves w by a
    * bounded, imbalance-corrected step — and (3) re-optimizes the
    * decision threshold θ EXACTLY by empirical risk: candidate
    * thresholds are the distinct achieved train scores (plus min−1),
    * the error count of each is two prefix sums over the score-sorted
    * frame, argmin breaks ties low. Every operation is integer floor
    * arithmetic on non-negative operands, so DuckDB replays the learned
    * (weights, θ) bit-for-bit; measured at sf0.01, held-out accuracy
    * 62/93 vs majority 58/93 and stand-in 34/93 (at the sf0.001 toy
    * corpus 407 train docs vs 4096 buckets cannot beat a 70% majority —
    * the accuracy spec pins the driver's sf0.01). Irreducible label
    * noise is structural: the gate's exact-dup leg drops copies whose
    * text features are IDENTICAL to a kept doc.
    *
    * Scale shape: one corpus-linear explode into the map-side-combined
    * (doc, bucket) presence frame (the C41 shape); per round two
    * broadcast joins of the ≤4096-row weight table (scores for the
    * update, scores for the threshold), one per-bucket delta aggregate,
    * and BOUNDED collects only (1-row error counts, ≤4096-row delta,
    * 1-row score stats, ≤[[ThetaBuckets]]-row θ histogram, 1-row θ —
    * the C38 per-round discipline, which also avoids the 2^k plan
    * growth of chaining each round's frame into the next: a round
    * referencing the previous weight FRAME twice doubles the unresolved
    * plan per round, measured OOMing Catalyst's treeString at 8 rounds,
    * §8). The θ argmin runs over [[thetaCandidates]]'s
    * histogram+refine frame — exact, but never a global sort
    * (PlanAuditSpec pins no-SinglePartition on its plan). */
  def qualityTrain(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // a doc with NULL text has no features but still trains (s = 0,
    // the oracle's tr LEFT JOIN): explode_outer keeps it as one
    // (doc_id, NULL bucket) row, which no weight joins and the delta
    // pass skips
    val fb = documents
      .select(col("doc_id"),
        explode_outer(Text.hashedFeatures(col("text"), Text.ModelBuckets))
          .as("bucket"))
      .distinct()
      .withColumn("cnt", lit(1L))
    val lab = documents.select(col("doc_id"))
      .join(kept(documents).select(col("doc_id"), lit(1L).as("k")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("k").isNull, -1L).otherwise(1L).as("y"))
    // tf is the one materialized corpus-scaled frame: every per-round
    // scoring and delta pass replays through it, and computing it
    // means re-running the kept() gate (langid + dedup joins) —
    // measured 21s → 12s at sf0.1 from this pin (r18). tr itself is
    // consumed exactly once (the tf build) since the r19 scoring
    // rewrite below, so it no longer persists. localCheckpoint, not
    // persist (r19, the kleeneDist lineage discipline): the trainer
    // runs ~4 actions per round, and each action over a persisted-but-
    // lazy tf re-analyzes and re-optimizes the WHOLE logical plan —
    // feature explode, kept() gate, dedup joins — as pure driver time;
    // the checkpoint truncates every per-round plan to an RDD scan.
    val tr = lab.filter(
      expr(s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15)," +
        s" 16, 10) AS BIGINT) % $TrainHoldMod != 0"))
    val tf = fb.join(tr, "doc_id") // doc_id, bucket, cnt, y
      .localCheckpoint(true)
    try {
      var w = Map.empty[Long, Long]
      var theta = 0L
      // r19 opt (§2.4, remove the shuffle outright): the label rides
      // the ONE groupBy(doc_id) scoring pass — tf already carries y,
      // so the former per-round tr ⋈ scores join (two corpus-scaled
      // exchanges + sorts) disappears. Exactness: every tr doc reaches
      // tf (fb emits ≥1 row per doc: ≥1 feature for any text, the NULL
      // bucket row for NULL text), a doc with no weighted bucket keeps
      // s = 0 via left join + sum-ignores-nulls + coalesce, and y is
      // constant per doc so max(y) IS the label — bit-identical
      // (doc_id, y, s) rows.
      def trainScores(): DataFrame = {
        val wdf = broadcast(w.toSeq.toDF("bucket", "wt"))
        tf.join(wdf, Seq("bucket"), "left")
          .groupBy(col("doc_id"))
          .agg(max(col("y")).as("y"),
            coalesce(sum(col("wt") * col("cnt")).cast("long"), lit(0L))
              .as("s"))
          .select(col("doc_id"), col("y"), col("s"))
      }
      // ONE persisted scored frame per weight vector (r18 opt): the
      // round-k scores feed the θ argmin AND round k+1's error pass —
      // and the unpersisted error frame used to make its two actions
      // (count, bucket delta) each replay the full tf-join scoring
      // pass. Carrying the persisted frame across those three uses
      // cuts the per-entry scoring passes from 3·rounds to rounds+1
      // (measured 27.1 s → 12.5 s at sf0.1, r18 commit
      // 091d4b0 / OPTIMIZATION_r19.md) with bit-identical arithmetic —
      // the same values flow, they are just computed once.
      var ts = trainScores().persist() // scores under the current w
      for (r <- 1 to TrainRounds) {
        // r19 opt (§5, graft.Loop): the 1-row error COUNTS ride the
        // bucket-delta job as a CollectMetrics on the error frame — one
        // driver action per round where there were two, same rows
        // observed, same sums. The ppm division moves to the driver
        // (floor div of non-negative longs ≡ Spark's `div` on the same
        // operands — identical integers).
        val e = ts.filter(
          (col("y") === 1L && col("s") <= theta) ||
            (col("y") === -1L && col("s") > theta))
          .select(col("doc_id"), col("y"))
        spark.sparkContext.setJobDescription(s"qt:r$r:delta")
        val (pq, n) = Loop.observed(e,
            sum(when(col("y") === 1L, 1L).otherwise(0L)).cast("long")
              .as("nep"),
            sum(when(col("y") === -1L, 1L).otherwise(0L)).cast("long")
              .as("nen")) { eo =>
          tf.filter(col("bucket").isNotNull)
            .join(eo.select(col("doc_id")), "doc_id")
            .groupBy(col("bucket"))
            .agg((sum(when(col("y") === 1L, col("cnt")).otherwise(0L))
                * TrainRate).cast("long").as("p"),
              (sum(when(col("y") === -1L, col("cnt")).otherwise(0L))
                * TrainRate).cast("long").as("q"))
            .collect() // bounded: ≤ ModelBuckets rows
        }(_ => e)
        def nz(i: Int) = if (n.isNullAt(i)) 1L else math.max(n.getLong(i), 1L)
        val (nep, nen) = (nz(0), nz(1))
        val dlt = pq.map(r0 =>
          r0.getLong(0) -> (r0.getLong(1) / nep - r0.getLong(2) / nen)).toMap
        w = (w.keySet ++ dlt.keySet).iterator
          .map(b => b -> (w.getOrElse(b, 0L) + dlt.getOrElse(b, 0L))).toMap
        // exact threshold: argmin over candidate θ ∈ distinct scores,
        // via the histogram+refine candidate frame (never a global
        // sort); the new-w scored frame replaces the old one and also
        // serves the next round's error pass
        spark.sparkContext.setJobDescription(s"qt:r$r:scores+theta")
        val ts2 = trainScores().persist()
        theta = thetaArgmin(ts2)
        spark.sparkContext.setJobDescription(null)
        ts.unpersist(false)
        ts = ts2
      }
      ts.unpersist(false)
      (w.toSeq.filter(_._2 != 0L).sortBy(_._1) :+ (-1L -> theta))
        .toDF("bucket", "weight")
        .orderBy(col("bucket"))
    } finally Loop.release(tf)
  }

  def qualityTrain(spark: SparkSession, dir: String): DataFrame =
    qualityTrain(Tables(spark, dir, "documents"))

  val qualityTrainSql: String = {
    def scoresCte(name: String, wtab: String) =
      s"""$name AS (SELECT tr.doc_id, tr.y, coalesce(s.s, 0) AS s
         |  FROM tr LEFT JOIN
         |    (SELECT tf.doc_id, CAST(sum(w.wt * tf.cnt) AS BIGINT) AS s
         |     FROM tf JOIN $wtab w USING (bucket) GROUP BY 1) s
         |  USING (doc_id))""".stripMargin
    val rounds = (1 to TrainRounds).map { k =>
      val thPrev = if (k == 1) "0" else s"(SELECT th FROM b${k - 1})"
      val wPrev = s"w${k - 1}"
      s"""${scoresCte(s"s$k", wPrev)},
         |e$k AS (SELECT doc_id, y FROM s$k
         |  WHERE (y = 1 AND s <= $thPrev) OR (y = -1 AND s > $thPrev)),
         |n$k AS (SELECT
         |    greatest(count(*) FILTER (y = 1), 1) AS nep,
         |    greatest(count(*) FILTER (y = -1), 1) AS nen FROM e$k),
         |d$k AS (SELECT tf.bucket,
         |    (CAST(sum(CASE WHEN tf.y = 1 THEN tf.cnt ELSE 0 END)
         |       AS BIGINT) * $TrainRate) // n$k.nep
         |  - (CAST(sum(CASE WHEN tf.y = -1 THEN tf.cnt ELSE 0 END)
         |       AS BIGINT) * $TrainRate) // n$k.nen AS dw
         |  FROM tf JOIN e$k USING (doc_id) CROSS JOIN n$k
         |  GROUP BY tf.bucket, n$k.nep, n$k.nen),
         |w$k AS MATERIALIZED (SELECT
         |    coalesce(a.bucket, b.bucket) AS bucket,
         |    coalesce(a.wt, 0) + coalesce(b.dw, 0) AS wt
         |  FROM $wPrev a FULL OUTER JOIN d$k b ON a.bucket = b.bucket),
         |${scoresCte(s"t$k", s"w$k")},
         |a$k AS (SELECT s, count(*) FILTER (y = 1) AS p,
         |    count(*) FILTER (y = -1) AS q FROM t$k GROUP BY s),
         |c$k AS (SELECT s, sum(p) OVER (ORDER BY s) AS cp,
         |    sum(q) OVER (ORDER BY s) AS cq FROM a$k),
         |cand$k AS (SELECT s AS th,
         |    cp + (SELECT sum(q) FROM a$k) - cq AS err FROM c$k
         |  UNION ALL SELECT (SELECT min(s) - 1 FROM t$k),
         |    (SELECT count(*) FILTER (y = -1) FROM t$k)),
         |b$k AS MATERIALIZED (SELECT CAST(th AS BIGINT) AS th
         |  FROM cand$k ORDER BY err, th LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""$curateCtes,
       |fe AS (SELECT doc_id, unnest(list_concat(toks, list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1]))) AS g
       |  FROM t),
       |fb AS (SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(g), 1, 15))::BIGINT % ${Text.ModelBuckets}
       |      AS bucket,
       |    CAST(1 AS BIGINT) AS cnt
       |  FROM fe),
       |lab AS (SELECT d.doc_id,
       |    CASE WHEN s.doc_id IS NULL THEN -1 ELSE 1 END AS y
       |  FROM documents d LEFT JOIN survivors s USING (doc_id)),
       |tr AS (SELECT doc_id, y FROM lab
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |    % $TrainHoldMod <> 0),
       |tf AS MATERIALIZED (SELECT fb.doc_id, fb.bucket, fb.cnt, tr.y
       |  FROM fb JOIN tr USING (doc_id)),
       |w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS wt
       |  FROM (SELECT DISTINCT bucket FROM tf)),
       |$rounds
       |SELECT bucket, wt AS weight FROM w$TrainRounds WHERE wt <> 0
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), (SELECT th FROM b$TrainRounds)
       |ORDER BY bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_train" -> qualityTrain _,
    "pipeline_split_leakage_safe" -> (splitLeakageSafeStats(_, _)),
    "pipeline_split_train_val" -> (splitTrainValStats(_, _)),
    "pipeline_curate" -> curate _,
    "pipeline_curate_neardup" -> curateNearDup _,
    "pipeline_kept_docs" -> keptDocs _,
    "pipeline_decontaminate" -> decontaminate _,
    "pipeline_decontaminate_bloom" -> decontaminateBloom _,
    "pipeline_sample_cap" -> sampleCap _,
    "pipeline_pack_sequences" -> packSequences _,
    "pipeline_pack_sequences_bpe" -> packSequencesBpe _,
    "pipeline_mix_sources" -> mixSources _,
    "pipeline_mix_epochs" -> mixEpochs _,
    "pipeline_shard_balance" -> shardBalance _,
    "pipeline_dsir_weights" -> dsirWeights _,
    "pipeline_chunk_overlap" -> chunkOverlap _,
    "pipeline_pareto_skyline" -> paretoSkyline _,
    "pipeline_sample_stratified" -> (sampleStratified(_, _)))

  val oracles: Map[String, String] = Map(
    "text_quality_train" -> qualityTrainSql,
    "pipeline_split_leakage_safe" -> splitLeakageSafeSql,
    "pipeline_split_train_val" -> splitTrainValSql,
    "pipeline_curate" -> curateSql,
    "pipeline_curate_neardup" -> curateNearDupSql,
    "pipeline_kept_docs" -> keptDocsSql,
    "pipeline_decontaminate" -> decontaminateSql,
    "pipeline_decontaminate_bloom" -> decontaminateSql,
    "pipeline_sample_cap" -> sampleCapSql,
    "pipeline_pack_sequences" -> packSequencesSql,
    "pipeline_pack_sequences_bpe" -> packSequencesBpeSql,
    "pipeline_mix_sources" -> mixSourcesSql,
    "pipeline_mix_epochs" -> mixEpochsSql,
    "pipeline_shard_balance" -> shardBalanceSql,
    "pipeline_dsir_weights" -> dsirWeightsSql,
    "pipeline_chunk_overlap" -> chunkOverlapSql,
    "pipeline_pareto_skyline" -> paretoSkylineSql,
    "pipeline_sample_stratified" -> sampleStratifiedSql)
}
