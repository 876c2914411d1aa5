package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Loop, Tables}

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md §2
  * C9–C12): language ID, quality scoring, token counting, document
  * fingerprinting. All are single-pass projections over `documents` —
  * no shuffle, no UDFs, pure codegen-able built-ins + higher-order
  * functions, so they scale linearly with input splits at 100 TB.
  *
  * Oracle-parity discipline: every formula is expressed with the exact
  * same operation tree on the Spark and DuckDB sides (same associativity,
  * same integer→double division points), and fractional outputs are
  * rounded to 6 dp so the comparison is stable. Counting is integer and
  * exact. Hashes are md5-derived on both engines (identical by
  * definition).
  */
object Text {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  private def toks(c: Column): Column = split(c, " ")

  /** Count of tokens that appear in `words`. */
  private[operators] def wordCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(lit(_)): _*)))

  private[operators] def sqlWordCount(words: Seq[String]): String =
    s"len(list_filter(toks, x -> list_contains([${words.map("'" + _ + "'").mkString(",")}], x)))"

  // ---------------------------------------------------------------- C9
  /** Language-ID markers. The reference corpus is synthetic, so the
    * discriminative power is irrelevant — the contract is a
    * deterministic, engine-portable scoring function of the text. */
  private[operators] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** n-gram-heuristic language ID: marker-word hit counts per language,
    * argmax with a fixed priority-order tie-break. Library form: any
    * frame with `doc_id`, `lang`, `text`. */
  def langId(documents: DataFrame): DataFrame = {
    val withToks = documents.withColumn("toks", toks(col("text")))
    val scored = langMarkers.foldLeft(withToks) { case (df, (l, ws)) =>
      df.withColumn(s"s_$l", wordCount(col("toks"), ws))
    }
    val scoreCols = langMarkers.map { case (l, _) => col(s"s_$l") }
    val m = greatest(scoreCols: _*)
    val predCol = langMarkers.reverse.foldLeft(lit("und"): Column) { case (els, (l, _)) =>
      when(col(s"s_$l") === col("m"), lit(l)).otherwise(els)
    }
    scored.withColumn("m", m)
      .withColumn("pred_lang", predCol)
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("m").cast("long").as("score"))
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(docs(spark, dir))

  val langIdSql: String = {
    val scoreSelect = langMarkers
      .map { case (l, ws) => s"${sqlWordCount(ws)} AS s_$l" }.mkString(",\n  ")
    val m = s"greatest(${langMarkers.map { case (l, _) => s"s_$l" }.mkString(",")})"
    val pred = langMarkers
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, lang,
       |  $scoreSelect
       |FROM t),
       |g AS (SELECT *, $m AS m FROM s)
       |SELECT doc_id, lang, $pred AS pred_lang, CAST(m AS BIGINT) AS score FROM g""".stripMargin
  }

  // --------------------------------------------------------------- C10
  private[operators] val enStops = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Quality scoring: length/stopword/alpha ratios combined into one
    * deterministic score. Same formula tree on both engines. Library
    * form: any frame with `doc_id`, `text`. */
  def quality(documents: DataFrame): DataFrame = {
    val d = documents
      .withColumn("toks", toks(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("stop_cnt", wordCount(col("toks"), enStops).cast("long"))
      .withColumn("alpha_chars",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
    // ratios and the composite score are emitted RAW: every operand is
    // an exact integer, so the IEEE quotients/products are bit-identical
    // across engines for the same expression tree — while round(x, 6)
    // on a double is legal-to-disagree at a 6-dp boundary (the r2
    // pipeline_curate lesson; Spark BigDecimal-HALF_UP vs DuckDB scaled
    // float)
    d.select(
      col("doc_id"), col("n_chars"), col("n_words"), col("stop_cnt"),
      (col("stop_cnt") / col("n_words")).as("stop_ratio"),
      (col("alpha_chars") / col("n_chars")).as("alpha_ratio"),
      (least(col("n_words") / lit(50.0), lit(1.0)) * 0.3 +
        (col("stop_cnt") / col("n_words")) * 0.35 +
        (col("alpha_chars") / col("n_chars")) * 0.35).as("quality"))
  }

  def quality(spark: SparkSession, dir: String): DataFrame =
    quality(docs(spark, dir))

  val qualitySql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(${sqlWordCount(enStops)} AS BIGINT) AS stop_cnt,
       |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars
       |FROM t)
       |SELECT doc_id, n_chars, n_words, stop_cnt,
       |  stop_cnt / n_words AS stop_ratio,
       |  alpha_chars / n_chars AS alpha_ratio,
       |  least(n_words / 50.0, 1.0) * 0.3 +
       |        (stop_cnt / n_words) * 0.35 +
       |        (alpha_chars / n_chars) * 0.35 AS quality
       |FROM f""".stripMargin

  // --------------------------------------------------------------- C11
  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). Library form: any
    * frame with `doc_id`, `text`. */
  def tokens(documents: DataFrame): DataFrame = {
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    documents
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("re_tokens", size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("ws_tokens"), col("re_tokens"),
        // raw quotient of exact longs — bit-stable; see quality()
        (col("n_chars") / col("re_tokens")).as("chars_per_token"))
  }

  def tokens(spark: SparkSession, dir: String): DataFrame =
    tokens(docs(spark, dir))

  val tokensSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
      |  CAST(length(text) AS BIGINT) / CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS chars_per_token
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- C12
  /** Document fingerprinting: a 64-bit-hex md5 prefix plus a polynomial
    * rolling hash over character codes (base 31 mod 1e9+7) — the classic
    * Rabin-Karp-style fingerprint. The rolling hash is a native codegen
    * [[org.apache.spark.sql.graft.PolyFingerprint]] expression: the
    * equivalent declarative fold (`aggregate` over per-char `ascii`
    * codes) is interpreted per element and dominated the scan. Same left
    * fold as the oracle's `list_reduce`. Library form: any frame with
    * `doc_id`, `text`. */
  def fingerprint(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, PolyFingerprint}
    documents
      .select(
        col("doc_id"),
        substring(md5(col("text")), 1, 16).as("fp_md5"),
        Bridge.column(new PolyFingerprint(
          Bridge.expression(col("text")))).as("fp_poly"))
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(docs(spark, dir))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  substr(md5(text), 1, 16) AS fp_md5,
      |  list_reduce(
      |    list_transform(generate_series(1, length(text)), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_poly
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- C16
  /** Repetition scoring — the Gopher-style duplicate-n-gram quality
    * signal (Rae et al. 2021 §A1.1; the one standard filter the
    * C10 ratio score does not cover): over a document's word 3-grams
    * WITH multiplicity, report the duplicate-gram fraction and the
    * share of the single most frequent gram. A bot page that repeats
    * one sentence scores top_share → 1; clean prose scores → 1/n.
    * Ratios are raw IEEE quotients of exact integers (the §5 rule).
    * Docs under 3 tokens have no gram and are dropped, as in C4.
    *
    * Plan: gram explode → (doc, gram) count (map-side combined; per-doc
    * key space, skew-proof) → per-doc count/sum/max. Only (doc, gram,
    * count) rows shuffle. Library form: any frame with `doc_id`,
    * `text`. */
  def repetition(documents: DataFrame): DataFrame = {
    // r18 opt (guide §2.4 — remove shuffles outright): both aggregates
    // are keyed by doc_id alone, so the whole measure is per-document
    // — the exploded (doc_id, gram) shuffle into a two-level agg is
    // replaced by one codegen projection: sort the doc's own trigram
    // array and fold run lengths (n_distinct = run starts, top_count =
    // longest run, n_grams = the array size). Identical integers —
    // sorting groups equal strings exactly as the groupBy hashed them
    // — and the plan drops from two Exchanges to ZERO.
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("grams", expr(
        "array_sort(transform(sequence(1, size(toks) - 2)," +
          " i -> concat_ws(' ', slice(toks, i, 3))))"))
      .withColumn("st", expr(
        """aggregate(grams,
          |  struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
          |         CAST(0 AS BIGINT) AS maxrun, CAST(0 AS BIGINT) AS nd),
          |  (acc, g) -> IF(acc.prev IS NOT NULL AND g = acc.prev,
          |    struct(g AS prev, acc.run + 1L AS run,
          |           GREATEST(acc.maxrun, acc.run + 1L) AS maxrun,
          |           acc.nd AS nd),
          |    struct(g AS prev, 1L AS run,
          |           GREATEST(acc.maxrun, 1L) AS maxrun,
          |           acc.nd + 1L AS nd)))""".stripMargin))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        col("st.nd").as("n_distinct"),
        col("st.maxrun").as("top_count"),
        ((size(col("grams")).cast("long") - col("st.nd")) /
          size(col("grams")).cast("long")).as("dup_fraction"),
        (col("st.maxrun") / size(col("grams")).cast("long")).as("top_share"))
  }

  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(docs(spark, dir))

  val repetitionSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |  WHERE len(toks) >= 3),
      |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_grams,
      |  count(*) AS n_distinct,
      |  CAST(max(c) AS BIGINT) AS top_count,
      |  (CAST(sum(c) AS BIGINT) - count(*)) / CAST(sum(c) AS BIGINT) AS dup_fraction,
      |  CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS top_share
      |FROM c GROUP BY doc_id""".stripMargin

  /** C19 (r8): lexical-diversity signal — type-token ratio and the
    * Simpson collision probability (Σpᵢ², the chance two random tokens
    * coincide; 1/Σpᵢ² is the effective vocabulary size) over unigram
    * counts. The standard diversity complement to [[repetition]]'s
    * duplicate-n-gram signals: boilerplate and template spam crater TTR
    * and spike Simpson long before exact dedup fires. Every emitted
    * ratio is a raw IEEE quotient of EXACT integer operands (no
    * transcendentals — a true entropy needs ln, whose last-ulp
    * behavior is not cross-engine stable, while Σcᵢ² is), so the
    * oracle hash-matches bit-for-bit.
    *
    * Plan: token explode → (doc, token) count (map-side combined,
    * per-doc key space → skew-proof) → per-doc sums. Only (doc, token,
    * count) rows shuffle. Library form: any frame with `doc_id`,
    * `text`. */
  def diversity(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("sum_c2"),
        (col("n_distinct") / col("n_tokens")).as("ttr"),
        (col("sum_c2") / (col("n_tokens") * col("n_tokens"))).as("simpson"))

  def diversity(spark: SparkSession, dir: String): DataFrame =
    diversity(docs(spark, dir))

  val diversitySql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(*) AS n_distinct,
      |  CAST(sum(c*c) AS BIGINT) AS sum_c2,
      |  count(*) / CAST(sum(c) AS BIGINT) AS ttr,
      |  CAST(sum(c*c) AS BIGINT) / (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS simpson
      |FROM c GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- C21
  /** Corpus-relative rarity scoring: each document scored against the
    * GLOBAL unigram frequency table — the quality signal TTR/repetition
    * cannot give (a doc can be locally diverse yet made of tokens the
    * corpus has never seen: OCR noise, gibberish, wrong-language
    * residue all spike rarity; boilerplate craters it). Per doc:
    * occurrence-weighted corpus-frequency sum, its mean, the minimum
    * (the rarest token present), and the hapax count (corpus-frequency
    * exactly 1 — zero on the synthetic corpus, whose ~40-token
    * vocabulary saturates; asserted non-vacuously on literal data in
    * TextSpec).
    *
    * Plan (two-pass, the canonical corpus-statistic shape): pass 1
    * aggregates (token, count) — output is VOCABULARY-sized, which is
    * bounded (≈ millions of rows at 100 TB, megabytes after the
    * count), so AQE turns the pass-2 join on `tok` into a broadcast
    * join at scale; the doc-token explode streams map-side. Emitted
    * ratios are raw IEEE quotients of exact integer operands —
    * bit-stable cross-engine. Library form: any frame with `doc_id`,
    * `text`. */
  def rarity(documents: DataFrame): DataFrame = {
    val tokens = documents
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val freq = tokens.groupBy(col("tok")).agg(count(lit(1)).as("ctok"))
    tokens.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("ctok") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("ctok")).as("sum_tf"),
        min(col("ctok")).as("min_tf"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_hapax"), col("sum_tf"),
        col("min_tf"),
        (col("n_hapax") / col("n_tokens")).as("hapax_ratio"),
        (col("sum_tf") / col("n_tokens")).as("mean_tf"))
  }

  def rarity(spark: SparkSession, dir: String): DataFrame =
    rarity(docs(spark, dir))

  val raritySql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |f AS (SELECT tok, count(*) AS ctok FROM t GROUP BY 1)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN ctok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(sum(ctok) AS BIGINT) AS sum_tf,
      |  min(ctok) AS min_tf,
      |  CAST(sum(CASE WHEN ctok = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS hapax_ratio,
      |  CAST(sum(ctok) AS BIGINT) / count(*) AS mean_tf
      |FROM t JOIN f USING (tok) GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- C22
  /** PII scan + redaction over a string column: per-pattern match
    * counts plus the text with every match masked — the pre-training
    * compliance pass (emails, phone numbers, numeric IDs) run before a
    * corpus ships. Pure per-row regex projection: no shuffle, no UDF,
    * codegen'd `RLike`-family expressions, embarrassingly parallel at
    * 100 TB.
    *
    * Patterns are kept to the syntax subset where Java regex (Spark)
    * and RE2 (DuckDB) agree — character classes, bounded repetition,
    * alternation; no backrefs/lookarounds (RE2 has neither). The
    * registered entry scans `events.props` (the corpus's only
    * digit-bearing free-text column — a JSON-ish log payload, exactly
    * where stray PII lands in practice) for multi-digit runs; the
    * email/phone patterns are asserted on literal PII in TextSpec
    * because the synthetic corpus contains none (a match count that is
    * provably 0 on the test tables would be a vacuous oracle). */
  def piiScan(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String)]): DataFrame = {
    // masking is sequential (most-specific pattern first) and each
    // pattern is COUNTED on the text after its predecessors masked —
    // an email's digits must not double-count as a numeric ID
    val stages = patterns.scanLeft(col(textCol)) { case (c, (name, re)) =>
      regexp_replace(c, re, s"<${name.toUpperCase}>")
    }
    val counts = patterns.zip(stages.init).map { case ((name, re), prev) =>
      size(regexp_extract_all(prev, lit(re), lit(0)))
        .cast("long").as(s"n_$name")
    }
    df.select(col(idCol) +: counts :+ stages.last.as("redacted"): _*)
  }

  /** Patterns for the library form: email, phone-shaped digit groups,
    * bare multi-digit runs (applied in that order — masking is
    * sequential, so the most specific pattern must run first). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "[0-9]{2,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?",
    "num" -> "[0-9]{2,}")

  def pii(spark: SparkSession, dir: String): DataFrame =
    piiScan(Tables(spark, dir, "events"), "event_id", "props",
      Seq("num" -> "[0-9]{2,}"))

  val piiSql: String =
    """SELECT event_id,
      |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_num,
      |  regexp_replace(props, '[0-9]{2,}', '<NUM>', 'g') AS redacted
      |FROM events""".stripMargin

  // --------------------------------------------------------------- C25
  /** Bigram language-model predictability — the CCNet-style LM quality
    * signal (Wenzek et al. 2020 score filtered-web text with an LM;
    * here the LM is the corpus's own bigram model, so the pass needs no
    * external artifact): per document, the conditional bigram
    * probabilities p(w2|w1) = c(w1,w2)/c(w1·) under the GLOBAL bigram
    * table, summed per doc. Predictable/templated text scores high,
    * incoherent or wrong-corpus text scores low — the sequential
    * complement to [[rarity]]'s order-blind token frequencies (a doc of
    * common tokens in impossible order fools rarity, not this).
    *
    * Cross-engine parity: a true perplexity needs ln (last-ulp unstable
    * across engines — the C19 lesson), so the score stays in
    * probability space: each p is a raw IEEE quotient of exact longs,
    * and the per-doc sum is an ORDERED fold over bigram position
    * (`aggregate(sort_array(...), 0.0, _+_)` ≡ DuckDB
    * `list_reduce(list(p ORDER BY pos), _+_)`; 0.0-seed ≡ first-element
    * seed because 0.0 + x = x) — a plain sum() would be
    * partial-aggregation-order nondeterministic (§8). `novel_bigrams`
    * counts corpus-hapax bigrams (this doc's unique phrasing mass).
    *
    * Plan (two-pass corpus statistic, the C21 shape): positional bigram
    * explode → two VOCABULARY-bounded aggregates (bigram counts, prefix
    * counts) → joined back on bigram/prefix keys (AQE broadcasts both
    * at scale — aggregate outputs are corpus-sublinear) → per-doc fold.
    * Docs under 2 tokens have no bigram and are dropped (the C4/C16
    * convention). Library form: any frame with `doc_id`, `text`.
    *
    * `orderedFold` (r12): the position-ordered fold exists ONLY for
    * cross-engine hash parity — it materializes a per-doc
    * `collect_list(struct(pos, p))` (bounded by doc length, but real
    * memory at 100 TB). Production consumers that don't need
    * bit-reproducible doubles pass `orderedFold = false` and get a
    * plain partial-aggregated `sum(p)` — same numbers up to
    * double-addition reorder (TextSpec pins agreement to 1e-9
    * relative), no per-doc list, fully map-side-combinable. The entry
    * keeps the ordered fold because the driver gate hashes doubles. */
  def bigramLm(documents: DataFrame, orderedFold: Boolean = true): DataFrame = {
    val bigrams = documents
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(i AS pos, element_at(toks, i) AS w1,
          |              element_at(toks, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cbig = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cbig"))
    val cpre = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("cpre"))
    val sumP =
      if (orderedFold)
        expr("""aggregate(sort_array(collect_list(struct(pos, p))),
               |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.p)""".stripMargin)
      else sum(col("p"))
    bigrams.join(cbig, Seq("w1", "w2")).join(cpre, Seq("w1"))
      .withColumn("p", col("cbig") / col("cpre"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cbig") === 1, 1L).otherwise(0L)).as("novel_bigrams"),
        min(col("cbig")).as("min_cbig"),
        sumP.as("sum_p"))
      .select(
        col("doc_id"), col("n_bigrams"), col("novel_bigrams"),
        col("min_cbig"), col("sum_p"),
        (col("sum_p") / col("n_bigrams")).as("mean_p"))
  }

  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLm(docs(spark, dir))

  val bigramLmSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
      |      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      |      WHERE len(toks) >= 2),
      |cb AS (SELECT w1, w2, count(*) AS cbig FROM e GROUP BY 1, 2),
      |cp AS (SELECT w1, count(*) AS cpre FROM e GROUP BY 1),
      |j AS (SELECT e.doc_id, e.pos, cb.cbig,
      |        CAST(cb.cbig AS BIGINT) / CAST(cp.cpre AS BIGINT) AS p
      |      FROM e JOIN cb USING (w1, w2) JOIN cp USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN cbig = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_bigrams,
      |  CAST(min(cbig) AS BIGINT) AS min_cbig,
      |  list_reduce(list(p ORDER BY pos), (acc, x) -> acc + x) AS sum_p,
      |  list_reduce(list(p ORDER BY pos), (acc, x) -> acc + x) / count(*) AS mean_p
      |FROM j GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------------- C11b
  /** Deterministic BPE token counting (r12 verdict #6): per-document
    * token counts in REAL subword tokens under the fixed public merge
    * table [[org.apache.spark.sql.graft.BpeLen.Merges]] — the unit a
    * training-data budget is set in — next to the whitespace word
    * count. Integer-exact end-to-end.
    *
    * Shape: explode to words, pre-aggregate to per-(doc, word) counts
    * (map-side combinable — the explosion never crosses the wire raw),
    * evaluate the codegen'd [[org.apache.spark.sql.graft.BpeLen]] once
    * per DISTINCT (doc, word), weight by count. At 100 TB with a
    * reuse-heavy corpus the same plan admits a global-dictionary
    * refinement (distinct words → BpeLen → broadcast join back) — the
    * per-(doc, word) form is already vocabulary-bounded per document
    * and one scan, so it is the default.
    *
    * The oracle's recursive CTE applies the SAME merge table
    * sequentially by rank over a chr(31)-separated token string
    * (replace() merges leftmost-first, exactly the Scala fold's
    * order — see BpeLen's equivalence note), on the DISTINCT
    * vocabulary, then joins counts back. */
  def tokensBpe(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, BpeLen}
    val words = documents
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[ \t\n\r]+")).as("w"))
      .filter(col("w") =!= "")
    words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("toks",
        Bridge.column(BpeLen(Bridge.expression(col("w")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("toks")).cast("long").as("n_bpe"))
  }
  def tokensBpe(spark: SparkSession, dir: String): DataFrame =
    tokensBpe(docs(spark, dir))

  /** The merge table compiled into SQL: one VALUES row per rank, with
    * pat/rep in the chr(31)-separated encoding. Shared with
    * [[Pipeline.packSequencesBpe]]'s oracle. */
  private[operators] def mergesValuesSql: String =
    org.apache.spark.sql.graft.BpeLen.Merges.zipWithIndex.map {
      case ((a, b), i) =>
        def q(s: String) = "'" + s + "'" // merge tokens are [a-z] only
        s"(${i + 1}, chr(31)||${q(a)}||chr(31)||${q(b)}||chr(31), " +
          s"chr(31)||${q(a + b)}||chr(31))"
    }.mkString(", ")

  private[operators] val mergeCount =
    org.apache.spark.sql.graft.BpeLen.Merges.size

  val tokensBpeSql: String =
    s"""WITH RECURSIVE
       |w0 AS (SELECT doc_id,
       |         unnest(string_split_regex(lower(text), '[ \\t\\n\\r]+')) AS w
       |       FROM documents),
       |wc AS (SELECT doc_id, w, count(*) AS cnt
       |       FROM w0 WHERE w <> '' GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT w FROM wc),
       |merges(rank, pat, rep) AS (VALUES $mergesValuesSql),
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
       |  FROM b WHERE r = ${mergeCount + 1}
       |  UNION ALL
       |  SELECT w, length(w) AS toks FROM vocab WHERE contains(w, chr(31)))
       |SELECT wc.doc_id,
       |  CAST(sum(wc.cnt) AS BIGINT) AS n_words,
       |  CAST(sum(wc.cnt * lenv.toks) AS BIGINT) AS n_bpe
       |FROM wc JOIN lenv ON wc.w = lenv.w
       |GROUP BY wc.doc_id""".stripMargin

  // --------------------------------------------------------------- C32
  /** Hashed-feature buckets of the linear model (fastText's default is
    * 2M bucket slots; 4096 keeps the stand-in oracle readable — the
    * plumbing is bucket-count-agnostic). */
  private[operators] val ModelBuckets = 4096L
  /** Deterministic stand-in weight per bucket: Knuth multiplicative
    * hash of the bucket id folded into [−1000, 1000]. */
  private val WeightMul = 2654435761L
  private val WeightMod = 2001L

  /** The hashed words + word bigrams of `text`, one bucket id each
    * ([[org.apache.spark.sql.graft.HashedFeatures]]): the feature space
    * of [[qualityModel]], [[Pipeline.dsirWeights]] and
    * [[Pipeline.qualityTrain]]. */
  private[operators] def hashedFeatures(text: Column, buckets: Long): Column = {
    import org.apache.spark.sql.graft.{Bridge, HashedFeatures}
    Bridge.column(HashedFeatures(Bridge.expression(text), buckets))
  }

  /** `buckets` folded over a per-bucket table
    * ([[org.apache.spark.sql.graft.BucketFold]]). */
  private[operators] def bucketFold(buckets: Column,
      table: org.apache.spark.sql.graft.BucketFold.Table): Column = {
    import org.apache.spark.sql.graft.{Bridge, BucketFold}
    Bridge.column(BucketFold(Bridge.expression(buckets), table))
  }

  /** Model-based quality scoring — the fastText-architecture linear
    * classifier (Joulin et al. 2016) that CCNet-style pipelines run as
    * the learned complement to [[quality]]'s heuristics: features are
    * the document's words plus word bigrams, each hashed into one of
    * [[ModelBuckets]] buckets ([[hashedFeatures]]), and the document
    * score is the integer sum of the per-bucket weights; keep ⇔
    * score > 0. The weights here are a deterministic stand-in
    * (`(bucket·[[WeightMul]]) mod [[WeightMod]] − 1000` — the
    * Multimodal fake-decode contract: the plumbing is the operator, a
    * trained model substitutes its weight vector as the table of the
    * same [[bucketFold]]). All arithmetic is exact integer (hash ≤ 2⁶⁰,
    * bucket·mul < 2⁴⁴; the fold's additions raise on overflow, never
    * wrap), so the oracle replays scores bit-for-bit.
    *
    * Scale shape: pure per-row fold (no explode, no gram shuffle — the
    * features never leave their row), then one map-side-combined
    * groupBy on source. Linear in corpus bytes, zero corpus shuffles. */
  def qualityModel(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.BucketFold
    val weights = BucketFold.Sum(Array.tabulate(ModelBuckets.toInt)(b =>
      (b * WeightMul) % WeightMod - 1000))
    val t = documents.withColumn("score",
      bucketFold(hashedFeatures(col("text"), ModelBuckets), weights))
    t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).cast("long").as("n_keep"),
        sum(col("score")).cast("long").as("sum_score"))
      .orderBy(col("source"))
  }

  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityModel(docs(spark, dir))

  val qualityModelSql: String =
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |f AS (SELECT source,
       |    list_concat(toks, list_transform(
       |      generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS feats
       |  FROM t),
       |sc AS (SELECT source,
       |    CAST(list_sum(list_transform(feats, g ->
       |      ((('0x' || substr(md5(g), 1, 15))::BIGINT % $ModelBuckets)
       |        * $WeightMul) % $WeightMod - 1000)) AS BIGINT) AS score
       |  FROM f)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(score) AS BIGINT) AS sum_score
       |FROM sc GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C37
  /** Number of merge ranks [[bpeLearn]] learns (a real tokenizer run
    * learns ~32k; 8 keeps the unrolled oracle readable — the plumbing
    * is rank-count-agnostic). */
  private[operators] val BpeLearnRanks = 8
  /** The segmentation delimiter — chr(31), the C11b convention. */
  private val BD = "\u001f"

  /** Corpus token count of a (cnt, s) vocabulary frame — the learners'
    * per-merge witness: each word's symbol count (delimiters − 1)
    * weighted by its frequency. */
  private val bpeTokenCount: Column = sum(col("cnt") *
    (length(col("s")) - length(replace(col("s"), lit(BD), lit(""))) - 1))
    .cast("long").as("toks")

  /** Distributed BPE merge-table LEARNING (C37) — the tokenizer
    *-training step itself (Sennrich et al. 2016), completing the BPE
    * story: C11b ([[tokensBpe]]) counts tokens under a FIXED merge
    * table; this operator learns one from the corpus. Classic
    * word-level BPE: words (lowercased, pure `[a-z]+` — production
    * lifts to byte-level, which needs no such filter) are reduced to
    * the vocabulary-with-frequency frame ONCE, each word starts as its
    * character sequence, and each of [[BpeLearnRanks]] rounds (1)
    * counts adjacent symbol pairs weighted by word frequency, (2)
    * picks the most frequent pair — ties broken (count DESC, left ASC,
    * right ASC), deterministic — and (3) merges it throughout the
    * vocabulary. Output: one row per learned rank — the merge pair,
    * its count at selection time, and the corpus token count after
    * applying merges 1..rank (weighted by word frequency), which pins
    * the full segmentation, not just the argmax.
    *
    * Cross-engine exactness: the segmentation lives in the C11b
    * chr(31)-delimited string encoding, and a merge round applies
    * `replace(pat, rep)` THREE nested times in BOTH engines (Spark
    * `StringReplace` and DuckDB `replace` are the same
    * leftmost-non-overlapping source-scan). One replace can miss an
    * occurrence whose leading delimiter the previous match consumed,
    * but missed occurrences are never consecutive (a miss requires its
    * predecessor to have MATCHED), so pass 2 — whose replacements
    * restore the delimiter — reaches the fixed point for left≠right
    * pairs, and pass 3 is margin; for left==right pairs the
    * replace-fixpoint is itself the defined (deterministic, shared)
    * semantics. The spec asserts the fixpoint is reached on the corpus
    * and on an adversarial same-symbol-run fixture.
    *
    * Scale shape: after the one corpus-linear word count, EVERYTHING
    * is vocabulary-bounded (Heaps' law at 100 TB): each round is one
    * map-side-combined pair aggregation over the cached vocabulary
    * frame plus two bounded collects (the 1-row argmax and the 1-row
    * token total). The driver holds K rows. A production 32k-rank run
    * amortizes rounds by taking the top-N pairwise-non-interacting
    * pairs per round — noted, not needed at K=8. */
  def bpeLearn(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val wc = documents
      .select(explode(split(lower(col("text")), "[ \t\n\r]+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(lit(BD),
        regexp_replace(col("w"), "(.)", "$1" + BD)))
      .select(col("cnt"), col("s"))
      .persist()
    try {
      var cur = wc
      val out = Seq.newBuilder[(Long, String, String, Long, Long)]
      for (k <- 1 to BpeLearnRanks) {
        val best = cur
          .withColumn("parts", filter(split(col("s"), BD),
            x => length(x) > 0))
          .select(col("cnt"), explode(zip_with(
            slice(col("parts"), lit(1), size(col("parts")) - 1),
            slice(col("parts"), lit(2), size(col("parts")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("lft"), col("p.r").as("rgt"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("lft"), col("rgt"))
          .limit(1).collect() // bounded: the 1-row argmax
        val (a, b, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        val pat = lit(BD + a + BD + b + BD)
        val rep = lit(BD + a + b + BD)
        cur = cur.withColumn("s",
          replace(replace(replace(col("s"), pat, rep), pat, rep), pat, rep))
        val toks = cur.agg(bpeTokenCount)
          .collect()(0).getLong(0) // bounded: 1 row
        out += ((k.toLong, a, b, c, toks))
      }
      out.result().toDF("rank", "lft", "rgt", "pair_cnt", "corpus_tokens")
    } finally wc.unpersist(false)
  }

  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    bpeLearn(docs(spark, dir))

  val bpeLearnSql: String = {
    val stages = (1 to BpeLearnRanks).map { k =>
      val prev = s"s${k - 1}"
      s"""p$k AS (SELECT parts[i] AS lft, parts[i+1] AS rgt,
         |    CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, list_filter(string_split(s, chr(31)),
         |          x -> x <> '') AS parts FROM $prev) t,
         |    unnest(generate_series(1, len(parts) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT lft, rgt, c FROM p$k
         |  ORDER BY c DESC, lft, rgt LIMIT 1),
         |m$k AS (SELECT chr(31)||lft||chr(31)||rgt||chr(31) AS pat,
         |    chr(31)||lft||rgt||chr(31) AS rep FROM b$k),
         |s$k AS MATERIALIZED (SELECT cnt,
         |    replace(replace(replace(s, m.pat, m.rep), m.pat, m.rep),
         |            m.pat, m.rep) AS s
         |  FROM $prev, m$k m),
         |t$k AS (SELECT CAST(sum(cnt * (length(s)
         |    - length(replace(s, chr(31), '')) - 1)) AS BIGINT) AS ct
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to BpeLearnRanks).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rank, lft, rgt, c AS pair_cnt,
         |  (SELECT ct FROM t$k) AS corpus_tokens FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (SELECT
       |    unnest(string_split_regex(lower(text), '[ \\t\\n\\r]+')) AS w
       |  FROM documents),
       |wc AS (SELECT w, count(*) AS cnt FROM w0
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT cnt,
       |    chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g') AS s
       |  FROM wc),
       |$stages
       |$unions
       |ORDER BY rank""".stripMargin
  }

  // -------------------------------------------------------------- C37b
  /** Batched-BPE knobs: rounds, candidate pool per round, and the cap
    * on merges applied per round. */
  private[operators] val BpeBatchRounds = 16
  private[operators] val BpeBatchTopC = 256
  private[operators] val BpeBatchCap = 64

  /** Greedy conflict-free batch selection over a ranked candidate
    * list (count DESC, lft, rgt): a pair is accepted iff NONE of
    * {lft, rgt, lft+rgt} was claimed by an already-accepted pair
    * (which claims the same three strings) and the cap is not
    * reached. Symbol-disjointness alone is NOT order-invariant: with
    * ('a','b') and ('ab','x') both accepted, applying ('a','b') first
    * creates new ('ab','x') instances — the merged symbol must be
    * claimed too, in BOTH directions (a later pair may neither use an
    * earlier pair's concatenation as a symbol nor produce an earlier
    * pair's symbol as its concatenation). With the concatenation
    * claimed, no accepted pair's application can create or consume
    * another's pattern, so simultaneous application is unambiguous
    * and order-free (the ScalaCheck law quantifies this). Shared by
    * the operator and its specs; the oracle's recursive CTE replays
    * the identical fold. */
  private[graft] def bpeGreedySelect(
      cand: Seq[(String, String, Long)], cap: Int)
      : Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    cand.foreach { case (l, r, c) =>
      if (out.size < cap && !used(l) && !used(r) && !used(l + r)) {
        out += ((l, r, c)); used += l; used += r; used += (l + r)
      }
    }
    out.toSeq
  }

  /** BATCHED BPE merge-table learning (C37b) — [[bpeLearn]] scaled
    * past toy merge counts: the SentencePiece-style trick of applying
    * MANY compatible merges per round, so driver round-trips grow with
    * merge DEPTH (conflict-graph layers), not merge COUNT. C37 is one
    * argmax collect per merge — correct, but a production 32k-merge
    * table would be 32k Spark jobs; C37b learns up to
    * [[BpeBatchCap]]·[[BpeBatchRounds]] merges in [[BpeBatchRounds]]
    * rounds. The word filter is `[a-z0-9]+` where C37's is `[a-z]+`
    * (identical vocabularies on the native SFs — the corpus has
    * exactly 31 pure-letter words — but the digit-suffixed token
    * copies of the SCALED corpora stay learnable): measured, the
    * batched learner reaches 262 merges by round 15 at sf1, and at
    * sf0.01 it EXHAUSTS the 31-word corpus's entire merge table (89
    * merges, candidate pool empty) by round 12 — the depth-vs-count
    * claim by exhaustion, where C37's one-per-round form would need 89
    * driver rounds. Empty late rounds emit nothing and cost one
    * vocabulary pass each.
    *
    * A round: (1) pair counts over the vocabulary frame (C37's
    * aggregation), (2) the top-[[BpeBatchTopC]] candidates by
    * (count DESC, lft, rgt) — a BOUNDED collect, like C37's argmax but
    * C rows — (3) GREEDY conflict-free selection
    * ([[bpeGreedySelect]]): accepted pairs are pairwise disjoint on
    * symbols AND concatenations, which is what makes the batch sound —
    * no symbol appears in two applied merges and no merge's output
    * symbol is another's input, so their replace-fixpoints cannot
    * interact (an applied merge neither consumes another's symbols nor
    * creates an instance of a disjoint pattern; the boundary delimiter
    * a replacement consumes is restored by its own rep) and
    * application is ORDER-INVARIANT (spec + ScalaCheck law), (4) all
    * accepted merges applied in one vocabulary pass (each with C37's
    * replace×3 fixpoint semantics), (5) one token-count collect. The
    * greedy selection is deterministic over a totally-ordered bounded
    * list, and the ORACLE replays it exactly with one recursive CTE
    * per round folding (used-symbols, selected-ranks) over the ranked
    * candidates — the selection is the one inherently sequential step,
    * and it is candidate-pool-sized, never corpus-sized.
    *
    * Output: one row per learned merge — (round, global rank in
    * application order, pair, count at selection, corpus token count
    * after the round). Scale shape: corpus-linear word count ONCE,
    * then per round one vocabulary-bounded aggregation + two bounded
    * collects; the vocabulary frame is LOCALCHECKPOINTED each round so
    * pass k's PLAN holds only its own ≤cap merges — caching the data
    * alone (persist) leaves the quadratic-growing logical plan for AQE
    * to re-stringify on every job (the C52/§8 lineage discipline,
    * measured as minutes of driver CPU inside explainString). */
  def bpeLearnBatched(documents: DataFrame): DataFrame =
    bpeLearnBatchedWith(documents, BpeBatchRounds, BpeBatchTopC, BpeBatchCap)

  /** [[bpeLearnBatched]] with the knobs as parameters — the gate entry
    * pins the constants (the oracle unrolls exactly that many rounds);
    * at production merge budgets the rounds track conflict-graph depth,
    * not merge count (bench_points_r16/bpeb_depth_sf1*.json). */
  private[graft] def bpeLearnBatchedWith(documents: DataFrame,
      rounds: Int, topC: Int, cap: Int): DataFrame = {
    import documents.sparkSession.implicits._
    val wc = documents
      .select(explode(split(lower(col("text")), "[ \t\n\r]+")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(lit(BD),
        regexp_replace(col("w"), "(.)", "$1" + BD)))
      .select(col("cnt"), col("s"))
      .persist()
    var cur = wc
    try {
      val out = Seq.newBuilder[(Long, Long, String, String, Long, Long)]
      var rank = 0L
      for (k <- 1 to rounds) {
        val cand = cur
          .withColumn("parts", filter(split(col("s"), BD),
            x => length(x) > 0))
          .select(col("cnt"), explode(zip_with(
            slice(col("parts"), lit(1), size(col("parts")) - 1),
            slice(col("parts"), lit(2), size(col("parts")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("lft"), col("p.r").as("rgt"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("lft"), col("rgt"))
          .limit(topC)
          .collect() // bounded: the candidate pool, ≤ topC rows
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        val accepted = bpeGreedySelect(cand, cap)
        var sc = col("s")
        accepted.foreach { case (l, r, _) =>
          val pat = lit(BD + l + BD + r + BD)
          val rep = lit(BD + l + r + BD)
          sc = replace(replace(replace(sc, pat, rep), pat, rep), pat, rep)
        }
        // localCheckpoint, not persist: persist caches DATA but keeps
        // the chained LOGICAL plan, and with ~60 replace nodes added
        // per round AQE re-stringifies the quadratic-growing plan on
        // every job — measured minutes of driver CPU inside
        // explainString by round ~12 at sf1. The checkpoint truncates
        // the plan to an RDD scan, so round k's plan holds only ITS
        // merges (§8).
        // r18 opt: the per-round token count RIDES the checkpoint
        // action (graft.Loop) — one driver job per round instead of
        // checkpoint + a separate 1-row scan.
        val (next, m) = Loop.observed(cur.select(col("cnt"), sc.as("s")),
          bpeTokenCount)(_.localCheckpoint(true))(identity)
        val toks = m.getLong(0)
        if (cur ne wc) cur.unpersist(false)
        cur = next
        accepted.foreach { case (l, r, c) =>
          rank += 1
          out += ((k.toLong, rank, l, r, c, toks))
        }
      }
      out.result()
        .toDF("round", "rank", "lft", "rgt", "pair_cnt", "corpus_tokens")
        .orderBy(col("rank"))
    } finally {
      wc.unpersist(false)
      if (cur ne wc) cur.unpersist(false)
    }
  }

  def bpeLearnBatched(spark: SparkSession, dir: String): DataFrame =
    bpeLearnBatched(docs(spark, dir))

  /** The oracle's one sequential step — greedy selection — is a
    * recursive CTE per round folding (used symbols, selected ranks)
    * over the ≤[[BpeBatchTopC]]-row candidate list; merge application
    * is a seed-prepended list_reduce of the selected (pat, rep)
    * strings, replace×3 each, in rank order. */
  /** The learning CTE chain (word count → 16 unrolled rounds → the
    * selected merges `allsel` + per-round token counts `tokr`), shared
    * verbatim between the C37b gate oracle and the C11c learned-apply
    * oracle so both engines provably learn the SAME table. */
  private val bpeBatchedCtes: String = {
    val rep3 = "replace(replace(replace(acc, split_part(mm, chr(1), 1)," +
      " split_part(mm, chr(1), 2)), split_part(mm, chr(1), 1)," +
      " split_part(mm, chr(1), 2)), split_part(mm, chr(1), 1)," +
      " split_part(mm, chr(1), 2))"
    val stages = (1 to BpeBatchRounds).map { k =>
      val prev = s"s${k - 1}"
      val ok = s"(NOT list_contains(g.used, r.lft))" +
        s" AND (NOT list_contains(g.used, r.rgt))" +
        s" AND (NOT list_contains(g.used, r.lft || r.rgt))" +
        s" AND len(g.sel) < $BpeBatchCap"
      s"""p$k AS (SELECT parts[i] AS lft, parts[i+1] AS rgt,
         |    CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, list_filter(string_split(s, chr(31)),
         |          x -> x <> '') AS parts FROM $prev) t,
         |    unnest(generate_series(1, len(parts) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |r$k AS MATERIALIZED (SELECT lft, rgt, c,
         |    CAST(row_number() OVER (ORDER BY c DESC, lft, rgt)
         |      AS BIGINT) AS rnk
         |  FROM (SELECT * FROM p$k ORDER BY c DESC, lft, rgt
         |        LIMIT $BpeBatchTopC) q),
         |g$k AS (
         |  SELECT 0 AS i, CAST([] AS VARCHAR[]) AS used,
         |    CAST([] AS BIGINT[]) AS sel
         |  UNION ALL
         |  SELECT g.i + 1,
         |    CASE WHEN $ok
         |      THEN list_concat(g.used, [r.lft, r.rgt, r.lft || r.rgt])
         |      ELSE g.used END,
         |    CASE WHEN $ok
         |      THEN list_append(g.sel, r.rnk) ELSE g.sel END
         |  FROM g$k g JOIN r$k r ON r.rnk = g.i + 1),
         |sel$k AS MATERIALIZED (SELECT r.rnk, r.lft, r.rgt, r.c
         |  FROM r$k r JOIN (SELECT unnest(sel) AS rnk FROM g$k
         |    WHERE i = (SELECT count(*) FROM r$k)) u USING (rnk)),
         |m$k AS (SELECT coalesce(list(
         |    chr(31)||lft||chr(31)||rgt||chr(31) || chr(1) ||
         |    chr(31)||lft||rgt||chr(31) ORDER BY rnk),
         |    CAST([] AS VARCHAR[])) AS ms FROM sel$k),
         |s$k AS MATERIALIZED (SELECT cnt,
         |    list_reduce(list_concat([$prev.s], m.ms),
         |      (acc, mm) -> $rep3) AS s
         |  FROM $prev CROSS JOIN m$k m),
         |t$k AS (SELECT CAST(sum(cnt * (length(s)
         |    - length(replace(s, chr(31), '')) - 1)) AS BIGINT) AS ct
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to BpeBatchRounds).map { k =>
      s"SELECT $k AS round, rnk, lft, rgt, c FROM sel$k"
    }.mkString("\nUNION ALL\n")
    val toks = (1 to BpeBatchRounds).map { k =>
      s"SELECT $k AS round, (SELECT ct FROM t$k) AS ct"
    }.mkString(" UNION ALL ")
    s"""w0 AS (SELECT
       |    unnest(string_split_regex(lower(text), '[ \\t\\n\\r]+')) AS w
       |  FROM documents),
       |wcb AS (SELECT w, count(*) AS cnt FROM w0
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT cnt,
       |    chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g') AS s
       |  FROM wcb),
       |$stages,
       |allsel AS ($unions),
       |tokr AS ($toks)""".stripMargin
  }

  val bpeLearnBatchedSql: String =
    s"""WITH RECURSIVE $bpeBatchedCtes
       |SELECT CAST(a.round AS BIGINT) AS round,
       |  row_number() OVER (ORDER BY a.round, a.rnk) AS rank,
       |  a.lft, a.rgt, a.c AS pair_cnt, tokr.ct AS corpus_tokens
       |FROM allsel a JOIN tokr ON a.round = tokr.round
       |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------- C11c
  /** Tokenize with the LEARNED merge table (C11c) — closing the
    * tokenizer loop the C37b↔C11b pair leaves open: C37b LEARNS a
    * merge table from the corpus but C11b still counts tokens under
    * the fixed 48-rank public table. This entry runs the full C37b
    * learner, collects its merge table (bounded:
    * ≤ [[BpeBatchRounds]]·[[BpeBatchCap]] rows, in application order),
    * and tokenizes the corpus under THAT table via the codegen
    * [[org.apache.spark.sql.graft.BpeApplyLen]] — train → tokenize,
    * the unit a budget is actually set in once the tokenizer is the
    * pipeline's own.
    *
    * Apply semantics are the LEARNER's replace-×3-per-rank trace (not
    * C11b's single-pass scan): a learned table may contain left==right
    * pairs and stacked derived tokens, and matching the learner's
    * exact trace is what makes the apply CLOSE over the training
    * corpus — TextSpec pins that applying the table to the learner's
    * vocabulary reproduces the learner's final corpus token count, and
    * the oracle LEARNS the same table in SQL ([[bpeBatchedCtes]]
    * verbatim) before applying it with the same ×3 recursive CTE.
    *
    * Scale shape: the learner's (corpus-linear once, then
    * vocabulary-bounded rounds), plus C11b's tokenize pass — explode,
    * per-(doc, word) combine, one codegen evaluation per distinct
    * (doc, word). */
  def tokensBpeLearned(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, BpeApplyLen}
    val learned = bpeLearnBatched(documents)
      .select(col("lft"), col("rgt")).collect() // bounded: ≤ rounds·cap
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val words = documents
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[ \t\n\r]+")).as("w"))
      .filter(col("w") =!= "")
    words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("toks",
        Bridge.column(BpeApplyLen(Bridge.expression(col("w")), learned))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("toks")).cast("long").as("n_bpe"))
  }

  def tokensBpeLearned(spark: SparkSession, dir: String): DataFrame =
    tokensBpeLearned(docs(spark, dir))

  /** Oracle: learn the table with [[bpeBatchedCtes]] (the C37b chain
    * verbatim), flatten it to global application order, then apply it
    * to the tokenize vocabulary with one recursive CTE stepping one
    * rank per iteration — replace ×3 each, the learner's semantics.
    * Words containing the delimiter fall back to code-point count
    * (the C11b convention). */
  val tokensBpeLearnedSql: String = {
    val rep3 = "replace(replace(replace(b.s, m.pat, m.rep), m.pat, m.rep)," +
      " m.pat, m.rep)"
    s"""WITH RECURSIVE $bpeBatchedCtes,
       |lm AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY round, rnk) AS BIGINT) AS mrank,
       |    chr(31)||lft||chr(31)||rgt||chr(31) AS pat,
       |    chr(31)||lft||rgt||chr(31) AS rep
       |  FROM allsel),
       |w0t AS (SELECT doc_id,
       |    unnest(string_split_regex(lower(text), '[ \\t\\n\\r]+')) AS w
       |  FROM documents),
       |wct AS (SELECT doc_id, w, count(*) AS cnt
       |  FROM w0t WHERE w <> '' GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT w FROM wct),
       |b(w, s, r) AS (
       |  SELECT w, chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g'),
       |    CAST(1 AS BIGINT)
       |  FROM vocab WHERE NOT contains(w, chr(31))
       |  UNION ALL
       |  SELECT b.w, $rep3, b.r + 1
       |  FROM b JOIN lm m ON m.mrank = b.r),
       |lenv AS (
       |  SELECT w, length(s) - length(replace(s, chr(31), '')) - 1 AS toks
       |  FROM b WHERE r = (SELECT count(*) + 1 FROM lm)
       |  UNION ALL
       |  SELECT w, length(w) AS toks FROM vocab WHERE contains(w, chr(31)))
       |SELECT wct.doc_id,
       |  CAST(sum(wct.cnt) AS BIGINT) AS n_words,
       |  CAST(sum(wct.cnt * lenv.toks) AS BIGINT) AS n_bpe
       |FROM wct JOIN lenv ON wct.w = lenv.w
       |GROUP BY wct.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C41
  /** Terms kept per document. */
  private val TfidfTopK = 3

  /** Integer-exact TF-IDF keyword extraction (C41) — the top
    * [[TfidfTopK]] terms per document by corpus-weighted
    * distinctiveness (Spärck Jones 1972), the feature behind keyword
    * tagging, topic clustering seeds, and boilerplate-vs-content
    * separation in curation pipelines.
    *
    * Cross-engine exactness forbids the transcendental log in
    * `tf·log(N/df)`, so the score is the UNDAMPED inverse-df weight
    * `score_ppm = (tf · 10⁶) div df` — integer floor division on both
    * engines, same ranking family (monotone ↑tf, ↓df), with raw `tf`
    * and `df` emitted alongside so any damped variant is a consumer-
    * side map over this output. Ties (same score within a doc) break
    * by term text — total order, because (doc, term) is unique after
    * the tf aggregation.
    *
    * Plan shape (the canonical corpus-statistic pair, like
    * [[rarity]]): explode → map-side-combinable (doc, term) tf agg;
    * df = count over the tf frame per term — VOCABULARY-sized
    * (Heaps-bounded at 100 TB), so AQE broadcasts it into the
    * score join; the final per-doc top-k window partitions by doc_id
    * with each partition bounded by the doc's own distinct-term
    * count. No corpus×corpus join anywhere. */
  def tfidfTopk(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("term"))
    tf.join(dfc, "term")
      .withColumn("score_ppm", expr("tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_ppm"), col("rnk"))
  }

  def tfidfTopk(spark: SparkSession, dir: String): DataFrame =
    tfidfTopk(docs(spark, dir))

  val tfidfTopkSql: String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
       |    (tf.tf * 1000000) // dfc.df AS score_ppm,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY (tf.tf * 1000000) // dfc.df DESC, tf.term) AS rnk
       |  FROM tf JOIN dfc USING (term))
       |SELECT doc_id, term, tf, df, score_ppm, rnk
       |FROM s WHERE rnk <= $TfidfTopK""".stripMargin

  // --------------------------------------------------------------- C49
  /** Plant density for the `text_length_outliers` entry fixture. */
  private[operators] val OutlierPlantMod = 97

  /** ENTRY-LAYER FIXTURE (the plantTwins discipline): the corpus's
    * n_chars is near-uniform per source (max |z| ≈ √3 for a uniform
    * law), so a 3σ gate on clean data flags nothing at any SF and the
    * driver would be hashing an all-true column. Every
    * [[OutlierPlantMod]]-th doc gets a ×20-length copy at
    * `doc_id + max+1` — a single extreme point in a ~25-row stratum
    * sits at z ≈ √(n−1)·(n−1)/n > 3, so every SF flags deterministic
    * rows and the oracle replays the same plant. Only the columns the
    * operator reads survive (the planted row's text is NOT rewritten —
    * the operator is a pure function of (key, value)). */
  private[graft] def plantLengthOutliers(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val off = base
      .agg(coalesce(max(col("doc_id")), lit(-1L))).head().getLong(0) + 1L
    base.unionAll(base.filter(col("doc_id") % OutlierPlantMod === 0)
      .select((col("doc_id") + off).as("doc_id"), col("source"),
        (col("n_chars") * 20).as("n_chars")))
  }

  /** Distribution-outlier filter (C49) — the statistical-curation
    * primitive behind Gopher-style length/perplexity cutoffs: flag
    * every row whose `value` sits more than k standard deviations from
    * its group's mean, computed EXACTLY from integer power sums. The
    * k·σ test is evaluated in cross-multiplied form —
    * `(n·x − Σx)² > k²·(n·Σx² − (Σx)²)` — so no mean, variance, or
    * sqrt is ever materialized: both sides are products/differences of
    * exactly-rounded doubles built from exact integer sums (< 2⁵³ for
    * any realistic length column; past that, promote the sums to
    * decimal — the comparison form is unchanged), bit-identical
    * cross-engine whatever they round to. σ = 0 and n = 1 groups flag
    * nothing (0 > 0 is false) with no special case.
    *
    * Plan shape: one map-side-combined groupBy(key) power-sum
    * aggregate (one row per group crosses the wire per partition),
    * joined back — group-count-bounded, so AQE broadcasts it — and a
    * pure per-row flag: two linear passes, zero corpus shuffles (the
    * C34 two-pass-statistic shape). `mean_milli` = (Σx·1000) div n is
    * emitted as the exact-integer audit of each group's center. */
  def statOutliers(df: DataFrame, key: String, value: String,
      k: Double): DataFrame = {
    // Square a LONG-cast column: int*int would wrap at 32 bits before
    // the long sum ever saw it (the oracle side errors instead).
    val vLong = col(value).cast("long")
    val stats = df.groupBy(col(key)).agg(
      count(lit(1)).as("src_n"),
      sum(vLong).as("sm"),
      sum(vLong * vLong).as("q"))
    val nd = col("src_n").cast("double")
    val xd = col(value).cast("double")
    val smd = col("sm").cast("double")
    val qd = col("q").cast("double")
    val dev = nd * xd - smd
    df.join(stats, key)
      .withColumn("mean_milli", expr("sm * 1000 div src_n"))
      .withColumn("outlier",
        dev * dev > lit(k * k) * (nd * qd - smd * smd))
      .drop("sm", "q")
  }

  def lengthOutliers(spark: SparkSession, dir: String): DataFrame =
    statOutliers(plantLengthOutliers(docs(spark, dir)),
        "source", "n_chars", 3.0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("src_n"), col("mean_milli"), col("outlier"))
      .orderBy(col("doc_id"))

  val lengthOutliersSql: String =
    s"""WITH base AS (SELECT doc_id, source, n_chars FROM documents),
       |raw AS (SELECT doc_id, source, n_chars FROM base
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM base), source,
       |    n_chars * 20
       |  FROM base WHERE doc_id % $OutlierPlantMod = 0),
       |s AS (SELECT source, count(*) AS src_n,
       |    CAST(sum(n_chars) AS BIGINT) AS sm,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS q
       |  FROM raw GROUP BY source)
       |SELECT r.doc_id, r.source, r.n_chars, s.src_n,
       |  (s.sm * 1000) // s.src_n AS mean_milli,
       |  (s.src_n::DOUBLE * r.n_chars::DOUBLE - s.sm::DOUBLE)
       |    * (s.src_n::DOUBLE * r.n_chars::DOUBLE - s.sm::DOUBLE)
       |    > 9.0 * (s.src_n::DOUBLE * s.q::DOUBLE
       |             - s.sm::DOUBLE * s.sm::DOUBLE) AS outlier
       |FROM raw r JOIN s USING (source)
       |ORDER BY r.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_length_outliers" -> lengthOutliers _,
    "text_tfidf_topk" -> (tfidfTopk(_, _)),
    "text_langid" -> langId _,
    "text_quality" -> quality _,
    "text_tokens" -> tokens _,
    "text_fingerprint" -> fingerprint _,
    "text_repetition" -> (repetition(_, _)),
    "text_diversity" -> (diversity(_, _)),
    "text_rarity" -> (rarity(_, _)),
    "text_pii" -> (pii(_, _)),
    "text_bigram_lm" -> (bigramLm(_, _)),
    "text_tokens_bpe" -> tokensBpe _,
    "text_tokens_bpe_learned" -> tokensBpeLearned _,
    "text_quality_model" -> qualityModel _,
    "text_bpe_learn" -> bpeLearn _,
    "text_bpe_learn_batched" -> bpeLearnBatched _)

  val oracles: Map[String, String] = Map(
    "text_length_outliers" -> lengthOutliersSql,
    "text_tfidf_topk" -> tfidfTopkSql,
    "text_langid" -> langIdSql,
    "text_quality" -> qualitySql,
    "text_tokens" -> tokensSql,
    "text_fingerprint" -> fingerprintSql,
    "text_repetition" -> repetitionSql,
    "text_diversity" -> diversitySql,
    "text_rarity" -> raritySql,
    "text_pii" -> piiSql,
    "text_bigram_lm" -> bigramLmSql,
    "text_tokens_bpe" -> tokensBpeSql,
    "text_tokens_bpe_learned" -> tokensBpeLearnedSql,
    "text_quality_model" -> qualityModelSql,
    "text_bpe_learn" -> bpeLearnSql,
    "text_bpe_learn_batched" -> bpeLearnBatchedSql)
}
