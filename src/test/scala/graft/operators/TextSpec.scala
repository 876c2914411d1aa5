package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Text operator specs: engine-parity edge cases and basic invariants. */
class TextSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("langid scores + argmax are deterministic and total") {
    val res = Text.langId(spark, dir)
    assert(res.filter(col("pred_lang").isNull).count() === 0)
    assert(res.count() === 500)
  }

  test("quality ratios bounded [0,1] and score bounded") {
    val bad = Text.quality(spark, dir).filter(
      col("stop_ratio") < 0 || col("stop_ratio") > 1 ||
      col("alpha_ratio") < 0 || col("alpha_ratio") > 1 ||
      col("quality") < 0 || col("quality") > 1)
    assert(bad.count() === 0)
  }

  test("quality and tokens: the empty text gives NULL ratios, never a division error") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "the cat")).toDF("doc_id", "text")
    val q = Text.quality(df).orderBy("doc_id").collect()
    assert(q(0).getLong(1) === 0L) // n_chars
    assert(q(0).isNullAt(q(0).fieldIndex("alpha_ratio")))
    assert(q(0).isNullAt(q(0).fieldIndex("quality")))
    assert(q(1).getDouble(q(1).fieldIndex("stop_ratio")) === 0.5)
    val t = Text.tokens(df).orderBy("doc_id").collect()
    assert(t(0).getLong(t(0).fieldIndex("re_tokens")) === 0L)
    assert(t(0).isNullAt(t(0).fieldIndex("chars_per_token")))
    assert(t(1).getDouble(t(1).fieldIndex("chars_per_token")) === 3.5) // 7 chars / 2 tokens
  }

  test("token counts: ws_tokens equals wordcount of single-spaced text") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "one"), (3L, "x  y")).toDF("doc_id", "text")
    val counts = df.select(size(split(col("text"), " "))).collect().map(_.getInt(0)).toSeq
    assert(counts === Seq(3, 1, 3)) // double space → empty token, like DuckDB string_split
  }

  test("fingerprint poly-hash: known value and md5 prefix") {
    import spark.implicits._
    // "ab" → codes [97, 98]; fold: init 97, (97*31+98) % 1e9+7 = 3105
    val df = Seq((1L, "ab")).toDF("doc_id", "text")
    df.createOrReplaceTempView("fp_tmp")
    val codes = transform(sequence(lit(1), length(col("text"))),
      i => ascii(col("text").substr(i, lit(1))).cast("long"))
    val out = df.withColumn("codes", codes)
      .select(aggregate(slice(col("codes"), lit(2), size(col("codes")) - 1),
        element_at(col("codes"), 1), (acc, x) => (acc * 31 + x) % 1000000007L))
      .head.getLong(0)
    assert(out === 3105L)
  }

  test("PolyFingerprint codegen expression equals the declarative fold") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{Bridge, PolyFingerprint}
    val df = Seq((1L, "ab"), (3L, "的是了 mixed 文本"), (4L, "a"),
      (5L, "The quick brown fox: 123!")).toDF("doc_id", "text")
    val codes = transform(sequence(lit(1), length(col("text"))),
      i => ascii(col("text").substr(i, lit(1))).cast("long"))
    def vals(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))
    val declarative = df.withColumn("codes", codes)
      .select(col("doc_id"),
        aggregate(slice(col("codes"), lit(2), size(col("codes")) - 1),
          element_at(col("codes"), 1), (acc, x) => (acc * 31 + x) % 1000000007L).as("fp"))
      .collect().map(vals).toMap
    val native = df
      .select(col("doc_id"),
        Bridge.column(new PolyFingerprint(Bridge.expression(col("text")))).as("fp"))
      .collect().map(vals).toMap
    assert(native === declarative)
    assert(native(1L) === 3105L) // 97*31 + 98
    // empty text → NULL by design (the declarative fold accidentally
    // yields 0 through Spark's sequence(1,0) = [1,0] quirk; no engine
    // pair agrees on empty, and the corpus excludes it)
    val empty = Seq((9L, "")).toDF("doc_id", "text")
      .select(Bridge.column(new PolyFingerprint(Bridge.expression(col("text")))).as("fp"))
      .head
    assert(empty.isNullAt(0))
  }

  test("text ops are shuffle-free single-pass projections") {
    Seq("text_langid", "text_quality", "text_tokens", "text_fingerprint").foreach { q =>
      val plan = Text.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("repetition scoring flags duplicate-gram mass and the top-gram share") {
    import spark.implicits._
    val docs = Seq(
      // "spam spam spam spam spam" → 3 identical trigrams
      (1L, Seq.fill(5)("spam").mkString(" ")),
      // all-distinct prose → zero duplicate fraction
      (2L, "one two three four five"),
      (3L, "a b") // <3 tokens: dropped
    ).toDF("doc_id", "text")
    val r = Text.repetition(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))).toMap
    assert(r.keySet === Set(1L, 2L))
    assert(r(1L) === ((3L, 1L, 3L, 2.0 / 3, 1.0)))
    assert(r(2L) === ((3L, 3L, 1L, 0.0, 1.0 / 3)))
  }

  test("diversity: TTR and Simpson collision probability on known counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),                  // counts {a:2, b:1}
      (2L, "x x x x"),                // degenerate: one type
      (3L, "one two three four")      // all distinct
    ).toDF("doc_id", "text")
    val r = Text.diversity(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))).toMap
    assert(r(1L) === ((3L, 2L, 5L, 2.0 / 3, 5.0 / 9)))
    assert(r(2L) === ((4L, 1L, 16L, 1.0 / 4, 1.0)))
    assert(r(3L) === ((4L, 4L, 4L, 1.0, 4.0 / 16)))
  }

  test("rarity: corpus-frequency sums, hapax detection on known counts") {
    import spark.implicits._
    // corpus frequencies: a→3, b→2, zzz→1 (hapax)
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a b zzz")
    ).toDF("doc_id", "text")
    val r = Text.rarity(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5), x.getDouble(6)))).toMap
    // doc 1: tf sum 3+3+2=8, min 2, no hapax
    assert(r(1L) === ((3L, 0L, 8L, 2L, 0.0, 8.0 / 3)))
    // doc 2: tf sum 3+2+1=6, min 1, one hapax
    assert(r(2L) === ((3L, 1L, 6L, 1L, 1.0 / 3, 2.0)))
  }

  test("rarity: non-vacuous on testdata (mean_tf varies across docs)") {
    val r = Text.rarity(spark, dir)
    assert(r.count() === 500)
    assert(r.select(col("mean_tf")).distinct().count() > 1)
    // saturated synthetic vocabulary: no corpus hapax — documents the
    // reason the hapax signal is spec-tested on literal data above
    assert(r.agg(sum(col("n_hapax"))).head.getLong(0) === 0L)
  }

  test("piiScan: masks and counts genuine PII patterns on literal data") {
    import spark.implicits._
    val logs = Seq(
      (1L, "contact john.doe+spam@example.co.uk or 25-989-741-2988"),
      (2L, "order 123456 shipped"),
      (3L, "no pii here")
    ).toDF("id", "line")
    val r = Text.piiScan(logs, "id", "line", Text.piiPatterns).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))).toMap
    assert(r(1L) === ((1L, 1L, 0L,
      "contact <EMAIL> or <PHONE>"))) // phone masked before num can fire
    assert(r(2L) === ((0L, 0L, 1L, "order <NUM> shipped")))
    assert(r(3L) === ((0L, 0L, 0L, "no pii here")))
  }

  test("rarity: differential vs a plain-Scala reference on a seeded corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("x", "y", "z", "w", "q", "rare1", "rare2")
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val freq = docs.flatMap(_._2.split(" ", -1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = docs.map { case (id, text) =>
      val t = text.split(" ", -1)
      val tf = t.map(freq)
      id -> ((t.length.toLong, tf.count(_ == 1L).toLong, tf.sum, tf.min,
        tf.count(_ == 1L).toDouble / t.length, tf.sum.toDouble / t.length))
    }.toMap
    val got = Text.rarity(docs.toDF("doc_id", "text")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5), x.getDouble(6)))).toMap
    assert(got === expected)
  }

  test("piiScan: differential vs java.util.regex sequential masking") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val frags = Vector("text", "a@b.co", "12-345-678", "9081726354",
      "x1", "no.reply+tag@mail.example.org", "42", "-", "@", "7")
    val rows = (0 until 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(6))(frags(rnd.nextInt(frags.size))).mkString(" "))
    }
    val expected = rows.map { case (id, line) =>
      var cur = line
      val counts = Text.piiPatterns.map { case (name, re) =>
        val m = java.util.regex.Pattern.compile(re).matcher(cur)
        var c = 0L
        while (m.find()) c += 1
        cur = cur.replaceAll(re, s"<${name.toUpperCase}>")
        c
      }
      id -> ((counts(0), counts(1), counts(2), cur))
    }.toMap
    val got = Text.piiScan(rows.toDF("id", "line"), "id", "line", Text.piiPatterns)
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))).toMap
    assert(got === expected)
    assert(expected.values.exists(_._1 > 0) && expected.values.exists(_._3 > 0))
  }

  test("text_pii entry: non-vacuous on events (counts vary, digits gone)") {
    val r = Text.pii(spark, dir)
    assert(r.select(col("n_num")).distinct().count() > 1)
    assert(r.filter(col("redacted").rlike("[0-9]{2,}")).count() === 0)
    assert(r.filter(col("n_num") > 0).count() > 0)
  }

  test("bigramLm: known values on a hand-computed corpus") {
    import spark.implicits._
    // doc 1 "a b a b": bigrams (a,b)(b,a)(a,b); doc 2 "a c": (a,c);
    // doc 3 "x": no bigram → dropped.
    // cbig: (a,b)=2 (b,a)=1 (a,c)=1; cpre: a=3, b=1.
    // doc 1: p = 2/3, 1/1, 2/3 → sum ((0+2/3)+1)+2/3, novel=1 ((b,a)),
    // min_cbig=1. doc 2: p = 1/3, novel=1, min_cbig=1.
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x"))
    val got = Text.bigramLm(docs.toDF("doc_id", "text")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))).toMap
    val sum1 = ((0.0 + 2.0 / 3.0) + 1.0) + 2.0 / 3.0
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((3L, 1L, 1L, sum1, sum1 / 3L)))
    assert(got(2L) === ((1L, 1L, 1L, 1.0 / 3.0, 1.0 / 3.0)))
  }

  test("bigramLm: fold order is positional, not collection order") {
    import spark.implicits._
    // many-partition frame so collect_list order is adversarial; the
    // sort_array(struct(pos, p)) fold must still equal the sequential
    // left-to-right sum computed on the driver
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val rows = (0L until 40L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text").repartition(13)
    val out = Text.bigramLm(df).collect()
      .map(x => x.getLong(0) -> x.getDouble(4)).toMap
    // independent reference: count maps on the driver
    val bigrams = rows.map { case (id, t) =>
      id -> t.split(" ").toSeq.sliding(2).map(p => (p(0), p(1))).toVector
    }
    val cbig = bigrams.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val cpre = bigrams.flatMap(_._2).groupBy(_._1).map { case (k, v) => k -> v.size }
    bigrams.foreach { case (id, bs) =>
      val expected = bs.foldLeft(0.0) { case (acc, b) =>
        acc + cbig(b).toDouble / cpre(b._1).toDouble
      }
      assert(out(id) === expected, s"doc $id")
    }
  }

  test("bigramLm: plain-sum production path agrees with the ordered fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    val rows = (0L until 60L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text").repartition(13)
    def m(ordered: Boolean) = Text.bigramLm(df, orderedFold = ordered)
      .select($"doc_id", $"sum_p", $"n_bigrams", $"novel_bigrams").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    val o = m(true); val p = m(false)
    assert(o.keySet === p.keySet)
    o.foreach { case (id, (sp, nb, nv)) =>
      assert(p(id)._2 === nb); assert(p(id)._3 === nv)
      assert(math.abs(p(id)._1 - sp) <= 1e-9 * math.max(1.0, math.abs(sp)),
        s"doc $id: ordered $sp vs plain ${p(id)._1}")
    }
    // and the production path plans no per-doc list materialization
    val plan = Text.bigramLm(df, orderedFold = false)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"))
  }

  test("bigramLm: predictable text outscores shuffled text") {
    import spark.implicits._
    // 30 copies of one sentence + 1 doc with the same tokens in a rare
    // order: the repeated phrasing must carry higher mean_p
    val sent = "the cat sat on the mat"
    val docs = (0L until 30L).map(i => (i, sent)) :+
      (99L, "mat the on sat cat the")
    val out = Text.bigramLm(docs.toDF("doc_id", "text")).collect()
      .map(x => x.getLong(0) -> x.getDouble(5)).toMap
    assert(out(0L) > out(99L))
  }

  // ------------------------------------------------------ C11b BPE
  import org.apache.spark.sql.graft.BpeLen

  test("bpe: hand-checked token lengths") {
    // "the": t,h,e → th,e (r1) → the (r2)
    assert(BpeLen.tokenLen("the") === 1)
    // "and": a,n,d → an,d (r4) → and (r5)
    assert(BpeLen.tokenLen("and") === 1)
    // "with": t,h → th (r1); w,i → wi (r38); wi,th → with (r39)
    assert(BpeLen.tokenLen("with") === 1)
    // "there": th (r1), the (r2), then r,e → re (r8) → [the, re]
    assert(BpeLen.tokenLen("there") === 2)
    // "tion": o,n → on (r7); t,i → ti (r14); ti,on → tion (r15)
    assert(BpeLen.tokenLen("tion") === 1)
    // "testing": i,n → in (r3); e,s → es (r12) → [t, es, t, in, g]
    assert(BpeLen.tokenLen("testing") === 5)
    assert(BpeLen.tokenLen("a") === 1)
    assert(BpeLen.tokenLen("") === 0)
    assert(BpeLen.tokenLen("xyzq") === 4) // no merge fires
    // U+001F fallback counts code points
    assert(BpeLen.tokenLen("a" + 31.toChar + "b") === 3)
  }

  /** Independent BEST-RANK-FIRST reference: repeatedly merge the
    * leftmost occurrence of the lowest-rank pair present — the classic
    * BPE loop the sequential-by-rank production code must equal. */
  private def bestFirstLen(word: String): Int = {
    if (word.isEmpty) return 0
    var toks = word.map(_.toString).toVector
    val rank = BpeLen.Merges.zipWithIndex.toMap
    var done = false
    while (!done && toks.size > 1) {
      val cands = toks.indices.dropRight(1)
        .flatMap(i => rank.get(toks(i) -> toks(i + 1)).map(r => (r, i)))
      if (cands.isEmpty) done = true
      else {
        val (_, i) = cands.minBy { case (r, i) => (r, i) }
        toks = (toks.take(i) :+ (toks(i) + toks(i + 1))) ++ toks.drop(i + 2)
      }
    }
    toks.size
  }

  test("bpe: sequential-by-rank equals best-rank-first on random words") {
    val rnd = new scala.util.Random(20260814L)
    val alpha = "aeioutrshdlngcwmfybvpx" // weighted toward merge chars
    for (_ <- 1 to 3000) {
      val w = (1 to (1 + rnd.nextInt(14)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(BpeLen.tokenLen(w) === bestFirstLen(w),
        s"divergence on word '$w'")
    }
  }

  test("bpe: entry is integer-exact and bounded by word chars") {
    val res = Text.tokensBpe(spark, dir)
    assert(res.count() === 500)
    // 1 <= n_bpe <= total word chars; merges strictly reduce
    assert(res.filter(col("n_bpe") < col("n_words")).count() === 0)
    val joined = res.join(Text.tokens(spark, dir), "doc_id")
    assert(joined.filter(col("n_bpe") > col("n_chars")).count() === 0)
    // non-vacuous: merges actually fire (bpe strictly below chars)
    assert(joined.filter(col("n_bpe") < col("n_chars")).count() > 0)
  }

  /** The C32 stand-in weight, recomputed independently: md5-hash the
    * feature into a bucket, Knuth-fold the bucket into [−1000, 1000]. */
  private def modelWeight(feat: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(feat.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val bucket = java.lang.Long.parseLong(hex, 16) % 4096L
    (bucket * 2654435761L) % 2001L - 1000L
  }

  test("quality model: hand-computed scores on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good text wins", "srcA"),
      (2L, "bad", "srcA"), // single token: no bigram features
      (3L, "more good text", "srcB"))
      .toDF("doc_id", "text", "source")
    def score(text: String): Long = {
      val t = text.split(" ", -1)
      val feats = t.toSeq ++ t.toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      feats.map(modelWeight).sum
    }
    val expect = Map(
      "srcA" -> Seq(score("good text wins"), score("bad")),
      "srcB" -> Seq(score("more good text")))
    val got = Text.qualityModel(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    expect.foreach { case (src, scores) =>
      val (nDocs, nKeep, sumScore) = got(src)
      assert(nDocs === scores.size)
      assert(nKeep === scores.count(_ > 0), s"$src keep count")
      assert(sumScore === scores.sum, s"$src score sum")
    }
  }

  test("quality model: one corpus shuffle only, scores deterministic") {
    val res = Text.qualityModel(spark, dir)
    // pure per-row fold, one groupBy, one presentation sort: a third
    // Exchange anywhere means the features leaked out of their rows
    val p = res.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
    val a = res.collect().map(_.toSeq).toSeq
    val b = Text.qualityModel(spark, dir).collect().map(_.toSeq).toSeq
    assert(a === b)
    // non-vacuous: the classifier actually separates (keeps some, drops some)
    val (keep, docs) = a.map(r => (r(2).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    assert(keep > 0 && keep < docs, s"degenerate classifier: $keep/$docs")
  }

  // ------------------------------------------------------ C37 bpe_learn
  private val BpeD = "\u001f"

  /** Independent driver-side BPE learner with the operator's exact
    * semantics: java String.replace is the same leftmost-non-overlap
    * source scan both engines use, applied three nested times per
    * rank. Returns the merge rows plus, per rank, whether the third
    * replace had already reached the fixpoint. */
  private def refBpeLearn(texts: Seq[String], ranks: Int)
      : (Seq[(Long, String, String, Long, Long)], Seq[Boolean]) = {
    val wc = texts.flatMap(_.toLowerCase.split("[ \t\n\r]+"))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var segs: Seq[(Long, String)] = wc.toSeq.map { case (w, c) =>
      (c, BpeD + w.flatMap(ch => s"$ch$BpeD"))
    }
    val out = Seq.newBuilder[(Long, String, String, Long, Long)]
    val fixed = Seq.newBuilder[Boolean]
    for (k <- 1 to ranks) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (c, s) =>
        val parts = s.split(BpeD).filter(_.nonEmpty)
        parts.sliding(2).foreach {
          case Array(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      val ((a, b), c) = counts.toSeq
        .sortBy { case ((x, y), n) => (-n, x, y) }.head
      val pat = BpeD + a + BpeD + b + BpeD
      val rep = BpeD + a + b + BpeD
      segs = segs.map { case (cnt, s) =>
        (cnt, s.replace(pat, rep).replace(pat, rep).replace(pat, rep))
      }
      fixed += segs.forall { case (_, s) => s.replace(pat, rep) == s }
      val toks = segs.map { case (cnt, s) =>
        cnt * (s.count(_ == BpeD.head) - 1)
      }.sum
      out += ((k.toLong, a, b, c, toks))
    }
    (out.result(), fixed.result())
  }

  test("bpe learn: corpus differential vs the independent learner; replace x3 is a fixpoint") {
    val texts = graft.Tables(spark, dir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val (want, fixed) = refBpeLearn(texts, Text.BpeLearnRanks)
    assert(fixed.forall(identity), "a rank needed a 4th replace pass")
    val got = Text.bpeLearn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    assert(got === want)
    // merge-count monotonicity: a merge only destroys occurrences of
    // other pairs and creates pairs no more frequent than itself
    assert(got.map(_._4).sliding(2).forall {
      case Seq(x, y) => x >= y; case _ => true
    }, "pair counts must be non-increasing over ranks")
    assert(got.map(_._5).sliding(2).forall {
      case Seq(x, y) => x > y; case _ => true
    }, "each merge must strictly shrink the corpus token count")
  }

  test("bpe learn: same-symbol runs (left==right) match the reference and reach fixpoint") {
    import spark.implicits._
    // (a,a) is the top pair; its replace-fixpoint on odd runs is the
    // DEFINED semantics — the reference applies the identical primitive
    val docs = Seq((1L, "aaaaaa aaaa aa b"), (2L, "aaaaa aaa a ba"),
      (3L, "aa aaaa baa ab")).toDF("doc_id", "text")
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val (want, fixed) = refBpeLearn(texts, Text.BpeLearnRanks)
    assert(fixed.forall(identity), "adversarial run needed a 4th pass")
    assert(want.head._2 == "a" && want.head._3 == "a", "fixture must force (a,a)")
    val got = Text.bpeLearn(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    assert(got === want)
  }

  test("bpe learn: partition invariance") {
    val d = graft.Tables(spark, dir, "documents")
    val a = Text.bpeLearn(d).collect().map(_.toSeq).toSeq
    val b = Text.bpeLearn(d.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  // -------------------------------------------------- C37b batched bpe
  /** Independent batched learner with the operator's exact semantics:
    * rank → greedy conflict-free selection → replace×3 per accepted
    * merge. `reverse = true` applies each round's accepted merges in
    * REVERSE rank order — the disjointness law says the result must
    * not change. */
  private def refBpeLearnBatched(texts: Seq[String], rounds: Int,
      topC: Int, cap: Int, reverse: Boolean = false)
      : Seq[(Long, Long, String, String, Long, Long)] = {
    val wc = texts.flatMap(_.toLowerCase.split("[ \t\n\r]+"))
      .filter(_.matches("^[a-z0-9]+$"))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var segs: Seq[(Long, String)] = wc.toSeq.map { case (w, c) =>
      (c, BpeD + w.flatMap(ch => s"$ch$BpeD"))
    }
    val out = Seq.newBuilder[(Long, Long, String, String, Long, Long)]
    var rank = 0L
    for (k <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (c, s) =>
        s.split(BpeD).filter(_.nonEmpty).sliding(2).foreach {
          case Array(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      val cand = counts.toSeq
        .sortBy { case ((x, y), n) => (-n, x, y) }.take(topC)
        .map { case ((x, y), n) => (x, y, n) }
      val accepted = Text.bpeGreedySelect(cand, cap)
      val applyOrder = if (reverse) accepted.reverse else accepted
      applyOrder.foreach { case (a, b, _) =>
        val pat = BpeD + a + BpeD + b + BpeD
        val rep = BpeD + a + b + BpeD
        segs = segs.map { case (cnt, s) =>
          (cnt, s.replace(pat, rep).replace(pat, rep).replace(pat, rep))
        }
      }
      val toks = segs.map { case (cnt, s) =>
        cnt * (s.count(_ == BpeD.head) - 1)
      }.sum
      accepted.foreach { case (a, b, c) =>
        rank += 1
        out += ((k.toLong, rank, a, b, c, toks))
      }
    }
    out.result()
  }

  test("bpe learn batched: corpus differential vs the independent learner; rounds are symbol-disjoint") {
    val texts = graft.Tables(spark, dir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val want = refBpeLearnBatched(texts, Text.BpeBatchRounds,
      Text.BpeBatchTopC, Text.BpeBatchCap)
    val got = Text.bpeLearnBatched(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSeq.sortBy(_._2)
    assert(got === want)
    assert(got.length > Text.BpeLearnRanks,
      "the batch must learn more merges than C37's one-per-round")
    // within a round, accepted pairs are PAIRWISE symbol-disjoint —
    // the property that makes simultaneous application sound (a
    // self-pair (x, x) is fine alone; no other pair may touch x)
    got.groupBy(_._1).foreach { case (round, ms) =>
      ms.combinations(2).foreach { case Seq(p, q) =>
        assert(Set(p._3, p._4).intersect(Set(q._3, q._4)).isEmpty,
          s"round $round: merges $p and $q share a symbol")
      }
    }
    // token counts strictly decrease round over round
    val perRound = got.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.head._6)
    assert(perRound.sliding(2).forall {
      case Seq(x, y) => x > y; case _ => true
    })
    // the 31-word corpus EXHAUSTS before the round budget: trailing
    // rounds find an empty candidate pool and emit nothing — the
    // depth-vs-count demonstration (C37 would need one round per merge)
    assert(got.map(_._1).max < Text.BpeBatchRounds,
      "expected the merge table to exhaust before the last round")
  }

  test("bpe learn batched keeps no round checkpoint behind") {
    val leaked = leakedRdds(Text.bpeLearnBatched(spark, dir))
    assert(leaked.isEmpty, s"bpeLearnBatched left persisted RDDs $leaked")
  }

  test("bpe learn batched: application order within a round is irrelevant (disjointness law)") {
    val texts = graft.Tables(spark, dir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq.take(120)
    val fwd = refBpeLearnBatched(texts, 4, Text.BpeBatchTopC, Text.BpeBatchCap)
    val rev = refBpeLearnBatched(texts, 4, Text.BpeBatchTopC, Text.BpeBatchCap,
      reverse = true)
    assert(fwd === rev)
  }

  test("learned BPE closes: applying the learned table reproduces the learner's final token count") {
    // the tokenizer loop: C37b's LAST corpus_tokens is the token count
    // of its own final segmentation; re-tokenizing the learner's
    // vocabulary from scratch under the collected table (BpeApplyLen's
    // replace-x3-per-rank trace) must land on exactly that number —
    // any divergence between apply semantics and learner semantics
    // breaks this equality
    import org.apache.spark.sql.graft.BpeApplyLen
    val docs = graft.Tables(spark, dir, "documents")
    val learner = Text.bpeLearnBatched(docs).collect()
    assert(learner.nonEmpty)
    val finalTokens = learner.map(r => (r.getLong(1), r.getLong(5)))
      .maxBy(_._1)._2
    val merges = learner.sortBy(_.getLong(1))
      .map(r => (r.getString(2), r.getString(3)))
    val pats = merges.map { case (a, b) => "\u001f" + a + "\u001f" + b + "\u001f" }
    val reps = merges.map { case (a, b) => "\u001f" + a + b + "\u001f" }
    val wc = docs
      .select(explode(split(lower(col("text")), "[ \t\n\r]+")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val applied = wc.map { case (w, cnt) =>
      cnt * BpeApplyLen.tokenLen(w, pats, reps)
    }.sum
    assert(applied === finalTokens,
      s"apply trace diverged from the learner: $applied vs $finalTokens")
  }

  test("learned-BPE entry: n_bpe <= n_chars-bound and beats the char segmentation where merges apply") {
    val out = Text.tokensBpeLearned(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // n_bpe >= n_words (a word is >= 1 token) and the learned table
    // must COMPRESS: total tokens strictly under the char count of a
    // corpus that learned 80+ merges
    assert(out.forall { case (_, w, b) => b >= w })
    val totalBpe = out.map(_._3).sum
    val totalChars = graft.Tables(spark, dir, "documents")
      .select(sum(length(regexp_replace(lower(col("text")), "[ \t\n\r]+", ""))))
      .head().getLong(0)
    assert(totalBpe < totalChars,
      s"learned merges must compress: $totalBpe tokens vs $totalChars chars")
  }

  // ------------------------------------------------- C41 tf-idf top-k
  test("tfidf: known tf/df/scores, rare term outranks a stopword") {
    import spark.implicits._
    // "the" appears in all 4 docs (df=4); "llama" only in doc 1 (df=1)
    val docs = Seq(
      (1L, "the llama the llama the cat"),
      (2L, "the cat sat"),
      (3L, "the dog sat"),
      (4L, "the fish")).toDF("doc_id", "text")
    val out = Text.tfidfTopk(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    // doc 1: llama tf=2 df=1 → 2_000_000; the tf=3 df=4 → 750_000;
    // cat tf=1 df=2 → 500_000
    assert(out((1L, "llama")) === ((2L, 1L, 2000000L, 1)))
    assert(out((1L, "the")) === ((3L, 4L, 750000L, 2)))
    assert(out((1L, "cat")) === ((1L, 2L, 500000L, 3)))
    // doc 4 has only 2 distinct terms → exactly 2 rows, no padding
    assert(out.keys.count(_._1 == 4L) === 2)
    // fish (df=1) outranks the universal "the" despite equal tf
    assert(out((4L, "fish"))._4 === 1)
    assert(out((4L, "the"))._4 === 2)
  }

  test("tfidf: score ties break by term text") {
    import spark.implicits._
    // b and a: identical tf=1, both df=1 → tied score; a must rank first
    val docs = Seq((1L, "b a"), (2L, "zz")).toDF("doc_id", "text")
    val rows = Text.tfidfTopk(docs).filter(col("doc_id") === 1L)
      .orderBy("rnk").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b"))
    assert(rows.map(_.getLong(4)).distinct.length === 1, "scores must tie")
  }

  test("tfidf: per-doc cardinality and rank laws on the corpus") {
    val d = graft.Tables(spark, dir, "documents")
    val out = Text.tfidfTopk(d).cache()
    try {
      // every doc emits min(3, n_distinct_terms) rows with ranks 1..n
      val perDoc = out.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"),
          min(col("rnk")).as("minr"))
      assert(perDoc.filter(col("n") =!= col("maxr") || col("minr") =!= 1)
        .count() === 0)
      assert(perDoc.filter(col("n") > 3).count() === 0)
      val nDocs = d.select("doc_id").distinct().count()
      assert(perDoc.count() === nDocs, "every doc must be represented")
      // scores are non-increasing in rank within a doc
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("rnk")
      val bad = out.withColumn("prev", lag(col("score_ppm"), 1).over(w))
        .filter(col("prev").isNotNull && col("prev") < col("score_ppm"))
      assert(bad.count() === 0, "score must be non-increasing in rank")
    } finally out.unpersist()
  }

  test("stat outliers: hand-computed fixture, sigma=0 and n=1 groups flag nothing") {
    import spark.implicits._
    // source a: 24 tens and one thousand — the extreme point's
    // z² = dev²/varN2 ≈ 24, far past 9; every ten sits at z² ≈ 0.04.
    // source b: constant (σ = 0). source c: singleton (n = 1).
    val rows = (1L to 24L).map(i => (i, "a", 10L)) ++
      Seq((25L, "a", 1000L), (26L, "b", 7L), (27L, "b", 7L), (28L, "c", 99L))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val out = Text.statOutliers(df, "source", "n_chars", 3.0)
      .select(col("doc_id"), col("outlier"), col("mean_milli"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    val flagged = out.filter(_._2).map(_._1).toSet
    assert(flagged === Set(25L))
    // exact-integer mean audit: source a mean = 1240/25 = 49.6
    assert(out.find(_._1 === 1L).get._3 === 49600L)
    assert(out.find(_._1 === 28L).get._3 === 99000L)
  }

  test("length outliers: flagged set is exactly the planted rows; driver-side differential") {
    val planted = Text.plantLengthOutliers(
      graft.Tables(spark, dir, "documents"))
    val res = Text.statOutliers(planted, "source", "n_chars", 3.0)
      .select(col("doc_id"), col("source"), col("n_chars"), col("outlier"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    // differential: recompute the cross-multiplied k·σ test with the
    // same exactly-rounded double operations driver-side
    val stats = res.groupBy(_._2).map { case (src, rs) =>
      src -> (rs.length.toLong, rs.map(_._3).sum, rs.map(x => x._3 * x._3).sum)
    }
    res.foreach { case (id, src, x, got) =>
      val (n, sm, q) = stats(src)
      val dev = n.toDouble * x.toDouble - sm.toDouble
      val want = dev * dev >
        9.0 * (n.toDouble * q.toDouble - sm.toDouble * sm.toDouble)
      assert(got === want, s"doc $id")
    }
    // the corpus's per-source n_chars is near-uniform (max |z| ≈ √3),
    // so the 3σ flags are exactly the ×20 plants — the fixture doing
    // its job of keeping the driver gate non-vacuous
    val off = graft.Tables(spark, dir, "documents")
      .agg(max(col("doc_id"))).head.getLong(0) + 1
    val flagged = res.filter(_._4).map(_._1).toSet
    assert(flagged.nonEmpty && flagged === res.map(_._1).filter(_ >= off).toSet)
  }
}
