package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BucketFold, HashedFeatures}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.SparkSpec

/** The hashed-feature kernels equal the declarative chains they
  * replace, value for value: [[HashedFeatures]] ≡ split → zip_with
  * bigrams → transform(md5 → conv → % buckets), and each
  * [[BucketFold]] use (the quality-model score, the DSIR weight and
  * n_pos) ≡ its `aggregate` over a literal table — with codegen on and
  * off, under any partitioning, on text built to break tokenizers. */
class FeatureKernelSpec extends SparkSpec {
  private val B = 4096L

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** (id, raw text bytes); `text` is their cast to string, so bytes that
    * are not valid UTF-8 reach the kernels as they are. */
  private val inputs: Seq[(Long, Array[Byte])] = Seq(
    1L -> null, 2L -> utf8(""), 3L -> utf8(" "), 4L -> utf8("  lead"),
    5L -> utf8("trail  "), 6L -> utf8("double  space here"), 7L -> utf8("one"),
    8L -> utf8("的是了 在 我的 文本"), 9L -> utf8("emoji 😀 👍🏽 🇩🇪 x"),
    10L -> utf8("cafe\u0301 nai\u0308ve e\u0301 \u0301"),
    11L -> utf8("x" * 5000), 12L -> utf8("the quick brown fox jumps"),
    13L -> Array[Byte](0x61, 0x20, 0xc3.toByte, 0x20, 0xff.toByte, 0xfe.toByte),
    14L -> Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte, 0x20, 0x62,
      0xe2.toByte, 0x82.toByte, 0x20, 0xc0.toByte, 0xaf.toByte),
    15L -> utf8("a b a b a b"), 16L -> utf8("  "))

  private def frame(parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("bin", BinaryType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      inputs.map { case (id, b) => Row(id, b) }, parts), schema)
      .withColumn("text", col("bin").cast("string"))
  }

  // ---- the declarative chains the kernels replaced
  private def hofFeats(text: Column): Column = {
    val toks = split(text, " ")
    concat(toks, when(size(toks) >= 2, zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>")))
  }
  private def hofBuckets(feats: Column): Column =
    transform(feats, g => conv(substring(md5(g), 1, 15), 16, 10).cast("bigint") % B)
  private val hofScore: Column = expr(s"""aggregate(hf, 0L, (acc, g) ->
      acc + ((CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)
                % $B) * 2654435761) % 2001 - 1000)""")

  // ---- a DSIR model over seeded counts (every bucket referenced)
  private val rnd = new scala.util.Random(13)
  private val raw = Array.fill(B.toInt)(rnd.nextInt(50000).toLong)
  private val tgt = raw.map(c => (c * rnd.nextDouble()).toLong)
  private val rawTot = raw.sum + B
  private val tgtTot = tgt.sum + B
  private val num = tgt.map(c => Math.multiplyExact(c + 1L, rawTot))
  private val den = raw.map(c => Math.multiplyExact(c + 1L, tgtTot))
  private val q = BucketFold.Product(num.indices.map(b =>
    num(b).toDouble / den(b).toDouble).toArray)
  private val pos = BucketFold.Sum(num.indices.map(b =>
    if (num(b) > den(b)) 1L else 0L).toArray)
  private val weights = BucketFold.Sum(Array.tabulate(B.toInt)(b =>
    (b * 2654435761L) % 2001L - 1000L))

  private def hofW(b: Column): Column = {
    val (t, r) = (typedLit(tgt.toSeq), typedLit(raw.toSeq))
    aggregate(b, lit(1.0d), (acc, x) =>
      acc * (((element_at(t, (x + 1).cast("int")) + 1L) * rawTot).cast("double") /
        ((element_at(r, (x + 1).cast("int")) + 1L) * tgtTot).cast("double")))
  }
  private def hofPos(b: Column): Column = {
    val (t, r) = (typedLit(tgt.toSeq), typedLit(raw.toSeq))
    aggregate(b, lit(0L), (acc, x) => acc + when(
      (element_at(t, (x + 1).cast("int")) + 1L) * rawTot >
        (element_at(r, (x + 1).cast("int")) + 1L) * tgtTot, 1L).otherwise(0L))
  }

  /** id → (buckets, score, w bits, n_pos); null-safe. */
  private def collectRows(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map { r =>
      r.getLong(0) -> (1 until r.length).map { i =>
        if (r.isNullAt(i)) null
        else r.get(i) match {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case s: scala.collection.Seq[_] => s.toList
          case v => v
        }
      }
    }.toMap

  private def native(df: DataFrame): DataFrame = {
    val hb = Text.hashedFeatures(col("text"), B)
    df.select(col("id"), hb.as("hb"))
      .select(col("id"), col("hb"),
        Text.bucketFold(col("hb"), weights).as("score"),
        Text.bucketFold(col("hb"), q).as("w"),
        Text.bucketFold(col("hb"), pos).as("n_pos"))
  }

  private def declarative(df: DataFrame): DataFrame =
    df.select(col("id"), hofFeats(col("text")).as("hf"))
      .select(col("id"), hofBuckets(col("hf")).as("hb"), hofScore.as("score"))
      .select(col("id"), col("hb"), col("score"),
        hofW(col("hb")).as("w"), hofPos(col("hb")).as("n_pos"))

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("HashedFeatures and BucketFold equal the declarative chains, codegen on and off") {
    val expect = collectRows(declarative(frame(3)))
    assert(expect.size === inputs.size)
    // the invalid-UTF-8 rows reach the kernels unrepaired
    assert(frame(1).filter(col("text").cast("binary") === col("bin")).count() ===
      inputs.count(_._2 != null))
    modes.foreach { case (mode, confs) =>
      withConf(confs: _*) {
        Seq(1, 4).foreach { parts =>
          val got = collectRows(native(frame(parts)))
          expect.foreach { case (id, want) =>
            assert(got(id) === want, s"$mode, $parts partitions, doc $id")
          }
        }
      }
    }
    // spot checks of the contract itself
    assert(expect(1L).forall(_ == null), "NULL text → NULL everywhere")
    assert(expect(2L)(0).asInstanceOf[List[_]].size === 1, "'' is one empty word")
    assert(expect(6L)(0).asInstanceOf[List[_]].size === 7, "4 words + 3 bigrams")
    assert(expect(11L)(0).asInstanceOf[List[_]].size === 1)
  }

  test("the kernels' interpreted eval equals their generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val hf = HashedFeatures(BoundReference(0, StringType, nullable = true), B)
    val folds = Seq[BucketFold.Table](weights, q, pos).map(t =>
      BucketFold(BoundReference(0, ArrayType(LongType, containsNull = false),
        nullable = true), t))
    val codegen = collectRows(native(frame(2)))
    inputs.foreach { case (id, bytes) =>
      val text = if (bytes == null) null else UTF8String.fromBytes(bytes)
      val feats = hf.eval(InternalRow(text))
      val evaled = Option(feats).map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toList).orNull +:
        folds.map(_.eval(InternalRow(feats)) match {
          case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        })
      assert(evaled === codegen(id), s"doc $id")
    }
  }

  test("BucketFold raises on overflow and on an id outside its table, never wraps") {
    import spark.implicits._
    val big = BucketFold.Sum(Array(Long.MaxValue, 1L))
    val df = Seq((1L, Seq(0L, 1L))).toDF("id", "b")
      .repartition(1) // a scan, not a foldable local relation
    val e1 = intercept[Exception](df.select(Text.bucketFold(col("b"), big)).collect())
    assert(Iterator.iterate[Throwable](e1)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e1.toString)
    val e2 = intercept[Exception](
      df.select(Text.bucketFold(col("b"), BucketFold.Sum(Array(1L)))).collect())
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("outside the 1-bucket table")),
      e2.toString)
  }

  test("plans show a fold table's size, never its values, and equal tables canonicalize") {
    val qm = Text.qualityModel(spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(qm.contains("sum[4096]"), qm)
    val dsir = Pipeline.dsirWeights(spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(dsir.contains("product[4096]") && dsir.contains("sum[4096]"), dsir)
    // 4096 literal values would print as at least 8 KB each
    assert(qm.length + dsir.length < 8192, s"plan strings of ${qm.length + dsir.length} chars")
    val a = BucketFold.Product(Array(1.0, 2.0))
    assert(a === BucketFold.Product(Array(1.0, 2.0)))
    assert(a.hashCode === BucketFold.Product(Array(1.0, 2.0)).hashCode)
    assert(BucketFold.Sum(Array(1L)) !== BucketFold.Sum(Array(2L)))
  }
}
