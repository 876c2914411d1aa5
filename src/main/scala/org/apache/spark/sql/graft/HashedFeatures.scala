package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The hashed text features of the linear text models (SURVEY.md §2
  * C32, C34, C52) as one NATIVE codegen pass: the words of
  * `split(text, ' ')` first, then each pair of adjacent words joined by
  * one space, each mapped to its bucket id — the first 15 hex digits of
  * the feature's md5 read as an unsigned 60-bit integer, `% buckets`.
  * A null text gives null; any other text gives n words + (n−1) bigrams
  * (`''` is one empty word). No arithmetic here can overflow (a hash
  * is < 2⁶⁰, read unsigned), so there is nothing to wrap or raise;
  * [[BucketFold]]'s sums raise on overflow, never wrap.
  *
  * Equal, value for value, to the declarative chain
  * `concat(toks, zip_with(slice(toks, 1, n−1), slice(toks, 2, n−1),
  * concat_ws(' ', a, b)))` then `transform(feats, g →
  * CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % buckets)`
  * and to the DuckDB oracles' `('0x' || substr(md5(g), 1, 15))::BIGINT`
  * replay: same tokens (Spark's split decodes the text as Java does, so
  * bytes that are not valid UTF-8 hash as their U+FFFD replacements),
  * same feature order — but in one loop over the text's bytes, with no
  * hex string per feature. A bigram needs no concatenation: its two
  * words are adjacent in the text with exactly one space between them,
  * so its bytes are one contiguous span. */
case class HashedFeatures(child: Expression, buckets: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(buckets > 0, s"buckets must be positive, got $buckets")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any =
    HashedFeatures.features(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = HashedFeatures.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.features($c, ${buckets}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_hashed_features"
}

object HashedFeatures {
  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The bytes Spark's `split` tokenizes: the text itself when it is
    * ASCII, else its Java decode re-encoded (the identity on valid
    * UTF-8; malformed sequences become U+FFFD). */
  private def splitBytes(text: UTF8String): Array[Byte] = {
    val b = text.getBytes
    var i = 0
    while (i < b.length && b(i) >= 0) i += 1
    if (i == b.length) b else text.toString.getBytes(StandardCharsets.UTF_8)
  }

  def features(text: UTF8String, buckets: Long): ArrayData = {
    val b = splitBytes(text)
    var n = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') n += 1; i += 1 }
    // word k spans [start(k), start(k+1) − 1); start(n) = length + 1
    val start = new Array[Int](n + 1)
    var k = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { start(k) = i + 1; k += 1 }
      i += 1
    }
    start(n) = b.length + 1
    val md = digests.get()
    val dig = new Array[Byte](16)
    val out = new Array[Long](2 * n - 1)
    def bucket(from: Int, until: Int): Long = {
      md.update(b, from, until - from)
      md.digest(dig, 0, 16)
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (dig(j) & 0xffL); j += 1 }
      (h >>> 4) % buckets
    }
    k = 0
    while (k < n) { out(k) = bucket(start(k), start(k + 1) - 1); k += 1 }
    k = 0
    while (k < n - 1) { out(n + k) = bucket(start(k), start(k + 2) - 1); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
