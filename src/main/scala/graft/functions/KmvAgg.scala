package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import scala.collection.mutable

/** KMV (k-minimum-values / bottom-k) distinct sketch aggregate
  * (Bar-Yossef 2002; Beyer et al. 2007): keeps the k SMALLEST DISTINCT
  * hash values seen, as a sorted array. The sketch that does what HLL
  * cannot: because it retains actual hash SAMPLES (not register
  * maxima), two groups' sketches compose into set-operation estimates —
  * Jaccard, intersection size, union distinct — by comparing bottom-k
  * members under the union's k-th smallest.
  *
  * Scale shape (the [[TopKAgg]] discipline): a TypedImperativeAggregate
  * participating in partial aggregation, so each map task ships AT MOST
  * k longs per group — never the distinct set itself. Deduplication
  * happens inside the buffer (a TreeSet: insert is a no-op on a
  * duplicate), so no global DISTINCT pass precedes the aggregate; the
  * buffer is exactly the production sketch state.
  *
  * Determinism: hashes are md5-derived longs (engine-neutral), the
  * bottom-k of a set is unique, and the output array is ascending — a
  * DuckDB oracle rebuilds the identical array with row_number ≤ k over
  * distinct hashes. The merge is a semilattice (bottomK(A ∪ B) ==
  * bottomK(bottomK(A) ∪ bottomK(B))), so shard → merge ≡ direct —
  * spec-proven, the C26b treatment. */
case class KmvAgg(
    hash: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(hash)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val h = hash.eval(input)
    if (h != null) KmvAgg.insert(buf, h.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: mutable.TreeSet[Long], other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(KmvAgg.insert(buf, _, k))
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray[Long]) // TreeSet iterates ascending

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[Long]
    var j = 0
    while (j < n) { buf += in.readLong(); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(hash = newChildren(0))
  override def prettyName: String = "graft_kmv"
}

object KmvAgg {
  /** Insert `v` into the bottom-`k` set `buf`: the one bottom-k insert,
    * shared with the live KMV fold (`graft.streaming.Streams`). */
  @inline def insert(buf: mutable.TreeSet[Long], v: Long, k: Int): Unit =
    if (buf.size < k) buf += v
    else if (v < buf.last) { buf += v; if (buf.size > k) buf -= buf.last }
    // v >= buf.last with a full buffer can never enter the bottom-k
}
