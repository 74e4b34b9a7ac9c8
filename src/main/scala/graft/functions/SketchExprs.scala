package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Sketch-probe expressions: evaluate a pre-built probabilistic filter
  * against a column, one virtual call per row (CodegenFallback — the
  * probe itself is a handful of hash/bit ops in library code).
  */
object SketchExprs {

  /** Membership probe of a broadcast [[BloomFilter]] against a STRING
    * column: false is definitive (the filter has no false negatives),
    * true means "possibly present" at the filter's fpp. The expression
    * carries only the broadcast HANDLE; the filter object is
    * fetched/deserialized once per executor by the broadcast machinery
    * (BloomFilterImpl is Serializable) and shared by every task on it
    * (docs/REUSE_TWIN_ATTRIBUTION.md finding 4). Size the filter for its
    * history (~1.2 GB per 10⁹ items at 1% fpp) and persist it across
    * ingestion batches rather than rebuilding.
    *
    * For callers that mutate the filter (the streaming sink's
    * mergeInPlace): in local mode a broadcast can hand back the caller's
    * own object, so mutate only after the probing frame is materialized
    * (both existing callers already checkpoint before merging).
    */
  case class BloomMightContainBroadcast(
      child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[BloomFilter])
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_might_contain_bc"

    override def nullSafeEval(input: Any): Any =
      java.lang.Boolean.valueOf(bc.value.mightContainString(input.toString))

    override protected def withNewChildInternal(newChild: Expression): BloomMightContainBroadcast =
      copy(child = newChild)
  }

  def bloomMightContainBc(
      c: Column,
      bc: org.apache.spark.broadcast.Broadcast[BloomFilter]): Column =
    GraftShim.column(BloomMightContainBroadcast(GraftShim.expression(c), bc))

  /** KMV hash: the top 60 bits of md5, i.e. exactly the engine-portable
    * `('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT` every md5-prefix oracle in
    * this codebase uses (and [[TextExprs.winnowEval]]'s `v >>> 4`) — so a
    * DuckDB oracle can rebuild the identical sketch hash-for-hash.
    */
  def kmvHash(s: UTF8String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** K-minimum-values distinct sketch as a single-pass aggregate: the k
    * smallest DISTINCT [[kmvHash]] values of the group. The buffer is a
    * capped TreeSet, so the partial (map-side) aggregate already holds at
    * most k longs — the shuffle carries ≤ k·8 bytes per group per input
    * partition no matter how the corpus duplicates (the property a
    * window-rank formulation can't give: WindowGroupLimit keeps every
    * co-partition DUPLICATE of the k smallest keys, Θ(corpus) on a
    * one-key corpus).
    *
    * Why KMV next to HLL: same mergeable-frame scale shape, but the
    * sketch is a real SAMPLE of the key space — two groups' sketches
    * compose into union/intersection/Jaccard estimates
    * ([[graft.ops.Corpus.kmvOverlapReport]]), which registers-only HLL
    * cannot do without inclusion-exclusion error stacking. And the whole
    * pipeline is DETERMINISTIC integer arithmetic + one final division —
    * oracle-able to exact equality, where HLL needs its harmonic-sum
    * discipline. Estimator (Bar-Yossef et al., RANDOM'02; Beyer et al.
    * SIGMOD'07 unbiased form): with u_k = h_k / 2⁶⁰ the k-th smallest
    * normalized hash, distinct ≈ (k−1)/u_k; fewer than k hashes seen
    * means the sketch IS the distinct set and the count is exact.
    *
    * Evaluates to the sorted ascending long array (≤ k elements).
    */
  case class KmvAgg(
      child: Expression,
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]]
    with UnaryLike[Expression] {

    require(k >= 2, s"kmv k=$k must be >= 2")

    override def createAggregationBuffer(): mutable.TreeSet[Long] =
      mutable.TreeSet.empty[Long]

    private def add(buf: mutable.TreeSet[Long], h: Long): Unit = {
      if (buf.size < k) buf += h
      else if (h < buf.last) { buf += h; if (buf.size > k) buf -= buf.last }
    }

    override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, kmvHash(v.asInstanceOf[UTF8String]))
      buf
    }

    override def merge(b: mutable.TreeSet[Long], o: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
      o.foreach(add(b, _))
      b
    }

    override def eval(buf: mutable.TreeSet[Long]): Any =
      new GenericArrayData(buf.toArray)

    override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.size)
      buf.foreach(bb.putLong)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = mutable.TreeSet.empty[Long]
      while (bb.remaining() >= 8) buf += bb.getLong
      buf
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "kmv_sketch"
    override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): KmvAgg =
      copy(child = newChild)
  }

  /** Column form: `kmvSketch($"key", 64)` → sorted array of ≤ 64 longs. */
  def kmvSketch(c: Column, k: Int): Column =
    GraftShim.column(
      KmvAgg(GraftShim.expression(c.cast(StringType)), k).toAggregateExpression())
}
