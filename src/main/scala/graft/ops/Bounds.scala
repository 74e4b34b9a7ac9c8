package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types._

/** A5 — robust location/scale outlier bounds (the pipeline's one genuinely
  * custom aggregate).
  *
  * Ports the formula of `univOutl::LocScaleB(x, logt, k)` (public CRAN
  * package by M. D'Orazio) as used by the reference's `get_bounds`
  * (reference R/validation-functions.R:392-395) and `alert_outlier`
  * (R/validation-functions.R:21-58):
  *
  *   x' = log1p(x)                          (when logt, univOutl behavior)
  *   median = median(x')                    (R type-7: mean of middle two)
  *   mad    = 1.4826 * median(|x' - median(x')|)   (stats::mad default)
  *   bounds = median ± k * mad              (lower.low, upper.up)
  *
  * Guards replicated from `alert_outlier` (R/validation-functions.R:29-40):
  * all-null-or-zero input → null bounds; raw-scale MAD ≤ 0 → null bounds.
  * Back-transforms differ per call site in the reference and are applied by
  * the caller: `exp(b) - 1` (alert_outlier, :51) vs `exp(b)`
  * (get_catch_bounds :191, get_pricekg_bounds :260-263).
  *
  * One implementation, [[LocScaleBAgg]] (SQL `locscaleb`): an exact
  * single-pass `TypedImperativeAggregate` whose buffer is a value → count
  * map, so its memory is the number of distinct values per group (as
  * in Spark's own exact median) and partial aggregation pre-combines
  * counts before the one shuffle. [[boundsAgg]] is its grouped DataFrame
  * form, with a k per group.
  */
object Bounds {

  val MadConstant = 1.4826

  /** The multiset's (value, count) pairs in `java.lang.Double.compare`
    * order — the order `Arrays.sort` gives the values themselves (-0.0
    * before 0.0, NaN last). */
  private def sortedCounts(pairs: Array[(Double, Long)]): Array[(Double, Long)] =
    pairs.sortBy(_._1)(Ordering.Double.TotalOrdering)

  /** R type-7 median of the `n` values of sorted pairs: the middle value,
    * or the mean of the middle two. */
  private def median(sorted: Array[(Double, Long)], n: Long): Double = {
    def at(rank: Long): Double = {
      var i = 0
      var seen = sorted(0)._2
      while (seen <= rank) { i += 1; seen += sorted(i)._2 }
      sorted(i)._1
    }
    if (n % 2 == 1) at(n / 2) else (at(n / 2 - 1) + at(n / 2)) / 2.0
  }

  /** stats::mad: the constant times the exact median of |x - median(x)|. */
  private def madOf(sorted: Array[(Double, Long)], n: Long): Double = {
    val med = median(sorted, n)
    MadConstant * median(sortedCounts(sorted.map { case (x, c) => (math.abs(x - med), c) }), n)
  }

  val outputType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("median", DoubleType),
    StructField("mad", DoubleType),
    StructField("lower_low", DoubleType),
    StructField("upper_up", DoubleType)))

  /** Single-pass exact LocScaleB bounds aggregate over a value → count
    * buffer (keyed by the value's raw bits, so -0.0 and 0.0 stay apart).
    * Null bounds (median/mad still reported) when the reference guards
    * trip: every non-null raw value is 0, or raw MAD ≤ 0.
    */
  case class LocScaleBAgg(
      child: Expression,
      k: Double,
      logt: Boolean,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[Long, Long]]
    with UnaryLike[Expression] {

    override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
      mutable.HashMap.empty[Long, Long]

    private def add(buf: mutable.HashMap[Long, Long], bits: Long, count: Long): Unit =
      buf.update(bits, buf.getOrElse(bits, 0L) + count)

    override def update(buf: mutable.HashMap[Long, Long], input: InternalRow): mutable.HashMap[Long, Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]), 1L)
      buf
    }

    override def merge(b: mutable.HashMap[Long, Long], o: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
      o.foreach { case (bits, count) => add(b, bits, count) }
      b
    }

    override def eval(buf: mutable.HashMap[Long, Long]): Any = {
      if (buf.isEmpty) return null
      val raw = sortedCounts(buf.toArray.map { case (bits, c) => (java.lang.Double.longBitsToDouble(bits), c) })
      val n = raw.iterator.map(_._2).sum
      val x = if (logt) sortedCounts(raw.map { case (v, c) => (math.log1p(v), c) }) else raw
      val med = median(x, n)
      val mad = madOf(x, n)
      val guarded = raw.forall(_._1 == 0.0) || madOf(raw, n) <= 0.0
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        n, med, mad,
        if (guarded) null else med - k * mad,
        if (guarded) null else med + k * mad))
    }

    override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 * buf.size)
      buf.foreach { case (bits, count) => bb.putLong(bits).putLong(count) }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = mutable.HashMap.empty[Long, Long]
      while (bb.remaining() >= 16) buf.update(bb.getLong, bb.getLong)
      buf
    }

    override def dataType: DataType = outputType
    override def nullable: Boolean = true
    override def prettyName: String = "locscaleb"
    override def withNewMutableAggBufferOffset(newOffset: Int): LocScaleBAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): LocScaleBAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): LocScaleBAgg =
      copy(child = newChild)
  }

  /** Column form: `locscaleb($"x", k = 2.5, logt = true)` →
    * struct(n, median, mad, lower_low, upper_up).
    */
  def locscaleb(c: Column, k: Double, logt: Boolean): Column =
    GraftShim.column(
      LocScaleBAgg(GraftShim.expression(c.cast(DoubleType)), k, logt).toAggregateExpression())

  /** Grouped bounds from one [[locscaleb]] aggregation (one shuffle). `k`
    * is a column over the group columns, so one query can carry a
    * different k per group (several columns stacked as rows, say): it is
    * applied afterwards as `median ± k * mad` on the groups whose bounds
    * are not guarded — the arithmetic [[LocScaleBAgg]] itself uses, so the
    * numbers are bit-identical to `locscaleb` at that k (BoundsSpec). A
    * group with no non-null value has no row. Output: groupCols ++ (n,
    * median, mad, lower_low, upper_up).
    */
  def boundsAgg(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Column, logt: Boolean): DataFrame = {
    val (med, mad) = (col("__b.median"), col("__b.mad"))
    val guarded = col("__b.upper_up").isNull
    df.groupBy(groupCols.map(col): _*)
      .agg(locscaleb(col(valueCol), 1.0, logt).as("__b"))
      .filter(col("__b").isNotNull)
      .select(groupCols.map(col) ++ Seq(col("__b.n").as("n"), med.as("median"), mad.as("mad"),
        when(!guarded, med - k * mad).as("lower_low"),
        when(!guarded, med + k * mad).as("upper_up")): _*)
  }
}
