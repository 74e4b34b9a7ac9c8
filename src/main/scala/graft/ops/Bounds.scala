package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
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
  * Two implementations with identical exact results:
  *   - [[locscaleb]]: single-pass `TypedImperativeAggregate` collecting the
  *     group's values (exact median; groups are small in this domain — the
  *     buffer is object-held per partition and serialized only across the
  *     shuffle, so cost is one shuffle of the raw values).
  *   - [[boundsTwoPass]]: pure DataFrame two-shuffle formulation using
  *     exact `percentile` — the 100 TB path when group cardinality is huge
  *     but per-group data still needs exact medians; swap `percentile` for
  *     `percentile_approx` when approximate bounds are acceptable.
  */
object Bounds {

  val MadConstant = 1.4826

  /** How to compute the per-group bounds — the 100 TB decision.
    *
    *   - [[CollectExact]]: single-pass [[LocScaleBAgg]]. One shuffle, but
    *     the aggregation buffer holds every value of the group: right for
    *     the validators' small per-taxon groups, WRONG for a global group
    *     over a 100 TB column (the buffer would be the whole column on one
    *     reducer).
    *   - [[TwoPassExact]]: [[boundsTwoPass]] with exact `percentile`. Two
    *     shuffles; memory bounded by the distinct-value count per group
    *     (Spark's Percentile keeps a value→count map). The default for
    *     global / low-cardinality groupings — exact same numbers as
    *     CollectExact (property-tested), so oracle parity is preserved.
    *   - [[TwoPassApprox]]: [[boundsTwoPass]] with `percentile_approx`
    *     (bounded-memory Greenwald–Khanna sketch). The true planet-scale
    *     path for continuous-valued global columns; numbers are
    *     approximate (the sketch returns an actual data value with rank
    *     within n/accuracy of the true median, not the midpoint interp),
    *     so it is opt-in, never silently substituted where exactness is
    *     gated. ACCURACY CONTRACT (BoundsSpec-gated): at the default
    *     accuracy=10000, median and mad deviate from TwoPassExact by ≤1%
    *     relative error, and lower_low/upper_up by ≤1% of the bound scale
    *     k·mad (bounds are differences med ± k·mad, so near-zero bound
    *     values make |Δ|/|bound| meaningless — the k·mad yardstick is
    *     what moves rows across the cutoff), on lognormal/exponential/
    *     pareto/bimodal synthetic columns (n=20k per group, k=2.5, logt).
    *     Deviation scales ~1/accuracy and memory ~accuracy·log(n), so
    *     raise accuracy before trusting tighter-than-1% reads.
    */
  sealed trait Strategy
  case object CollectExact extends Strategy
  case object TwoPassExact extends Strategy
  final case class TwoPassApprox(accuracy: Int = 10000) extends Strategy

  /** Strategy dispatcher — same output schema and (for the exact
    * strategies) identical numbers regardless of route.
    */
  def bounds(df: DataFrame, groupCols: Seq[String], valueCol: String,
             k: Double, logt: Boolean, strategy: Strategy): DataFrame = strategy match {
    case CollectExact => boundsAgg(df, groupCols, valueCol, k, logt)
    case TwoPassExact => boundsTwoPass(df, groupCols, valueCol, k, logt)
    case TwoPassApprox(acc) => boundsTwoPass(df, groupCols, valueCol, k, logt, Some(acc))
  }

  /** Global (one-group) bounds of several columns in one query: each
    * `(name, value, k)` is stacked as (`column`, value) rows grouped by
    * `column`, so the strategy runs one aggregation pipeline for all of
    * them rather than one per column. Each column's `k` is applied
    * afterwards as `median ± k * mad` on the rows whose bounds are not
    * guarded — the arithmetic [[bounds]] itself uses, so the numbers are
    * bit-identical to one [[bounds]] call per column (BoundsSpec). A
    * column with no non-null value has no row. Output: `column`, n,
    * median, mad, lower_low, upper_up.
    */
  def globalBoundsStacked(df: DataFrame, columns: Seq[(String, Column, Double)],
                          logt: Boolean, strategy: Strategy): DataFrame = {
    val stacked = df
      .select(explode(array(columns.map { case (name, value, _) =>
        struct(lit(name).as("column"), value.cast(DoubleType).as("x"))
      }: _*)).as("__s"))
      .select(col("__s.column").as("column"), col("__s.x").as("__x"))
    val k = columns.foldLeft(lit(null).cast(DoubleType)) { case (acc, (name, _, kc)) =>
      when(col("column") === name, lit(kc)).otherwise(acc)
    }
    val guarded = col("upper_up").isNull
    bounds(stacked, Seq("column"), "__x", 1.0, logt, strategy)
      .select(col("column"), col("n"), col("median"), col("mad"),
        when(!guarded, col("median") - k * col("mad")).as("lower_low"),
        when(!guarded, col("median") + k * col("mad")).as("upper_up"))
  }

  private def medianSorted(v: Array[Double]): Double = {
    val n = v.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) v(n / 2)
    else (v(n / 2 - 1) + v(n / 2)) / 2.0
  }

  /** Exact median of |x - med| (computed on a fresh sorted copy). */
  private def madOf(v: Array[Double]): Double = {
    val med = medianSorted(v)
    val dev = v.map(x => math.abs(x - med))
    java.util.Arrays.sort(dev)
    MadConstant * medianSorted(dev)
  }

  val outputType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("median", DoubleType),
    StructField("mad", DoubleType),
    StructField("lower_low", DoubleType),
    StructField("upper_up", DoubleType)))

  /** Single-pass exact LocScaleB bounds aggregate.
    * Null bounds (median/mad still reported) when the reference guards
    * trip: every non-null raw value is 0, or raw MAD ≤ 0.
    */
  case class LocScaleBAgg(
      child: Expression,
      k: Double,
      logt: Boolean,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.ArrayBuffer[Double]]
    with UnaryLike[Expression] {

    override def createAggregationBuffer(): mutable.ArrayBuffer[Double] =
      mutable.ArrayBuffer.empty[Double]

    override def update(buf: mutable.ArrayBuffer[Double], input: InternalRow): mutable.ArrayBuffer[Double] = {
      val v = child.eval(input)
      if (v != null) buf += v.asInstanceOf[Double]
      buf
    }

    override def merge(b: mutable.ArrayBuffer[Double], o: mutable.ArrayBuffer[Double]): mutable.ArrayBuffer[Double] = {
      b ++= o; b
    }

    override def eval(buf: mutable.ArrayBuffer[Double]): Any = {
      val raw = buf.toArray
      if (raw.isEmpty) return null
      java.util.Arrays.sort(raw)
      val allNaOrZero = raw.forall(_ == 0.0)
      val rawMad = madOf(raw)
      val x = if (logt) raw.map(v => math.log1p(v)) else raw
      if (logt) java.util.Arrays.sort(x)
      val med = medianSorted(x)
      val mad = madOf(x)
      val guarded = allNaOrZero || rawMad <= 0.0
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        raw.length.toLong, med, mad,
        if (guarded) null else med - k * mad,
        if (guarded) null else med + k * mad))
    }

    override def serialize(buf: mutable.ArrayBuffer[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      buf.foreach(bb.putDouble)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Double] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = mutable.ArrayBuffer.empty[Double]
      while (bb.remaining() >= 8) buf += bb.getDouble
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

  /** Grouped bounds via the single-pass aggregate — one shuffle, no
    * self-joins; same output shape and exact same numbers as
    * [[boundsTwoPass]] (property-tested). Default for the validators,
    * where per-group cardinality is modest (the buffer holds the group's
    * values); switch to [[boundsTwoPass]] when single groups are huge.
    */
  def boundsAgg(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Double, logt: Boolean): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(locscaleb(col(valueCol), k, logt).as("__b"))
      .filter(col("__b").isNotNull)
      .select(groupCols.map(col) ++ Seq(
        col("__b.n").as("n"), col("__b.median").as("median"),
        col("__b.mad").as("mad"), col("__b.lower_low").as("lower_low"),
        col("__b.upper_up").as("upper_up")): _*)

  /** Two-pass DataFrame formulation; exact same numbers as [[locscaleb]]
    * when `approxAccuracy` is empty. Pass 1: per-group medians (raw +
    * transformed); pass 2: per-group MADs. Emits one row per group:
    * groupCols ++ (n, median, mad, lower_low, upper_up) on the transformed
    * scale. With `approxAccuracy = Some(a)` medians come from
    * `percentile_approx` — bounded memory per group, the planet-scale path.
    */
  def boundsTwoPass(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    k: Double, logt: Boolean,
                    approxAccuracy: Option[Int] = None): DataFrame = {
    def med(c: Column): Column = approxAccuracy match {
      case Some(acc) => percentile_approx(c, lit(0.5), lit(acc))
      case None => percentile(c, lit(0.5))
    }
    val vRaw = col(valueCol).cast(DoubleType)
    val vT = if (logt) log1p(vRaw) else vRaw
    val base = df.select(groupCols.map(col) :+ vRaw.as("__raw") :+ vT.as("__t"): _*)
      .filter(col("__raw").isNotNull)
    val meds = base.groupBy(groupCols.map(col): _*).agg(
      med(col("__raw")).as("__med_raw"),
      med(col("__t")).as("__med_t"),
      count(lit(1)).as("n"),
      max(when(col("__raw") =!= 0.0, lit(1)).otherwise(lit(0))).as("__any_nonzero"))
    val mads = base.join(meds, groupCols)
      .groupBy(groupCols.map(col): _*).agg(
        med(abs(col("__raw") - col("__med_raw"))).as("__mad0_raw"),
        med(abs(col("__t") - col("__med_t"))).as("__mad0_t"))
    meds.join(mads, groupCols)
      .withColumn("__mad_raw", lit(MadConstant) * col("__mad0_raw"))
      .withColumn("mad", lit(MadConstant) * col("__mad0_t"))
      .withColumn("median", col("__med_t"))
      .withColumn("__guard", col("__any_nonzero") === 0 || col("__mad_raw") <= 0.0)
      .withColumn("lower_low", when(!col("__guard"), col("median") - lit(k) * col("mad")))
      .withColumn("upper_up", when(!col("__guard"), col("median") + lit(k) * col("mad")))
      .select(groupCols.map(col) ++ Seq(col("n"), col("median"), col("mad"),
        col("lower_low"), col("upper_up")): _*)
  }
}
