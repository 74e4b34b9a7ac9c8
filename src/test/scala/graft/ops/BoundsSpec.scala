package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A5 — LocScaleB bounds: the count-buffer aggregate vs an independent
  * two-pass formulation over Spark's exact `percentile`, the per-group k,
  * the reference's guards, and the one executable reference example
  * (`get_bounds(c(1,2,3,4,5), k=3)`, reference
  * R/validation-functions.R:387).
  */
class BoundsSpec extends SparkTestBase {
  import spark.implicits._

  private def aggBounds(values: Seq[Double], k: Double, logt: Boolean): Row =
    values.toDF("x").agg(Bounds.locscaleb(col("x"), k, logt).as("b"))
      .select("b.*").collect().head

  test("matches the reference example get_bounds(1..5, k=3) formula") {
    val r = aggBounds(Seq(1, 2, 3, 4, 5), 3.0, logt = true)
    val t = Seq(1, 2, 3, 4, 5).map(v => math.log1p(v.toDouble))
    val med = t(2)
    val mad = 1.4826 * (med - t(1)) // median abs deviation = ln4 - ln3
    assert(r.getAs[Long]("n") == 5)
    assert(math.abs(r.getAs[Double]("median") - med) < 1e-12)
    assert(math.abs(r.getAs[Double]("lower_low") - (med - 3 * mad)) < 1e-12)
    assert(math.abs(r.getAs[Double]("upper_up") - (med + 3 * mad)) < 1e-12)
  }

  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  test("single-pass aggregate equals two-pass DataFrame formulation") {
    val rng = new scala.util.Random(7)
    // continuous values plus ties: the count buffer and Spark's exact
    // percentile agree bit for bit
    val data = Seq.tabulate(500)(i =>
      (s"g${i % 3}", if (i % 4 == 0) (i % 7).toDouble else rng.nextDouble() * 100))
    val df = data.toDF("g", "x").repartition(8)
    val viaAgg = Bounds.boundsAgg(df, Seq("g"), "x", lit(2.5), logt = true)
      .collect().map(r => r.getString(0) -> bits(Row.fromSeq(r.toSeq.drop(1)))).toMap
    val viaTwoPass = BoundsTwins.boundsTwoPass(df, Seq("g"), "x", 2.5, logt = true)
      .collect().map(r => r.getString(0) -> bits(Row.fromSeq(r.toSeq.drop(1)))).toMap
    assert(viaAgg.keySet == Set("g0", "g1", "g2"))
    assert(viaAgg == viaTwoPass)
  }

  test("one global skewed group: aggregate equals the percentile reference bit for bit") {
    val rng = new scala.util.Random(11)
    // skewed positive data in one global group — the V2/V3 shape
    val df = Seq.tabulate(2000)(i => ("all", math.exp(rng.nextGaussian()) * 10))
      .toDF("g", "x")
    val agg = df.agg(Bounds.locscaleb(col("x"), 2.5, logt = true).as("b"))
      .select("b.*").collect().head
    val twoPass = BoundsTwins.boundsTwoPass(df, Seq("g"), "x", 2.5, logt = true)
      .drop("g").collect().head
    assert(bits(agg) == bits(twoPass))
  }

  test("stacked global bounds with k applied afterwards are bit-identical to one call per column") {
    val rng = new scala.util.Random(23)
    // a: skewed with nulls; b: tied integers; c: all zero (guarded, null
    // bounds); d: all null (no bounds row on either route)
    val df = Seq.tabulate(600) { i =>
      (if (i % 9 == 0) None else Some(math.exp(rng.nextGaussian()) * 10),
        (i % 13).toDouble, 0.0, Option.empty[Double])
    }.toDF("a", "b", "c", "d")
    val ks = Seq("a" -> 2.5, "b" -> 1.7, "c" -> 3.0, "d" -> 2.0)
    val rows = df.select(explode(array(ks.map { case (c, _) =>
      struct(lit(c).as("column"), col(c).as("x"))
    }: _*)).as("s")).select("s.*")
    val k = ks.foldLeft(lit(null).cast("double")) { case (acc, (c, kc)) =>
      when(col("column") === c, kc).otherwise(acc)
    }
    val stacked = Bounds.boundsAgg(rows, Seq("column"), "x", k, logt = true)
      .collect().map(r => r.getString(0) -> bits(Row.fromSeq(r.toSeq.drop(1)))).toMap
    // k inside the aggregate, one query per column
    val separate = ks.flatMap { case (c, kc) =>
      df.agg(Bounds.locscaleb(col(c), kc, logt = true).as("b"))
        .filter(col("b").isNotNull).select("b.*").collect().map(r => c -> bits(r))
    }.toMap
    assert(stacked == separate)
    assert(stacked.keySet == Set("a", "b", "c"))
    assert(stacked("c").takeRight(2) == Seq(null, null), "guarded column")
  }

  test("guard: all-zero input yields null bounds (reference :34)") {
    val r = aggBounds(Seq(0, 0, 0, 0), 2.5, logt = true)
    assert(r.isNullAt(r.fieldIndex("lower_low")) && r.isNullAt(r.fieldIndex("upper_up")))
  }

  test("guard: zero raw MAD yields null bounds (reference :38)") {
    val r = aggBounds(Seq(5, 5, 5, 5, 100), 2.5, logt = true) // median dev = 0
    assert(r.isNullAt(r.fieldIndex("upper_up")))
  }

  test("bounds widen monotonically in k") {
    val widths = Seq(1.0, 2.0, 3.0).map { k =>
      val r = aggBounds(Seq(1, 3, 4, 7, 11, 2, 9), k, logt = false)
      r.getAs[Double]("upper_up") - r.getAs[Double]("lower_low")
    }
    assert(widths == widths.sorted && widths.distinct.size == 3)
  }

  test("nulls are ignored like na.rm") {
    val withNulls = Seq[java.lang.Double](1.0, null, 2.0, 3.0, null, 4.0, 5.0)
      .toDF("x").agg(Bounds.locscaleb(col("x"), 3.0, logt = true).as("b"))
      .select("b.*").collect().head
    val without = aggBounds(Seq(1, 2, 3, 4, 5), 3.0, logt = true)
    assert(withNulls.getAs[Long]("n") == 5)
    assert(withNulls.getAs[Double]("median") == without.getAs[Double]("median"))
  }
}

/** Independent references [[Bounds]] is checked against. */
object BoundsTwins {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.types.DoubleType

  /** LocScaleB written out over a sorted array of every value (R type-7
    * median, stats::mad, the reference's two guards): (n, median, mad,
    * lower_low, upper_up) on the transformed scale, None when no value is
    * given. */
  def locScaleBSorted(values: Seq[Double], k: Double, logt: Boolean): Option[Row] = {
    def median(v: Array[Double]): Double =
      if (v.length % 2 == 1) v(v.length / 2) else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
    def mad(v: Array[Double]): Double = {
      val m = median(v)
      val dev = v.map(x => math.abs(x - m))
      java.util.Arrays.sort(dev)
      Bounds.MadConstant * median(dev)
    }
    val raw = values.toArray
    java.util.Arrays.sort(raw)
    Option.when(raw.nonEmpty) {
      val x = if (logt) raw.map(math.log1p) else raw.clone()
      java.util.Arrays.sort(x)
      val (m, s) = (median(x), mad(x))
      val guarded = raw.forall(_ == 0.0) || mad(raw) <= 0.0
      Row(raw.length.toLong, m, s, if (guarded) null else m - k * s, if (guarded) null else m + k * s)
    }
  }

  /** A two-pass DataFrame formulation over Spark's exact `percentile`.
    * Pass 1: per-group medians (raw + transformed); pass 2: per-group
    * MADs. One row per group: groupCols ++ (n, median, mad, lower_low,
    * upper_up) on the transformed scale. Spark's percentile interpolates
    * the middle two as `0.5a + 0.5b`, which equals R type-7's
    * `(a + b) / 2` exactly.
    */
  def boundsTwoPass(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    k: Double, logt: Boolean): DataFrame = {
    def med(c: Column): Column = percentile(c, lit(0.5))
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
      .withColumn("__mad_raw", lit(Bounds.MadConstant) * col("__mad0_raw"))
      .withColumn("mad", lit(Bounds.MadConstant) * col("__mad0_t"))
      .withColumn("median", col("__med_t"))
      .withColumn("__guard", col("__any_nonzero") === 0 || col("__mad_raw") <= 0.0)
      .withColumn("lower_low", when(!col("__guard"), col("median") - lit(k) * col("mad")))
      .withColumn("upper_up", when(!col("__guard"), col("median") + lit(k) * col("mad")))
      .select(groupCols.map(col) ++ Seq(col("n"), col("median"), col("mad"),
        col("lower_low"), col("upper_up")): _*)
  }
}
