package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A5 — LocScaleB bounds: single-pass aggregate vs two-pass DataFrame
  * equivalence, the reference's guards, and the one executable reference
  * example (`get_bounds(c(1,2,3,4,5), k=3)`,
  * reference R/validation-functions.R:387).
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

  test("single-pass aggregate equals two-pass DataFrame formulation") {
    val rng = new scala.util.Random(7)
    val data = Seq.tabulate(500)(i => (s"g${i % 3}", rng.nextDouble() * 100))
    val df = data.toDF("g", "x")
    val viaAgg = df.groupBy("g").agg(Bounds.locscaleb(col("x"), 2.5, logt = true).as("b"))
      .select(col("g"), col("b.n"), col("b.median"), col("b.mad"),
        col("b.lower_low"), col("b.upper_up"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val viaTwoPass = Bounds.boundsTwoPass(df, Seq("g"), "x", 2.5, logt = true)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(viaAgg.keySet == viaTwoPass.keySet)
    viaAgg.foreach { case (g, a) =>
      val b = viaTwoPass(g)
      a.zip(b).foreach {
        case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-12, s"group $g: $a vs $b")
        case (x, y) => assert(x == y, s"group $g: $a vs $b")
      }
    }
  }

  test("strategy dispatcher: all three routes agree (exact identically, approx closely)") {
    val rng = new scala.util.Random(11)
    // skewed positive data + a global single group — the V2/V3 shape where
    // CollectExact is the scale hazard and TwoPass* is the 100 TB route
    val df = Seq.tabulate(2000)(i => ("all", math.exp(rng.nextGaussian()) * 10))
      .toDF("g", "x")
    def run(s: Bounds.Strategy): Row =
      Bounds.bounds(df, Seq("g"), "x", 2.5, logt = true, s).collect().head
    val exact = run(Bounds.CollectExact)
    val twoPass = run(Bounds.TwoPassExact)
    val approx = run(Bounds.TwoPassApprox(10000))
    Seq("median", "mad", "lower_low", "upper_up").foreach { f =>
      assert(math.abs(exact.getAs[Double](f) - twoPass.getAs[Double](f)) < 1e-12,
        s"$f: exact vs two-pass")
      // sketch returns a data value near the true median — close, not equal
      assert(math.abs(exact.getAs[Double](f) - approx.getAs[Double](f)) < 0.05,
        s"$f: exact vs approx")
    }
  }

  test("TwoPassApprox accuracy contract: <=1% relative deviation at accuracy=10000 on skewed data") {
    // the distributions a 100 TB numeric column actually throws at the
    // sketch: heavy right tail (lognormal), memoryless (exponential),
    // power-law (pareto alpha=1.5), and a bimodal mixture
    val rng = new scala.util.Random(101)
    val n = 20000
    val dists: Seq[(String, Seq[Double])] = Seq(
      "lognormal" -> Seq.fill(n)(math.exp(rng.nextGaussian() * 1.5) * 10),
      "exponential" -> Seq.fill(n)(-math.log(rng.nextDouble()) * 50),
      "pareto" -> Seq.fill(n)(math.pow(rng.nextDouble(), -1.0 / 1.5)),
      "bimodal" -> Seq.fill(n)(
        if (rng.nextBoolean()) rng.nextGaussian() + 5 else rng.nextGaussian() * 3 + 80))
    val df = dists.flatMap { case (g, vs) => vs.map(g -> _) }.toDF("g", "x")
    def collect(s: Bounds.Strategy): Map[String, Row] =
      Bounds.bounds(df, Seq("g"), "x", 2.5, logt = true, s)
        .collect().map(r => r.getString(0) -> r).toMap
    val exact = collect(Bounds.TwoPassExact)
    val approx = collect(Bounds.TwoPassApprox(10000))
    for (g <- dists.map(_._1); f <- Seq("median", "mad", "lower_low", "upper_up")) {
      val e = exact(g).getAs[Double](f)
      val a = approx(g).getAs[Double](f)
      // median and mad: plain relative error. The derived bounds are
      // DIFFERENCES (med ± k·mad) whose magnitude can be near zero, so
      // their yardstick is the bound's own scale k·mad — a 1% deviation
      // there is what a user of the bounds actually experiences (rows
      // near the cutoff flipping), not the inflated |a-e|/|e| of a
      // near-zero difference.
      val scale = f match {
        case "median" | "mad" => math.abs(e)
        case _ => 2.5 * exact(g).getAs[Double]("mad")
      }
      val rel = math.abs(a - e) / math.max(scale, 1e-9)
      assert(rel <= 0.01, f"$g.$f: exact $e%.6f vs approx $a%.6f (rel $rel%.5f)")
    }
    // and the documented failure mode of cranking accuracy DOWN: a coarse
    // sketch (accuracy=10) must still return usable numbers, just worse —
    // quantifies why 10000 is the default, not a magic constant
    val coarse = collect(Bounds.TwoPassApprox(10))
    val coarseRel = dists.map(_._1).map { g =>
      math.abs(coarse(g).getAs[Double]("median") - exact(g).getAs[Double]("median")) /
        math.abs(exact(g).getAs[Double]("median"))
    }.max
    assert(coarseRel <= 0.5, s"coarse sketch unusable: $coarseRel")
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
    def bits(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    }
    for (strategy <- Seq(Bounds.TwoPassExact, Bounds.CollectExact)) {
      val stacked = Bounds.globalBoundsStacked(df,
        ks.map { case (c, k) => (c, col(c), k) }, logt = true, strategy)
        .collect().map(r => r.getString(0) -> bits(Row.fromSeq(r.toSeq.drop(1)))).toMap
      val separate = ks.flatMap { case (c, k) =>
        Bounds.bounds(df.withColumn("__g", lit(1)), Seq("__g"), c, k, logt = true, strategy)
          .drop("__g").collect().map(r => c -> bits(r))
      }.toMap
      assert(stacked == separate, s"$strategy")
      assert(stacked.keySet == Set("a", "b", "c"), s"$strategy")
      assert(stacked("c").takeRight(2) == Seq(null, null), s"$strategy: guarded column")
    }
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
