package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Restructure

/** End-to-end pipeline fixtures (SURVEY.md §5, FIXTURES.md A1-A4): nested
  * Kobo submissions → ingest → preprocess → validate → merge → export.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def jsonDf(rows: String*): DataFrame =
    spark.read.json(rows.toDS)

  // FIXTURES.md A1 shape: newer vocabulary (group_vessel_data/group_catch)
  private val newFormJson = Seq(
    """{"_id": 101, "today": "2024-03-12", "landing_date": "2024-03-11",
       "group_location/sample_district": "Mangochi",
       "group_location/landing_beach": "Msaka",
       "group_location/gps_location": "-14.0421 34.8801 471.2 4.9",
       "fishing_today": "yes", "n_vessels": "12",
       "group_vessel_data": [
         {"group_vessel_data/group_vessel/vessel_type": "B+E",
          "group_vessel_data/group_vessel/crew_number": "3",
          "group_vessel_data/group_vessel/imei_number": "869606024123456",
          "group_vessel_data/group_gear/gear_type": "Gillnet",
          "group_vessel_data/group_gillnets": [
            {"gillnet_mesh_mm": "38", "gillnet_length_m": "90", "net_type": "multifilament"}],
          "group_vessel_data/group_catch": [
            {"fish_species": "Usipa", "weight": "24.5", "weight_type": "kg",
             "value_species": "30000", "value_type": "total", "catch_use": "sale"},
            {"fish_species": "Chambo", "weight": "3.0", "weight_type": "kg",
             "value_species": "4500", "value_type": "per_kg", "catch_use": "home"}]},
         {"group_vessel_data/group_vessel/vessel_type": "Dugout Canoe",
          "group_vessel_data/group_vessel/crew_number": "1",
          "group_vessel_data/group_gear/gear_type": "other gear",
          "group_vessel_data/group_catch": []}
       ]}""",
    """{"_id": 102, "today": "2024-03-12", "fishing_today": "no"}""")

  // legacy vocabulary: vessels / fish_repeat (R/ingestion.R:146-152,173-177)
  private val legacyFormJson = Seq(
    """{"_id": 201, "today": "2023-05-02", "date_of_landing": "2023-05-01",
       "group_location/sample_district": "Nkhotakota",
       "vessels": [
         {"vessel_type": "B-E", "crew_number": "2",
          "fish_repeat": [
            {"fish_species": "Kampango", "weight_kg": "7.5", "weight_type": "kg",
             "value_species": "1200", "value_type": "total", "catch_use": "sale"}]}
       ]}""")

  private lazy val ingested: DataFrame = Ingest(Seq(
    "FieldDataApp-2024" -> jsonDf(newFormJson: _*),
    "Malawi SSF" -> jsonDf(legacyFormJson: _*)))

  test("ingest denormalizes to one row per (vessel, catch) with placeholder") {
    val rows = ingested.select("form_name", "submission_id", "vessel_number",
      "catch_number", "fish_species")
      .orderBy("submission_id", "vessel_number", "catch_number")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
    assert(rows.toSeq == Seq(
      ("FieldDataApp-2024", 101L, Some(1), Some(1), Some("Usipa")),
      ("FieldDataApp-2024", 101L, Some(1), Some(2), Some("Chambo")),
      ("FieldDataApp-2024", 101L, Some(2), None, None), // vessel with no catches
      ("FieldDataApp-2024", 102L, None, None, None),    // survey-only submission
      ("Malawi SSF", 201L, Some(1), Some(1), Some("Kampango"))))
  }

  test("ingest tags nested gillnets with 1-based gillnet_number") {
    val g = ingested.filter(col("submission_id") === 101 && col("vessel_number") === 1)
      .select(explode(col("gillnets")).as("g")).select("g.*").collect()
    assert(g.length == 2) // replicated across the two catch rows
    assert(g.head.getAs[String]("gillnet_number") == "1")
    assert(g.head.getAs[String]("gillnet_mesh_mm") == "38")
  }

  private lazy val preprocessed: DataFrame =
    Preprocess(ingested)

  test("preprocess: survey_id renders missing indices as NA like R paste") {
    val ids = preprocessed.select("survey_id").collect().map(_.getString(0)).sorted
    assert(ids.contains("101-1-1") && ids.contains("101-2-NA") && ids.contains("102-NA-NA"))
  }

  test("preprocess: harmonization, GPS split, casts, price_kg, recodes") {
    val r = preprocessed.filter(col("survey_id") === "101-1-1").collect().head
    assert(r.getAs[Double]("lat") == -14.0421 && r.getAs[Double]("lon") == 34.8801)
    assert(r.getAs[String]("vessel_type") == "motorised boat") // recode B+E
    assert(r.getAs[Double]("catch_kg") == 24.5)
    assert(math.abs(r.getAs[Double]("price_kg") - 30000.0 / 24.5) < 1e-9) // total → divide
    assert(r.getAs[String]("catch_taxon") == "usipa") // lowered
    val perKg = preprocessed.filter(col("survey_id") === "101-1-2").collect().head
    assert(perKg.getAs[Double]("price_kg") == 4500.0) // per_kg passes through
    val legacy = preprocessed.filter(col("survey_id") === "201-1-1").collect().head
    assert(legacy.getAs[java.sql.Timestamp]("landing_date").toString.startsWith("2023-05-01"))
    assert(legacy.getAs[String]("vessel_type") == "unmotorised boat") // recode B-E
    val noCatch = preprocessed.filter(col("survey_id") === "101-2-NA").collect().head
    assert(noCatch.getAs[String]("gear") == "other_gear") // recode
  }

  test("preprocess: gillnets become typed nested structs") {
    val g = preprocessed.filter(col("survey_id") === "101-1-1")
      .select(explode(col("gillnets")).as("g")).select("g.*").collect().head
    assert(g.getAs[Double]("gillnet_mesh_mm") == 38.0)
    assert(g.getAs[Double]("gillnet_length_m") == 90.0)
    assert(g.getAs[Double]("gillnet_number") == 1.0)
    assert(g.getAs[String]("net_type") == "multifilament")
  }

  test("preprocess: fused gear-effort assembly equals the faithful join chain") {
    val raw = Restructure.conformTo(Preprocess.stripPrefixes(ingested), Schemas.rawLandings)
    val core = Preprocess.coreData(raw)
    val a = Preprocess.gearEffortFused(core).orderBy("survey_id").collect().map(_.toSeq)
    val b = Preprocess.gearEffortJoined(core).orderBy("survey_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("preprocess: a zero-weight total price gives R's x/0, and validate masks it") {
    // ten ordinary usipa catches (price_kg 1000..1450, so the price bounds
    // bind), then 5000 over 0 kg (R: Inf) and 0 over 0 kg (R: NaN, is.na)
    val catches = (1 to 10).map(i =>
      s"""{"fish_species": "Usipa", "weight": "$i", "weight_type": "kg",
          "value_species": "${i * (1000 + 50 * (i - 1))}", "value_type": "total"}""") ++ Seq(
      """{"fish_species": "Usipa", "weight": "0", "value_species": "5000", "value_type": "total"}""",
      """{"fish_species": "Usipa", "weight": "0", "value_species": "0", "value_type": "total"}""")
    val raw = Ingest(Seq("FieldDataApp-2024" -> jsonDf(
      s"""{"_id": 301, "today": "2024-03-12", "landing_date": "2024-03-11",
         "group_vessel_data": [
           {"group_vessel_data/group_vessel/crew_number": "3",
            "group_vessel_data/group_catch": [${catches.mkString(",")}]}]}""")))
    val pre = Preprocess(raw)
    val priceKg = pre.select("survey_id", "price_kg").collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(priceKg.size == 12) // the stage completes: no DIVIDE_BY_ZERO
    assert(priceKg("301-1-1").contains(1000.0) && priceKg("301-1-10").contains(1450.0))
    assert(priceKg("301-1-11").contains(Double.PositiveInfinity))
    assert(priceKg("301-1-12").isEmpty) // null, not NaN: NaN would sort above every bound
    val res = Validate.fused(pre)
    val flags = res.alertFlags.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(flags("301-1-11") == "4" && flags("301-1-12") == "")
    assert((1 to 10).forall(i => flags(s"301-1-$i") == ""))
    val masked = res.validated.filter(col("survey_id") === "301-1-11").collect().head
    assert(Seq("price_kg", "catch_kg", "catch_price").forall(c => masked.isNullAt(masked.fieldIndex(c))))
  }

  test("validate: date cutoff, negative counts, alert unite") {
    val data = Seq(
      ("f", "s1", "2019-06-01", 3.0, 2.0, "usipa", 10.0, 100.0, 10.0),
      ("f", "s2", "2024-06-01", -1.0, 2.0, "usipa", 11.0, 110.0, 10.0),
      ("f", "s3", "2024-06-02", 3.0, 2.0, "usipa", 12.0, 120.0, 10.0),
      ("f", "s4", "2024-06-03", 4.0, 2.0, "usipa", 13.0, 130.0, 10.0))
      .toDF("form_name", "survey_id", "landing_date", "n_fishers", "n_boats",
        "catch_taxon", "catch_kg", "catch_price", "price_kg")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
    val res = Validate(data)
    val flags = res.alertFlags.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(flags("s1") == "1")  // pre-cutoff date
    assert(flags("s2") == "2")  // negative n_fishers
    assert(flags("s3") == "")   // clean
    val validated = res.validated.filter(col("survey_id") === "s2").collect().head
    assert(validated.isNullAt(validated.fieldIndex("n_fishers"))) // masked
  }

  test("validate: fused single-projection form equals the faithful join chain") {
    // alert variety: old date, negative counts, global outliers, price
    // outliers, excluded taxa, nulls — plus enough clean bulk that the
    // LocScaleB MAD is positive and bounds bind
    val rng = new scala.util.Random(23)
    val bulk = Seq.tabulate(300)(i =>
      ("f", s"b$i", "2024-06-01", 2.0 + rng.nextInt(4), 1.0 + rng.nextInt(3),
        if (i % 3 == 0) "usipa" else "chambo",
        8.0 + rng.nextDouble() * 8, 90.0 + rng.nextDouble() * 60,
        9.0 + rng.nextDouble() * 3))
    val edge = Seq(
      ("f", "e1", "2019-06-01", 3.0, 2.0, "usipa", 10.0, 100.0, 10.0),   // old date
      ("f", "e2", "2024-06-01", -1.0, 2.0, "usipa", 11.0, 110.0, 10.0),  // neg fishers
      ("f", "e3", "2024-06-01", 3.0, -2.0, "chambo", 11.0, 110.0, 10.0), // neg boats
      ("f", "e4", "2024-06-01", 900.0, 2.0, "usipa", 11.0, 110.0, 10.0), // fishers outlier
      ("f", "e5", "2024-06-01", 3.0, 700.0, "usipa", 11.0, 110.0, 10.0), // boats outlier
      ("f", "e6", "2024-06-01", 3.0, 2.0, "chambo", 11.0, 110.0, 9000.0), // price outlier
      ("f", "e7", "2024-06-01", 3.0, 2.0, "no_catch", 0.0, 0.0, 0.0),    // excluded taxon
      ("f", "e8", "2024-06-01", 3.0, 2.0, "0", 1.0, 1.0, 1.0))           // excluded taxon
    val data = (bulk ++ edge)
      .toDF("form_name", "survey_id", "landing_date", "n_fishers", "n_boats",
        "catch_taxon", "catch_kg", "catch_price", "price_kg")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
      .withColumn("n_fishers", when(col("survey_id") === "b7", lit(null)).otherwise(col("n_fishers")))
    val faithful = Validate(data)
    val fused = Validate.fused(data)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("survey_id").collect().map(_.toSeq).toSeq
    assert(fused.validated.columns.toSeq == faithful.validated.columns.toSeq)
    assert(rows(fused.validated) == rows(faithful.validated))
    assert(rows(fused.alertFlags) == rows(faithful.alertFlags))
    // the edges actually alerted (not vacuous)
    val flags = fused.alertFlags.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(flags("e1") == "1" && flags("e2") == "2" && flags("e3") == "3")
    assert(flags("e4") == "2" && flags("e5") == "3" && flags("e6") == "4")
    assert(flags("e7") == "" && flags("e8") == "")
  }

  test("validate: fused keeps all rows when a column is entirely negative/null (degenerate bounds)") {
    // every n_fishers negative and every n_boats null → both global bounds
    // frames are 0 rows; fused must behave like apply() (keep all rows,
    // null bounds, only the negative-mask alerts fire), not drop the dataset
    val data = Seq(
      ("f", "d1", "2024-06-01", -3.0, null.asInstanceOf[java.lang.Double], "usipa", 10.0, 100.0, 10.0),
      ("f", "d2", "2024-06-02", -1.0, null.asInstanceOf[java.lang.Double], "usipa", 12.0, 110.0, 9.2),
      ("f", "d3", "2024-06-03", -7.0, null.asInstanceOf[java.lang.Double], "chambo", 8.0, 90.0, 11.3))
      .toDF("form_name", "survey_id", "landing_date", "n_fishers", "n_boats",
        "catch_taxon", "catch_kg", "catch_price", "price_kg")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
    val faithful = Validate(data)
    val fused = Validate.fused(data)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("survey_id").collect().map(_.toSeq).toSeq
    assert(fused.validated.count() == 3) // the old cross-join form returned 0
    assert(rows(fused.validated) == rows(faithful.validated))
    assert(rows(fused.alertFlags) == rows(faithful.alertFlags))
    val flags = fused.alertFlags.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(flags("d1") == "2" && flags("d2") == "2" && flags("d3") == "2") // negative-mask alerts still fire
  }

  test("validate: fused plan has no sort-merge join and only aggregation exchanges") {
    val data = Seq(
      ("f", "s1", "2024-06-01", 3.0, 2.0, "usipa", 10.0, 100.0, 10.0))
      .toDF("form_name", "survey_id", "landing_date", "n_fishers", "n_boats",
        "catch_taxon", "catch_kg", "catch_price", "price_kg")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
    val fusedPlan = Validate.fused(data).validated.queryExecution.executedPlan.toString
    // the wide frame is never re-partitioned: bounds attach via broadcast,
    // masks are projections — the only exchanges feed the tiny bounds aggs
    assert(!fusedPlan.contains("SortMergeJoin"), s"fused plan should not SMJ:\n$fusedPlan")
    assert(!fusedPlan.contains("ShuffledHashJoin"), s"fused plan should not shuffle-join:\n$fusedPlan")
    // and it strictly reduces the join count vs the faithful chain (which
    // at scale plans those joins as wide SMJs — at this fixture size AQE
    // broadcasts them, so compare counts, not join algorithms)
    val faithfulPlan = Validate(data).validated.queryExecution.executedPlan.toString
    def joins(p: String) = "Join".r.findAllIn(p).size
    assert(joins(fusedPlan) < joins(faithfulPlan),
      s"fused=${joins(fusedPlan)} faithful=${joins(faithfulPlan)}")
  }

  test("validate: validateCatch masks catch_kg at or above exp(b) with alert 4; 0/no_catch rows are never alerted") {
    // reference get_catch_bounds/validate_catch (:183-233): LocScaleB on
    // log1p(catch_kg) per (gear, catch_taxon, weight_type), upper bound
    // back-transformed exp(b) with no -1
    def upper(xs: Seq[Double]): Double = {
      def median(v: Seq[Double]) = {
        val s = v.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val t = xs.map(math.log1p)
      val m = median(t)
      math.exp(m + 2.5 * 1.4826 * median(t.map(x => math.abs(x - m))))
    }
    val bulk = (10 to 19).map(_.toDouble)
    // two rows above the bulk cannot move its median or MAD, so the bound
    // is known before they are planted: `below` sits in [exp(b)-1, exp(b))
    val ub = upper(bulk ++ Seq(1e6, 1e6))
    val (below, above) = (ub - 0.5, ub + 0.5)
    assert(upper(bulk ++ Seq(below, above)) == ub)
    val rows = bulk.indices.map(i => (s"b$i", "usipa", bulk(i))) ++
      Seq(("below", "usipa", below), ("above", "usipa", above)) ++
      (bulk :+ 1e6).indices.flatMap(i =>
        Seq((s"z$i", "0", (bulk :+ 1e6)(i)), (s"n$i", "no_catch", (bulk :+ 1e6)(i))))
    val data = rows.toDF("survey_id", "catch_taxon", "catch_kg")
      .select(lit("f").as("form_name"), col("survey_id"), lit("gillnet").as("gear"),
        col("catch_taxon"), lit("kg").as("weight_type"), col("catch_kg"))
    val out = Validate.validateCatch(data, 2.5).collect()
      .map(r => r.getAs[String]("survey_id") -> r).toMap
    def alert(id: String) = Option(out(id).getAs[java.lang.Double]("alert_catch")).map(_.doubleValue)
    def kg(id: String) = Option(out(id).getAs[java.lang.Double]("catch_kg")).map(_.doubleValue)
    assert(out.size == rows.size) // every row is emitted, ineligible ones too
    assert(alert("below").isEmpty && kg("below").contains(below))
    assert(alert("above").contains(4.0) && kg("above").isEmpty)
    assert(bulk.indices.forall(i => alert(s"b$i").isEmpty))
    // excluded from the bounds: even 1e6 keeps its value and no alert
    assert(rows.map(_._1).filter(id => id.startsWith("z") || id.startsWith("n"))
      .forall(id => alert(id).isEmpty && kg(id).isDefined))
    assert(kg(s"z${bulk.size}").contains(1e6) && kg(s"n${bulk.size}").contains(1e6))
  }

  test("validate: planted bounds — counts alert strictly above exp(b)-1 and mask negatives; price alerts at exp(b) on both sides; fused and standalone agree") {
    // LocScaleB on log1p(x) as the stage computes it: odd counts, so each
    // median is one element, and StrictMath like Spark's log1p/exp
    def locscaleb(xs: Seq[Double], k: Double): (Double, Double) = {
      def median(v: Seq[Double]) = {
        val s = v.sorted
        assert(s.size % 2 == 1)
        s(s.size / 2)
      }
      val t = xs.map(StrictMath.log1p)
      val m = median(t)
      val mad = 1.4826 * median(t.map(x => math.abs(x - m)))
      (m - k * mad, m + k * mad)
    }
    val n = 21
    val fishers = (0 until n).map(10.0 + _)
    val boats = (0 until n).map(5.0 + _ * 0.5)
    val prices = (0 until n).map(100.0 + 2.0 * _)
    // the plants lie beyond the whole bulk, in value and in distance from
    // the median, so they move neither median nor MAD: each bound is known
    // before they are planted (asserted below with the plants in place)
    def countUpper(xs: Seq[Double]) = StrictMath.exp(locscaleb(xs, 2.5)._2) - 1
    def priceBounds(xs: Seq[Double]) = {
      val (l, u) = locscaleb(xs, 3.0)
      (StrictMath.exp(l), StrictMath.exp(u))
    }
    val ubF = countUpper(fishers ++ Seq(1e6, 1e6))
    val ubB = countUpper(boats ++ Seq(1e6, 1e6))
    val (lbP, ubP) = priceBounds(prices ++ Seq(1.0, 1.0, 1e6, 1e6))
    assert(countUpper(fishers ++ Seq(ubF, ubF + 0.5)) == ubF)
    assert(countUpper(boats ++ Seq(ubB, ubB + 0.5)) == ubB)
    assert(priceBounds(prices ++ Seq(lbP, lbP + 0.5, ubP - 0.5, ubP)) == (lbP, ubP))

    val rows = fishers.indices.map(i => (s"b$i", Option(fishers(i)), Option(boats(i)), Option(prices(i)))) ++ Seq(
      ("nf_at", Some(ubF), None, None), ("nf_above", Some(ubF + 0.5), None, None),
      ("nf_neg", Some(-1.0), None, None),
      ("nb_at", None, Some(ubB), None), ("nb_above", None, Some(ubB + 0.5), None),
      ("nb_neg", None, Some(-2.0), None),
      ("p_lb", None, None, Some(lbP)), ("p_above_lb", None, None, Some(lbP + 0.5)),
      ("p_below_ub", None, None, Some(ubP - 0.5)), ("p_ub", None, None, Some(ubP)))
    val data = rows.toDF("survey_id", "n_fishers", "n_boats", "price_kg")
      .select(lit("f").as("form_name"), col("survey_id"),
        to_timestamp(lit("2024-06-01")).as("landing_date"), col("n_fishers"), col("n_boats"),
        lit("usipa").as("catch_taxon"), lit(1.0).as("catch_kg"),
        col("price_kg").as("catch_price"), col("price_kg"))
    def read(df: DataFrame, c: String): Map[String, Option[Double]] =
      df.select(col("survey_id"), col(c)).collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap

    val fused = Validate.fused(data)
    val flags = fused.alertFlags.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val bulk = fishers.indices.map(i => s"b$i")
    assert(bulk.forall(flags(_) == ""))
    // (masked columns, alert column and code, the standalone validator,
    // planted id → alerted)
    Seq(
      (Seq("n_fishers"), "alert_n_fishers", 2, Validate.validateNFishers(data, 2.5),
        Map("nf_at" -> false, "nf_above" -> true, "nf_neg" -> true)),
      (Seq("n_boats"), "alert_n_boats", 3, Validate.validateNBoats(data, 2.5),
        Map("nb_at" -> false, "nb_above" -> true, "nb_neg" -> true)),
      (Seq("price_kg", "catch_kg", "catch_price"), "alert_price", 4, Validate.validatePriceKg(data, 3.0),
        Map("p_lb" -> true, "p_above_lb" -> false, "p_below_ub" -> false, "p_ub" -> true))
    ).foreach { case (masked, alertCol, code, alone, planted) =>
      val alert = read(alone, alertCol)
      assert(bulk.forall(alert(_).isEmpty), alertCol)
      val values = masked.map(c => (c, read(data, c), read(alone, c), read(fused.validated, c)))
      planted.foreach { case (id, hit) =>
        assert(alert(id) == Option.when(hit)(code.toDouble), s"$id: standalone $alertCol")
        assert(flags(id) == (if (hit) code.toString else ""), s"$id: fused alert_number")
        values.foreach { case (c, in, standalone, fusedOut) =>
          val want = if (hit) None else in(id)
          assert(standalone(id) == want && fusedOut(id) == want, s"$id: $c")
        }
      }
    }
  }

  test("merge: only 1:1 (date, imei) pairs match; tz conversions applied") {
    val landings = Seq(
      ("s1", "2024-03-11T00:00:00Z", "111"),
      ("s2", "2024-03-11T01:00:00Z", "222"), // dup imei+day on landing side
      ("s3", "2024-03-11T02:00:00Z", "222"),
      ("s4", "2024-03-12T05:00:00Z", "333"))
      .toDF("survey_id", "landing_date", "imei")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
    val trips = Seq(
      (9001L, "111", "2024-03-10T22:00:00Z", "2024-03-11T03:30:00Z"),
      (9002L, "333", "2024-03-12T01:00:00Z", "2024-03-12T09:00:00Z"),
      (9003L, "333", "2024-03-12T10:00:00Z", "2024-03-12T11:00:00Z")) // dup day trip side
      .toDF("Trip", "IMEI", "Started", "Ended")
      .withColumn("Started", to_timestamp(col("Started")))
      .withColumn("Ended", to_timestamp(col("Ended")))
    val merged = MergeTrips(landings, trips)
    val rows = merged.select("survey_id", "Trip").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("s1", 9001L))) // s2/s3 dup landings, 333 dup trips
    // Africa/Blantyre = UTC+2: 03:30Z → 05:30
    val started = merged.select("Ended").collect().head.getTimestamp(0).toString
    assert(started.startsWith("2024-03-11 05:30"))
  }

  test("merge: IMEI verdicts attach by survey_id; a survey_id shared across forms fans out") {
    val registry = Seq("869606024123456", "869606000777001").toDF("IMEI")
    val landings = Seq(
      ("legacy", "1-1-1", "4123456"), // one registry match
      ("current", "1-1-1", "4123456"), // same survey_id, same tracker
      ("legacy", "2-1-1", "4123456"),
      ("current", "2-1-1", "777001"), // same survey_id, another tracker
      ("legacy", "3-1-1", "0"),
      ("legacy", null, "4123456")) // no survey_id: nothing attaches
      .toDF("form_name", "survey_id", "tracker_imei")
    val got = Validate.attachImeis(landings, "tracker_imei", registry, "IMEI")
      .select("form_name", "survey_id", "tracker_imei", "imei", "alert_number")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    // a tracker repeated under one survey_id counts its registry match
    // once per row, so its unique match reads as several (alert 2); a
    // survey_id carrying two trackers gives every one of its rows both
    // verdicts, as the left join by survey_id does
    assert(got == Seq(
      "current|1-1-1|4123456|null|2",
      "current|2-1-1|777001|869606024123456|null",
      "current|2-1-1|777001|869606000777001|null",
      "legacy|1-1-1|4123456|null|2",
      "legacy|2-1-1|4123456|869606024123456|null",
      "legacy|2-1-1|4123456|869606000777001|null",
      "legacy|3-1-1|0|null|null",
      "legacy|null|4123456|null|null").sorted)
  }

  test("curate: composed stage dedups, filters, scrubs before split/chunk") {
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler mail me at a.b@example.com today"),
      (2L, s"$filler mail me at a.b@example.com today"), // exact dup of 1
      (3L, s"$filler mail me at a.b@example.com tomorrow maybe"), // near-dup of 1
      (4L, "too short"), // fails the quality token band
      (5L, s"different corpus entirely ${(1 to 40).map(i => s"tok$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    val out = Curate(docs).collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L)) // 2 exact-dupped, 3 near-dupped into 1; 4 filtered
    // ordering contract: chunks carry the scrubbed text, never raw PII
    val chunks = out.map(_.getAs[String]("chunk_text"))
    assert(chunks.exists(_.contains("<email>"))) // chunk text is normalized to lowercase
    assert(!chunks.exists(_.contains("@example.com")))
    // every chunk respects the 32-token window
    assert(out.forall(_.getAs[Int]("n_tokens") <= 32))
    // split labels come from the fixed vocabulary
    assert(out.map(_.getAs[String]("split")).forall(Set("train", "valid", "test")))
  }

  test("curate: trained-LR quality screen keeps reference-like docs, drops junk the token band passes") {
    // prose docs: stopword-scaffolded, doc-specific words interleaved so
    // no two docs share a 3-shingle (the near-dup stage must not cluster
    // them); junk docs: punctuation-soaked stopword-free tokens that PASS
    // the heuristic token band (30..200 tokens, mtl <= 12) — only the
    // trained screen can tell them from prose
    def prose(i: Int) =
      s"the a$i of b$i and c$i is d$i that e$i it f$i for g$i " +
        (1 to 30).map(j => s"p$i$j").mkString(" ")
    def junk(i: Int) = (1 to 40).map(j => s"zx$i$j.;!").mkString(" ")
    val docs = ((1 to 6).map(i => (i.toLong, prose(i))) ++
      (11 to 16).map(i => (i.toLong, junk(i)))).toDF("doc_id", "text")
    val target = (21 to 30).map(i => Tuple1(prose(i))).toDF("text")
    // control: without the screen, BOTH classes ship (junk passes the band)
    val base = Curate(docs).select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(base == (1L to 6L).toSet ++ (11L to 16L).toSet, s"control: $base")
    // budgeted mode: keep the 6 most reference-like — the cut must land
    // exactly on the prose class (the ranking claim, threshold-free)
    val screened = Curate(docs, lrQualityTarget = Some(target),
      lrQualityKeepK = 6)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(screened == (1L to 6L).toSet,
      s"screen should keep prose and drop junk: $screened")
    // determinism: the trained screen picks the same set on a rerun
    val again = Curate(docs, lrQualityTarget = Some(target),
      lrQualityKeepK = 6)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(again == screened)
  }

  test("curate: minhash near-dup family keeps the same docs, fixed or planner-sized banding") {
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler mail me at a.b@example.com today"),
      (2L, s"$filler mail me at a.b@example.com today"), // exact dup of 1
      (3L, s"$filler mail me at a.b@example.com tomorrow maybe"), // near-dup of 1
      (4L, "too short"),
      (5L, s"different corpus entirely ${(1 to 40).map(i => s"tok$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // fixed gate banding (64×2 at threshold 0.5: doc 3 vs 1 shares 41 of
    // ~47 union shingles, j ≈ 0.83 ≫ 0.5 — banding miss p ≈ 1e-38)
    val fixed = ids(Curate(docs, jaccardThreshold = 0.5,
      nearDupFamily = "minhash"))
    assert(fixed == Set(1L, 5L))
    // planner-sized banding (minhashBands = 0 → planMinhashLsh from the
    // deduped count) — the scale path must keep the same documents
    val auto = ids(Curate(docs, jaccardThreshold = 0.5,
      nearDupFamily = "minhash", minhashBands = 0))
    assert(auto == fixed)
    // the ngram-only knob fails fast under the minhash family
    intercept[IllegalArgumentException] {
      Curate(docs, nearDupFamily = "minhash", maxShingleDocFreq = 5L)
    }
  }

  test("curate: optional benchmark decontamination drops quoting docs, leaves the rest") {
    val fillerA = (1 to 40).map(i => s"worda$i").mkString(" ")
    val fillerB = (1 to 40).map(i => s"wordb$i").mkString(" ")
    val quote = "the capital of france is paris and the capital of spain is madrid"
    val docs = Seq(
      (1L, s"$fillerA lesson intro $quote end of lesson"), // quotes the benchmark
      (2L, s"$fillerB mail me at a.b@example.com today"))
      .toDF("doc_id", "text")
    val bench = Seq((900L, quote)).toDF("doc_id", "text")
    val clean = Curate(docs, benchmark = Some(bench)).collect()
    assert(clean.map(_.getLong(0)).toSet == Set(2L))
    // without the benchmark both docs survive — the screen is the only delta
    val unscreened = Curate(docs).collect()
    assert(unscreened.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("curate: optional NFC + substring-strip stages compose without disturbing defaults") {
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val boiler = "standard footer disclaimer all rights reserved contact admin now"
    val docs = Seq(
      (1L, s"$filler $boiler"),
      (2L, s"different text ${(1 to 40).map(i => s"tok$i").mkString(" ")} $boiler"))
      .toDF("doc_id", "text")
    // default chain: both docs survive, boilerplate tail ships in chunks
    val plain = Curate(docs).collect()
    assert(plain.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(plain.map(_.getAs[String]("chunk_text")).exists(_.contains("disclaimer")))
    // strip stage: the 10-token shared tail is duplicated at k=8 → doc 2's
    // copy (non-canonical) is cut; both docs still pass the token band
    val stripped = Curate(docs, stripSpanK = 8).collect()
    assert(stripped.map(_.getLong(0)).toSet == Set(1L, 2L))
    val doc2Text = stripped.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text"))
    assert(!doc2Text.exists(_.contains("disclaimer")),
      "doc 2's copy of the shared tail must be stripped")
    val doc1Text = stripped.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text"))
    assert(doc1Text.exists(_.contains("disclaimer")),
      "doc 1's canonical occurrence must survive")
    // NFC stage: byte-variant spellings (decomposed vs precomposed é)
    // collapse into one document before the digest — doc 12 dedups away
    val decomposed = "café" // e + combining acute
    val composed = "café"    // precomposed
    val nfcDocs = Seq(
      (11L, s"$filler visit $composed corner"),
      (12L, s"$filler visit $decomposed corner"))
      .toDF("doc_id", "text")
    // jaccardThreshold = 1.0 turns the near-dup stage into
    // identical-shingle-set-only, so the exact-dedup digest is the only
    // mechanism under test (the shared filler would otherwise near-dup
    // the pair with or without canonicalization)
    assert(Curate(nfcDocs, jaccardThreshold = 1.0, nfcNormalize = true).collect()
      .map(_.getLong(0)).toSet == Set(11L))
    // without canonicalization they are byte-distinct: different digest,
    // different é-shingles -> both survive
    assert(Curate(nfcDocs, jaccardThreshold = 1.0).collect()
      .map(_.getLong(0)).toSet == Set(11L, 12L))
    // accent fold: the STRONGER collapse — café (either spelling) and
    // plain cafe share one digest; subsumes NFC, so all three variants
    // dedup to the minimum id
    val foldDocs = Seq(
      (21L, s"$filler visit cafe corner"),
      (22L, s"$filler visit $composed corner"),
      (23L, s"$filler visit $decomposed corner"))
      .toDF("doc_id", "text")
    assert(Curate(foldDocs, jaccardThreshold = 1.0, foldAccents = true).collect()
      .map(_.getLong(0)).toSet == Set(21L))
    // NFC alone collapses the two é spellings but keeps cafe distinct
    assert(Curate(foldDocs, jaccardThreshold = 1.0, nfcNormalize = true).collect()
      .map(_.getLong(0)).toSet == Set(21L, 22L))
  }

  test("curate: optional line-dedup stage strips the shared footer line, keep-first") {
    val filler1 = (1 to 40).map(i => s"word$i").mkString(" ")
    val filler2 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val footer = "standard footer disclaimer all rights reserved contact admin now"
    val docs = Seq(
      (1L, s"$filler1\n$footer"),
      (2L, s"$filler2\n$footer")).toDF("doc_id", "text")
    // default chain ships both footer copies; with the line screen on,
    // doc 2's copy (later (doc_id, pos) occurrence) is cut before the
    // quality band judges the text
    val plain = Curate(docs).collect()
    assert(plain.filter(_.getLong(0) == 2L)
      .map(_.getAs[String]("chunk_text")).exists(_.contains("disclaimer")))
    val stripped = Curate(docs, stripLineDups = true).collect()
    assert(stripped.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(stripped.filter(_.getLong(0) == 1L)
      .map(_.getAs[String]("chunk_text")).exists(_.contains("disclaimer")),
      "doc 1's canonical footer occurrence must survive")
    assert(!stripped.filter(_.getLong(0) == 2L)
      .map(_.getAs[String]("chunk_text")).exists(_.contains("disclaimer")),
      "doc 2's footer copy must be stripped")
  }

  test("curate: span strip + line screen compose — line-preserving rebuild " +
    "lets the line screen cut a footer the span screen cannot see") {
    val filler1 = (1 to 40).map(i => s"word$i").mkString(" ")
    val filler2 = (1 to 40).map(i => s"tok$i").mkString(" ")
    // the 8-token span is duplicated across docs INSIDE otherwise-distinct
    // lines (span-screen territory); the footer line is only 4 tokens —
    // shorter than k, invisible to the span screen, line-screen territory
    val span8 = "shared span sentence eight tokens exactly appearing twice"
    val footer = "copyright twenty six reserved"
    val docs = Seq(
      (1L, s"$filler1\n$span8 uniq1a uniq1b\n$footer"),
      (2L, s"$filler2\n$span8 uniq2a uniq2b\n$footer"))
      .toDF("doc_id", "text")
    // span screen alone: doc 2 loses the span copy but SHIPS the footer
    // (the flat rebuild is fine here — no line screen downstream)
    val spanOnly = Curate(docs, stripSpanK = 8).collect()
    assert(spanOnly.filter(_.getLong(0) == 2L)
      .map(_.getAs[String]("chunk_text")).exists(_.contains("copyright")))
    // both screens: doc 2 loses the span copy AND the footer copy — only
    // possible because the span strip now rebuilds line structure when a
    // line screen follows (the r6 flat rebuild made this a no-op)
    val both = Curate(docs, stripSpanK = 8, stripLineDups = true).collect()
    assert(both.map(_.getLong(0)).toSet == Set(1L, 2L))
    val doc1 = both.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text"))
    val doc2 = both.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text"))
    assert(doc1.exists(_.contains("appearing")) && doc1.exists(_.contains("copyright")),
      "doc 1 keeps its canonical span and footer occurrences")
    assert(!doc2.exists(_.contains("appearing")),
      "doc 2's span copy must be stripped by the span screen")
    assert(!doc2.exists(_.contains("copyright")),
      "doc 2's footer copy must be stripped by the line screen")
    assert(doc2.exists(_.contains("uniq2a")),
      "doc 2's novel content survives both screens")
  }

  test("curate: domain blocklist screens before dedup so keep-one is unaffected") {
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      // doc 1 (blocked domain) is an exact dup of doc 2 with the SMALLER
      // id — if the screen ran after dedup, keep-one would keep 1 and
      // then drop it, losing the content entirely
      (1L, s"$filler shared content body", "https://spam.example.com/a"),
      (2L, s"$filler shared content body", "https://ok.example.org/b"),
      (3L, s"unique ${(1 to 40).map(i => s"tok$i").mkString(" ")}", "https://ok.example.org/c"))
      .toDF("doc_id", "text", "url")
    val out = Curate(docs, urlCol = Some("url"),
      blockedDomains = Seq("spam.example.com")).collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L, 3L),
      "doc 2 must survive as the content's keeper once blocked doc 1 is screened first")
    // blocklist off -> doc 1 wins keep-one instead
    val open = Curate(docs).collect()
    assert(open.map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("curate: optional perplexity screen and DSIR selection stages") {
    // three en docs: d1/d2 share a frequent vocabulary (interleaved in
    // d2 so they are NOT near-dups), d3 is all singleton tokens → the
    // highest neg_logp of the language → 'tail' under the tertile cuts
    val ws = (1 to 40).map(i => s"common$i")
    val xs = (1 to 20).map(i => s"other$i")
    val d1 = ws.mkString(" ")
    val d2 = ws.take(20).zip(xs).map { case (w, x) => s"$x $w" }.mkString(" ")
    val d3 = (1 to 40).map(i => s"rare$i").mkString(" ")
    val docs = Seq((1L, d1, "en"), (2L, d2, "en"), (3L, d3, "en"))
      .toDF("doc_id", "text", "lang")
    // ppl screen keeps head+middle → the singleton-vocabulary doc drops
    val screened = Curate(docs,
      pplKeepBuckets = Seq("head", "middle"), pplLangCol = Some("lang"))
      .collect().map(_.getLong(0)).toSet
    assert(screened == Set(1L, 2L))
    // stage off → all three survive (the screen is the only delta)
    val unscreened = Curate(docs).collect().map(_.getLong(0)).toSet
    assert(unscreened == Set(1L, 2L, 3L))
    // DSIR top-1 against a common-vocabulary target picks the doc made
    // entirely of target vocabulary
    val target = Seq((900L, ws.mkString(" "))).toDF("doc_id", "text")
    val dsir = Curate(docs, dsirTarget = Some(target), dsirK = 1)
      .collect().map(_.getLong(0)).toSet
    assert(dsir == Set(1L))
  }

  test("export: matched tracks aggregate positions into 10-minute buckets") {
    val mergedTrips = Seq(("101", "101-1-1", "motorised boat", "Gillnet", "usipa", 24.5, 9001L))
      .toDF("submission_id", "survey_id", "vessel_type", "gear", "catch_taxon", "catch_kg", "Trip")
    val points = Seq(
      (9001L, "2024-03-11T06:01:00Z", -14.01, 34.88),
      (9001L, "2024-03-11T06:04:00Z", -14.03, 34.90),
      (9001L, "2024-03-11T06:12:00Z", -14.05, 34.92))
      .toDF("Trip", "Time", "Lat", "Lng")
      .withColumn("Time", to_timestamp(col("Time")))
    val out = Export.matchedTracks(mergedTrips, points)
      .orderBy("time").collect()
    assert(out.length == 2)
    assert(math.abs(out.head.getAs[Double]("lat") - (-14.02)) < 1e-9) // mean of first bucket
    assert(out.head.getAs[java.sql.Timestamp]("time").toString.startsWith("2024-03-11 06:00"))
  }
}
