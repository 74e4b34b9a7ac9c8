package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.StageIO

/** Full six-stage DAG over parquet stage tables — the "switch from the
  * reference" smoke: nested submissions in, app-facing summary + matched
  * 10-minute tracks out.
  */
class RunnerSpec extends SparkTestBase {
  import spark.implicits._

  /** Multiset of a frame's rows, order-free (parquet reads and the two
    * validate forms emit rows in different orders). */
  private def rowBag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  /** `Runner.validate` runs [[Validate.fused]]; the tables it wrote must
    * equal the reference-faithful chain ([[Validate.apply]]) over the same
    * preprocessed table — same column names, types and rows. The two
    * forms agree only when (form_name, survey_id) is unique and non-null,
    * so that key invariant of the stage's input is pinned here too.
    */
  private def assertValidateMatchesFaithful(tables: Runner.StageTables): Unit = {
    val pre = StageIO.load(spark, tables.preprocessed)
    val keys = pre.select("form_name", "survey_id")
    assert(keys.filter(col("form_name").isNull || col("survey_id").isNull).count() == 0)
    assert(keys.distinct().count() == pre.count(), "(form_name, survey_id) not unique")

    val faithful = Validate(pre)
    def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    Seq(tables.validated -> faithful.validated, tables.alertFlags -> faithful.alertFlags)
      .foreach { case (dir, want) =>
        val got = StageIO.load(spark, dir)
        assert(typed(got) == typed(want), s"$dir schema")
        assert(got.count() == pre.count(), s"$dir row count")
        assert(rowBag(got) == rowBag(want), s"$dir rows")
      }
  }

  test("runAll: ingest → preprocess → validate → merge → exports") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dag").toString
    val tables = Runner.StageTables(dir)

    val submissions = spark.read.json(Seq(
      """{"_id": 11, "today": "2024-03-12", "landing_date": "2024-03-11",
         "group_location/sample_district": "Mangochi",
         "group_location/gps_location": "-14.0 34.9 470 5",
         "group_vessel_data": [
           {"group_vessel_data/group_vessel/vessel_type": "B+E",
            "group_vessel_data/group_vessel/crew_number": "3",
            "group_vessel_data/group_vessel/imei_number": "4123456",
            "group_vessel_data/group_catch": [
              {"fish_species": "Usipa", "weight": "24.5", "weight_type": "kg",
               "value_species": "30000", "value_type": "total", "catch_use": "sale"}]}
         ]}""").toDS)
    // PDS trips are fetched BY the device registry, so they carry the
    // canonical registry IMEI (reference R/merge_trips.R:57-65)
    val trips = Seq((9001L, "869606024123456", "2024-03-10T22:00:00Z", "2024-03-11T03:30:00Z"))
      .toDF("Trip", "IMEI", "Started", "Ended")
      .withColumn("Started", to_timestamp(col("Started")))
      .withColumn("Ended", to_timestamp(col("Ended")))
    val points = Seq((9001L, "2024-03-11T06:01:00Z", -14.01, 34.88))
      .toDF("Trip", "Time", "Lat", "Lng")
      .withColumn("Time", to_timestamp(col("Time")))
    val registry = Seq("869606024123456").toDF("IMEI")

    Runner.runAll(spark, tables, Seq("FieldDataApp-2024" -> submissions),
      trips, points, registry)
    assertValidateMatchesFaithful(tables)

    val summary = StageIO.load(spark, tables.landingsSummary)
    assert(summary.count() == 1)
    assert(summary.select("catch_kg").collect().head.getDouble(0) == 24.5)
    assert(summary.columns.takeRight(2).toSeq == Seq("catch_kg", "price_kg"))

    val merged = StageIO.load(spark, tables.mergedTrips)
    assert(merged.select("Trip").collect().map(_.getLong(0)).toSeq == Seq(9001L))
    // IMEI canonicalized against the registry via suffix match (V6)
    assert(merged.select("imei").collect().head.getString(0) == "869606024123456")

    val tracks = StageIO.load(spark, tables.matchedTracks)
    assert(tracks.count() == 1)
    assert(tracks.select("lat").collect().head.getDouble(0) == -14.01)

    val flags = StageIO.load(spark, tables.alertFlags)
    assert(flags.count() == 1) // clean survey → empty alert string
    assert(flags.select("alert_number").collect().head.getString(0) == "")

    // config-driven ks (reference inst/config.yml:42-46): re-run the
    // validate stage with k_* from a fixture config — same clean output
    val conf = graft.sources.PipelineConfig.parse(
      """default:
        |  validation:
        |    k_nfishers: 2.5
        |    k_nboats: 2.5
        |    k_catch: 2.5
        |    k_pricekg: 3
        |""".stripMargin)
    assert(conf.validationK.kPriceKg == 3.0)
    Runner.validate(spark, tables, conf)
    assert(StageIO.load(spark, tables.validated).count() == 1)
    assertValidateMatchesFaithful(tables)
  }

  test("validate stage equals the faithful chain on a fixture hitting every alert branch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-validate").toString
    val tables = Runner.StageTables(dir)
    // clean bulk (enough spread that every LocScaleB MAD is positive and
    // the bounds bind), then one submission per alert branch
    val rng = new scala.util.Random(41)
    def submission(id: Int, date: String, crew: String, boats: String,
                   catches: Seq[(String, String, String)]): String = {
      val cs = catches.map { case (taxon, kg, value) =>
        s"""{"fish_species": "$taxon", "weight": "$kg", "weight_type": "kg",
            "value_species": "$value", "value_type": "total", "catch_use": "sale"}"""
      }.mkString(",")
      s"""{"_id": $id, "today": "2024-07-01", "landing_date": "$date",
          "n_vessels": "$boats",
          "group_vessel_data": [
            {"group_vessel_data/group_vessel/vessel_type": "B+E",
             "group_vessel_data/group_vessel/crew_number": "$crew",
             "group_vessel_data/group_vessel/imei_number": "4123456",
             "group_vessel_data/group_catch": [$cs]}]}"""
    }
    def bulkCatch(taxon: String) = {
      val kg = 10 + rng.nextInt(10)
      (taxon, kg.toString, (kg * (90 + rng.nextInt(40))).toString)
    }
    val bulk = (1 to 80).map { i =>
      submission(i, "2024-06-01", (2 + rng.nextInt(4)).toString,
        (5 + rng.nextInt(10)).toString,
        Seq(bulkCatch("Usipa"), bulkCatch(if (i % 2 == 0) "Chambo" else "Usipa")))
    }
    // (submission id, the alert code its row must carry, payload)
    val edges = Seq(
      (901, "1", submission(901, "2019-06-01", "3", "8", Seq(bulkCatch("Usipa")))),
      (902, "2", submission(902, "2024-06-01", "-1", "8", Seq(bulkCatch("Usipa")))),
      (903, "2", submission(903, "2024-06-01", "900", "8", Seq(bulkCatch("Usipa")))),
      (904, "3", submission(904, "2024-06-01", "3", "-2", Seq(bulkCatch("Usipa")))),
      (905, "3", submission(905, "2024-06-01", "3", "5000", Seq(bulkCatch("Usipa")))),
      (906, "4", submission(906, "2024-06-01", "3", "8", Seq(("Chambo", "1", "900000")))),
      (907, "4", submission(907, "2024-06-01", "3", "8", Seq(("Chambo", "100", "1")))))
    val legacy = spark.read.json(Seq(
      """{"_id": 950, "today": "2023-05-02", "date_of_landing": "2023-05-01",
         "vessels": [{"vessel_type": "B-E", "crew_number": "2",
           "fish_repeat": [{"fish_species": "Usipa", "weight_kg": "12",
             "weight_type": "kg", "value_species": "1300", "value_type": "total"}]}]}""").toDS)
    val forms = Seq(
      "FieldDataApp-2024" -> spark.read.json((bulk ++ edges.map(_._3)).toDS),
      "Malawi SSF" -> legacy)

    Runner.ingest(spark, tables, forms)
    Runner.preprocess(spark, tables)
    Runner.validate(spark, tables)
    assertValidateMatchesFaithful(tables)

    // the fixture is not vacuous: every branch fired on its planted row
    val flags = StageIO.load(spark, tables.alertFlags)
      .select(substring_index(col("survey_id"), "-", 1).as("id"), col("alert_number"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    edges.foreach { case (id, code, _) =>
      val got = flags.filter(_._1 == id.toString).map(_._2)
      assert(got.nonEmpty && got.forall(_.split("-").contains(code)),
        s"submission $id: want alert $code, got ${got.toSeq}")
    }
    assert(flags.count(_._2 == "") > 100, "bulk rows should stay clean")
  }
}
