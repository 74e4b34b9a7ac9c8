package graft.pipeline

import org.apache.spark.sql.types._

/** Stage-boundary schema contracts (SURVEY.md §1.3, FIXTURES.md).
  *
  * The raw-ingest layer is schema-dynamic (five Kobo form vocabularies,
  * columns appear/disappear per form version — reference R/ingestion.R:92);
  * [[rawLandings]] is the union-of-forms superset, all leaves string (Kobo
  * delivers strings), padded with nulls via Restructure.conformTo exactly
  * like the reference pads missing columns with NA (R/storage.R:39-44).
  */
object Schemas {

  val gillnetStruct: StructType = StructType(Seq(
    StructField("gillnet_mesh", StringType),
    StructField("gillnet_mesh_mm", StringType),
    StructField("gillnet_length", StringType),
    StructField("gillnet_length_m", StringType),
    StructField("net_type", StringType),
    StructField("gillnet_number", StringType)))

  /** Union of the five form vocabularies' flattened columns referenced by
    * preprocess_landings (reference R/preprocessing.R:47-272). Prefixes
    * (`group_location/` etc.) are already stripped by the ingest stage's
    * rename pass (R/preprocessing.R:50-53).
    */
  val rawLandings: StructType = StructType(
    Seq(
      "form_name", "submission_id", "vessel_number", "catch_number",
      // location block
      "landing_date", "date_of_landing", "today",
      "sample_district", "landing_beach", "sample_stratum", "sample_day",
      "gps_location", "gps_location_001",
      "fishing_today", "fishing", "why_not_fishing", "why_not", "if_other",
      "n_vessels", "total_landings",
      // vessel block
      "vessel_type", "crew_number", "crew_female", "hours_fished", "imei_number",
      // gear block
      "gear_type", "gear_type_other", "gear_mesh_size", "gear_mesh_size_mm",
      "gear_depth", "gear_depth_m", "num_hauls",
      // per-gear effort sources (reference R/preprocessing.R:94-249)
      "mosquito_effort_sets", "group_vessel_data/gear_data/mosquito_effort",
      "longline_effort_hooks", "longline_effort_hrs", "group_vessel_data/gear_data/longline_effort",
      "fish_trap_effort_hauls", "fish_trap_effort",
      "handline_effort_hooks", "handline_effort_hrs", "group_vessel_data/gear_data/handline_effort",
      "kambuzi_effort_sets", "group_vessel_data/gear_data/kambuzi_seine_effort",
      "chilimira_hauls", "chilimira_effort_hauls", "chilimira_effort",
      "chikwekwesa_effort", "wogo_effort",
      "group_vessel_data/gear_data/other_gear_effort",
      // trade block
      "trader_sex", "buyer_sex", "group_vessel_data/market/buyer_sex",
      "transport_mode", "group_vessel_data/market/trans", "group_vessel_data/market/transothers",
      "group_vessel_data/market/dest",
      // catch block
      "value_species", "value_type", "catch_use",
      "fish_species", "fish_species_other", "weight_kg", "weight", "weight_type"
    ).map(StructField(_, StringType)) :+
      StructField("gillnets", ArrayType(gillnetStruct)))

  /** PDS trips contract (FIXTURES.md A3; reference R/ingestion.R:428-475,
    * columns used at R/merge_trips.R:66-70).
    */
  val pdsTrips: StructType = StructType(Seq(
    StructField("Trip", LongType),
    StructField("IMEI", StringType),
    StructField("Boat", StringType),
    StructField("Community", StringType),
    StructField("Started", TimestampType),
    StructField("Ended", TimestampType),
    StructField("Boat Name", StringType)))

  /** PDS trip points contract (FIXTURES.md A4; reference
    * R/ingestion.R:539-629; columns dropped at R/export.R:161-164).
    */
  val pdsTripPoints: StructType = StructType(Seq(
    StructField("Trip", LongType),
    StructField("Time", TimestampType),
    StructField("Lat", DoubleType),
    StructField("Lng", DoubleType),
    StructField("Boat", StringType),
    StructField("Speed (M/S)", DoubleType),
    StructField("Range (Meters)", DoubleType),
    StructField("Heading", DoubleType),
    StructField("Boat Name", StringType),
    StructField("Community", StringType)))
}
