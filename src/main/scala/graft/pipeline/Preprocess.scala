package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Cleanse, Restructure}

/** Stage 2 — preprocess_landings (reference R/preprocessing.R:35-409),
  * re-expressed as one declarative projection pipeline.
  *
  * The reference materializes 9 per-gear frames and reduces them through a
  * 10-way full outer join on (form_name, survey_id)
  * (R/preprocessing.R:252-264); every frame derives from the same
  * `core_data`, so the join chain is an identity re-assembly — here it
  * fuses into a single select (SURVEY.md J1 "fused" form), turning ~10
  * shuffles into zero. [[gearEffortJoined]] keeps the faithful join-chain
  * form for semantics testing; both produce identical columns.
  */
object Preprocess {

  /** R5: strip form-path prefixes (reference R/preprocessing.R:50-53). */
  private val prefixes = Seq(
    "group_location/", "group_vessel_data/group_vessel/",
    "group_vessel_data/group_gear/", "group_vessel_data/group_trade/")

  /** When a legacy form already carries the plain name and a newer form the
    * prefixed one, stripping would collide — the two are the same logical
    * field across vocabularies, so colliding sources coalesce (in column
    * order) instead of erroring like dplyr::rename_with would.
    */
  def stripPrefixes(df: DataFrame): DataFrame = {
    val grouped = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    df.columns.foreach { c =>
      val target = prefixes.foldLeft(c)((n, p) => n.replace(p, ""))
      grouped.update(target, grouped.getOrElse(target, Vector.empty) :+ c)
    }
    df.select(grouped.map { case (target, sources) =>
      if (sources.size == 1) col(s"`${sources.head}`").as(target)
      else coalesce(sources.map(s => col(s"`$s`")): _*).as(target)
    }.toSeq: _*)
  }

  /** P7: the survey key (reference R/preprocessing.R:47-49) over raw
    * landings conformed to [[Schemas.rawLandings]].
    */
  def coreData(raw: DataFrame): DataFrame =
    raw.withColumn("survey_id",
      Cleanse.pasteNA("-", col("submission_id"), col("vessel_number"), col("catch_number")))

  /** P1: the 30-column transmute merging five form vocabularies via
    * coalesce (reference R/preprocessing.R:56-92).
    */
  def harmonized(core: DataFrame): DataFrame =
    core.select(
      col("form_name"),
      col("submission_id"),
      col("survey_id"),
      coalesce(col("landing_date"), col("date_of_landing")).as("landing_date"),
      col("today").as("submission_date"),
      col("sample_district"),
      col("landing_beach").as("landing_site"),
      col("sample_stratum"),
      col("sample_day"),
      coalesce(col("gps_location"), col("gps_location_001")).as("gps_coordinates"),
      coalesce(col("fishing_today"), col("fishing")).as("fishing_today"),
      coalesce(col("why_not_fishing"), col("why_not"), col("if_other")).as("why_not_fishing"),
      coalesce(col("n_vessels"), col("total_landings")).as("n_boats"),
      col("vessel_type"),
      col("crew_number").as("n_fishers"),
      col("crew_female").as("n_women"),
      col("hours_fished").as("trip_length"),
      col("imei_number").as("tracker_imei"),
      coalesce(col("gear_type"), col("gear_type_other")).as("gear"),
      coalesce(col("gear_mesh_size"), col("gear_mesh_size_mm")).as("mesh_size_mm"),
      coalesce(col("gear_depth"), col("gear_depth_m")).as("gear_depth"),
      col("gillnets"),
      col("num_hauls").as("n_hauls"),
      coalesce(col("trader_sex"), col("buyer_sex"), col("`group_vessel_data/market/buyer_sex`")).as("trader_sex"),
      coalesce(col("transport_mode"), col("`group_vessel_data/market/trans`"),
        col("`group_vessel_data/market/transothers`")).as("trader_transport_mode"),
      col("`group_vessel_data/market/dest`").as("food_destination"),
      col("value_species").as("catch_price"),
      col("value_type").as("catch_price_type"),
      col("catch_use").as("catch_usage"),
      col("fish_species").as("catch_taxon"),
      col("fish_species_other").as("catch_taxon_other"),
      coalesce(col("weight_kg"), col("weight")).as("catch_kg"),
      col("weight_type"))

  /** P3: the per-gear effort CASE WHEN bank (reference
    * R/preprocessing.R:94-249). Returns (column name → expression) in
    * reference frame order. The duplicated `ceffort` block is evaluated
    * twice in R and the SECOND silently wins (dplyr sequential overwrite,
    * R/preprocessing.R:179-210) — the live block is ported, including its
    * `chilmira_n_hrs` typo'd column name (SURVEY.md §4: recorded decision —
    * faithful to the surviving behavior).
    */
  def gearEffortColumns: Seq[(String, Column)] = {
    def src(cases: (Seq[String], String)*): Column =
      Cleanse.sourceByDiscriminator(col("form_name"),
        cases.map { case (forms, c) => forms -> col(s"`$c`") })
    Seq(
      "mosquito_n_sets" -> src(
        Seq("FISHERIES eCAS DATA") -> "mosquito_effort_sets",
        Seq("FieldDataApp-2023F") -> "group_vessel_data/gear_data/mosquito_effort"),
      "longline_n_hooks" -> src(
        Seq("FISHERIES eCAS DATA") -> "longline_effort_hooks",
        Seq("FieldDataApp-2024", "FieldDataApp-2023F") -> "group_vessel_data/gear_data/longline_effort"),
      "longline_n_hrs" -> src(
        Seq("FISHERIES eCAS DATA") -> "longline_effort_hrs"),
      "fishtrap_n_hauls" -> src(
        Seq("FISHERIES eCAS DATA") -> "fish_trap_effort_hauls",
        Seq("FieldDataApp-2024A", "FieldDataApp-2023F") -> "fish_trap_effort"),
      "handline_n_hooks" -> src(
        Seq("FISHERIES eCAS DATA") -> "handline_effort_hooks"),
      "handline_n_hrs" -> src(
        Seq("FISHERIES eCAS DATA") -> "handline_effort_hrs",
        Seq("FieldDataApp-2023F") -> "group_vessel_data/gear_data/handline_effort"),
      "kambuzi_n_sets" -> src(
        Seq("FISHERIES eCAS DATA") -> "kambuzi_effort_sets",
        Seq("FieldDataApp-2023F") -> "group_vessel_data/gear_data/kambuzi_seine_effort"),
      // live (second) ceffort block, R/preprocessing.R:196-210
      "chilimira_n_hauls" -> src(
        Seq("FISHERIES eCAS DATA") -> "chilimira_effort_hauls",
        Seq("Malawi SSF", "FieldDataApp-2024", "FieldDataApp-2024A", "FieldDataApp-2023F") -> "chilimira_hauls"),
      "chilmira_n_hrs" -> src( // sic: reference typo kept (R/preprocessing.R:206)
        Seq("FieldDataApp-2024", "FieldDataApp-2023F") -> "chilimira_effort"),
      "chikwekwesa_n_sets" -> src(
        Seq("FieldDataApp-2024", "FieldDataApp-2023F") -> "chikwekwesa_effort"),
      "chikwekwesa_length" -> src(
        Seq("FieldDataApp-2024A") -> "chikwekwesa_effort"),
      "wogo_n_sets" -> src(
        Seq("FieldDataApp-2023F") -> "wogo_effort"),
      "other_n_hrs" -> src(
        Seq("FieldDataApp-2024", "FieldDataApp-2023F") -> "group_vessel_data/gear_data/other_gear_effort"))
  }

  private val familySuffixes = Seq("n_hrs", "n_sets", "n_hooks", "n_hauls", "length")

  /** J1 fused: gear-effort assembly as a single projection — the effort
    * bank plus suffix-family coalesce (gear_hrs/gear_n_sets/…); the
    * merged-data `n_hauls` column participates in the n_hauls family first,
    * matching the reference's frame order (merged_data first in the reduce
    * list, R/preprocessing.R:252-263).
    */
  def gearEffortFused(core: DataFrame): DataFrame = {
    val efforts = gearEffortColumns
    val withEfforts = core.select(
      Seq(col("form_name"), col("submission_id"), col("survey_id"),
        coalesce(col("gear_type"), col("gear_type_other")).as("gear"),
        col("num_hauls").as("n_hauls")) ++
        efforts.map { case (n, c) => c.as(n) }: _*)
    def family(suffix: String): Column = {
      val cols = withEfforts.columns.filter(_.endsWith(suffix)).map(c => col(s"`$c`"))
      if (cols.isEmpty) lit(null).cast(StringType) else coalesce(cols.toIndexedSeq: _*)
    }
    withEfforts.select(
      col("form_name"), col("submission_id"), col("survey_id"), col("gear"),
      family("n_hrs").as("gear_hrs"),
      family("n_sets").as("gear_n_sets"),
      family("n_hooks").as("gear_n_hooks"),
      family("n_hauls").as("gear_n_hauls"),
      family("length").as("gear_length"))
  }

  /** J1 faithful: the reference's 10-way full-outer-join reduce chain
    * (R/preprocessing.R:252-264) — kept for equivalence testing against
    * [[gearEffortFused]]; don't use at scale (9 shuffles of the same key).
    */
  def gearEffortJoined(core: DataFrame): DataFrame = {
    val keys = Seq("form_name", "survey_id")
    val merged = core.select(
      col("form_name"), col("submission_id"), col("survey_id"),
      coalesce(col("gear_type"), col("gear_type_other")).as("gear"),
      col("num_hauls").as("n_hauls"))
    val frames = gearEffortColumns.map { case (name, expr0) =>
      core.select(col("form_name"), col("survey_id"), expr0.as(name))
    }
    val joined = frames.foldLeft(merged)((acc, f) => acc.join(f, keys, "full_outer"))
    def family(df: DataFrame, suffix: String): Column = {
      val cols = df.columns.filter(_.endsWith(suffix)).map(c => col(s"`$c`"))
      coalesce(cols.toIndexedSeq: _*)
    }
    joined.select(
      col("form_name"), col("submission_id"), col("survey_id"), col("gear"),
      family(joined, "n_hrs").as("gear_hrs"),
      family(joined, "n_sets").as("gear_n_sets"),
      family(joined, "n_hooks").as("gear_n_hooks"),
      family(joined, "n_hauls").as("gear_n_hauls"),
      family(joined, "length").as("gear_length"))
  }

  /** R's double division `x / y` without ANSI's DIVIDE_BY_ZERO: a
    * non-zero x over a zero y is ±Inf (SURVEY.md P6). R's 0/0 is NaN,
    * which R treats as NA — medians drop it and comparisons with it are
    * NA — so it is null here: a Spark NaN sorts above every value and
    * would fire the high-price alert.
    */
  private def rDivide(x: Column, y: Column): Column =
    when(y === 0, when(x =!= 0, x * Double.PositiveInfinity)).otherwise(x / y)

  /** P6 (reference R/preprocessing.R:308): a "total" price is divided by
    * the catch weight ([[rDivide]]), any other price is already per kg.
    */
  def priceKg(price: Column, kg: Column, priceType: Column): Column =
    when(priceType === "total", rDivide(price, kg)).otherwise(price)

  private val numericCols = Seq(
    "n_boats", "n_fishers", "n_women", "trip_length", "mesh_size_mm",
    "catch_price", "catch_kg", "lat", "lon", "gear_depth",
    "gear_hrs", "gear_n_hooks", "gear_n_sets", "gear_length", "gear_n_hauls")

  /** Full stage over the ingested landings: R5 prefix strip → S4 conform
    * to [[Schemas.rawLandings]] (which also drops the `_*` scratch
    * columns, reference R/preprocessing.R:47-54) → harmonize → gear
    * efforts (fused) → J2 assembly → R4 GPS split → P5 casts → P6
    * price_kg → distinct → R6 column order → gillnets HOF fix-up → P4
    * recodes (reference R/preprocessing.R:274-398).
    */
  def apply(raw: DataFrame): DataFrame = {
    val core = coreData(Restructure.conformTo(stripPrefixes(raw), Schemas.rawLandings))
    val merged = harmonized(core)
    val gears = gearEffortFused(core)

    // J2: reference full-joins merged × gears on (form_name, submission_id,
    // survey_id, gear) — both sides derive 1:1 from core_data so this is a
    // re-assembly too, which collapses to a key join.
    // Null-safe: gear is null when no gear was recorded, and dplyr's
    // full_join matches NA keys (na_matches="na") — a plain equi-join
    // would split such rows in two.
    val assembled = Restructure.joinNullSafe(merged, gears,
      Seq("form_name", "submission_id", "survey_id", "gear"), "full_outer")

    // R4: GPS "lat lon alt acc" split, keep 2 (R/preprocessing.R:276-280)
    val gps = Restructure.splitInto(assembled, "gps_coordinates", " ",
      Seq(("lat", 0, StringType), ("lon", 1, StringType)))
      .drop("n_hauls")

    // P5 casts + P6 derived price (R/preprocessing.R:284-309)
    val typed = Cleanse.lenientCastDouble(gps, numericCols)
      .withColumn("landing_date", to_timestamp(col("landing_date")))
      .withColumn("submission_date", to_timestamp(col("submission_date")))
      .withColumn("submission_id", col("submission_id").cast(StringType))
      .withColumn("survey_id", col("survey_id").cast(StringType))
      .withColumn("price_kg",
        priceKg(col("catch_price"), col("catch_kg"), col("catch_price_type")))
      .distinct()

    // R6 column order (R/preprocessing.R:311-319)
    val ordered = typed.select(
      Seq("form_name", "submission_id", "survey_id", "landing_date",
        "submission_date", "sample_district", "landing_site", "sample_stratum",
        "sample_day", "lat", "lon", "fishing_today", "why_not_fishing",
        "n_boats", "vessel_type", "n_fishers", "n_women", "trip_length",
        "tracker_imei", "gear", "gear_depth", "gear_hrs", "gear_n_sets",
        "gear_n_hooks", "gear_n_hauls", "gear_length", "mesh_size_mm",
        "gillnets", "trader_sex", "trader_transport_mode", "food_destination",
        "catch_price", "catch_price_type", "catch_usage", "catch_taxon",
        "catch_taxon_other", "catch_kg", "weight_type", "price_kg")
        .map(col): _*)

    // gillnets nested fix-up via transform HOF (R/preprocessing.R:321-354)
    val gillnetsFixed = ordered.withColumn("gillnets",
      transform(col("gillnets"), g => struct(
        coalesce(g.getField("gillnet_mesh_mm"), g.getField("gillnet_mesh"))
          .cast(DoubleType).as("gillnet_mesh_mm"),
        coalesce(g.getField("gillnet_length_m"), g.getField("gillnet_length"))
          .cast(DoubleType).as("gillnet_length_m"),
        g.getField("gillnet_number").cast(DoubleType).as("gillnet_number"),
        g.getField("net_type").cast(StringType).as("net_type"))))

    // P4 recodes (R/preprocessing.R:357-398)
    gillnetsFixed
      .withColumn("vessel_type", Cleanse.recode(col("vessel_type"), Seq(
        "B+E" -> "motorised boat",
        "B-E" -> "unmotorised boat",
        "B+E with Dugout Canoe" -> "motorised dugout canoe",
        "Plunked Canoe" -> "unmotorised plunked Canoe",
        "B+E with Plank Canoe" -> "motorised plank canoe",
        "Dugout Canoe" -> "unmotorised dugout canoe")))
      .withColumn("gear", Cleanse.recode(col("gear"), Seq(
        "other gear" -> "other_gear",
        "Chambo Seine (Wogo)" -> "Chambo Seine")))
      .withColumn("trader_transport_mode", Cleanse.recode(col("trader_transport_mode"), Seq(
        "1" -> "bicycle_motorcycle", "2" -> "canoe_boat",
        "3" -> "motor_vehicle", "4" -> "others")))
      .withColumn("why_not_fishing", Cleanse.recode(col("why_not_fishing"), Seq(
        "wind other" -> "wind", "other wind" -> "wind",
        "other rain" -> "rain", "rain wind" -> "wind rain")))
      .withColumn("catch_taxon", Cleanse.recode(lower(col("catch_taxon")), Seq(
        "other-tilapia" -> "other_tilapia", "nocatch" -> "no_catch")))
      .withColumn("catch_taxon_other", trim(lower(col("catch_taxon_other"))))
      .withColumn("food_destination", trim(lower(col("food_destination"))))
  }
}
