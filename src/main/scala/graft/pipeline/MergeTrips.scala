package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Matching

/** Stage 4 — merge_trips (reference R/merge_trips.R:41-124): 1:1 match of
  * landings to PDS trips on (landing_date, imei), restricted to keys
  * unique on BOTH sides.
  *
  * Scale notes: both sides shuffle once on the match keys; the window
  * count flag and the join reuse the same hash partitioning, so Catalyst
  * plans a single exchange per side. Timezone conversions are explicit
  * (`Africa/Blantyre`, reference R/merge_trips.R:69,111-112) — never via
  * session timezone (SURVEY.md §7 trap 5).
  */
object MergeTrips {

  val Tz = "Africa/Blantyre"

  /** Trips preparation (reference :66-70): IMEI → imei string, landing
    * date = trip end date in Africa/Blantyre.
    */
  def prepTrips(trips: DataFrame): DataFrame =
    trips
      .withColumnRenamed("IMEI", "imei")
      .withColumn("imei", col("imei").cast("string"))
      .withColumn("landing_date", to_date(from_utc_timestamp(col("Ended"), Tz)))

  /** Full merge given prepped landings (with validated `imei` column from
    * Validate.attachImeis, reference :73-85) and prepped trips.
    *
    * The reference's full_join + filter(!is.na both sides) reduces to an
    * inner join of the two unique-key sides (SURVEY.md J8) — implemented
    * as [[Matching.oneToOneMatch]].
    */
  def apply(landings: DataFrame, trips: DataFrame): DataFrame = {
    val l = landings.withColumn("landing_date", to_date(col("landing_date")))
    // note reference :94: pds side landing_date = as_date(Ended) *without*
    // tz this time — replicated (UTC date)
    val r = prepTrips(trips).withColumn("landing_date", to_date(col("Ended")))
    Matching.oneToOneMatch(l, r.drop("imei_alerts"), Seq("landing_date", "imei"))
      .withColumn("Started", from_utc_timestamp(col("Started"), Tz))
      .withColumn("Ended", from_utc_timestamp(col("Ended"), Tz))
  }
}
