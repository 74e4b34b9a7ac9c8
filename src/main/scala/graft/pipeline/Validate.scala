package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Bounds, Matching}

/** Stage 3 — validate_landings (reference R/validation.R:36-106) and the
  * validator family (R/validation-functions.R; SURVEY.md §2.8).
  *
  * Contract per validator: (form_name, survey_id, cleaned columns, alert
  * column); invalid values masked to null, integer alert code recorded.
  * Bounds tables are tiny per-group aggregates → broadcast joins here,
  * driver-side constants in [[fused]]; masks are pure column expressions
  * (the reference's `rowwise()` blocks, R/validation-functions.R:226,301,
  * are needless row-at-a-time escapes — the expressions are vectorizable
  * and stay inside codegen here).
  */
object Validate {

  /** V1 (reference :77-94): the second dplyr assignment overwrites the
    * first, so the live rule is only `landing_date < cutoff` → alert 1 +
    * mask (SURVEY.md V1 decision; the `landing_date > submission_date`
    * predicate is dead in the reference and therefore here too).
    */
  def validateDates(data: DataFrame, cutoff: String = "2020-12-31"): DataFrame = {
    val alert = when(col("landing_date") < lit(cutoff), 1.0)
    data.select(
      col("form_name"), col("survey_id"),
      when(alert.isNull, col("landing_date")).as("landing_date"),
      alert.as("alert_date"))
  }

  /** Shared V2/V3 shape (reference validate_nfishers :112-128 /
    * validate_nboats :147-162): negatives → alert + mask, then global
    * LocScaleB upper outliers on the masked column (logt, back-transform
    * exp(b)-1 per alert_outlier :51).
    *
    * The grouping here is GLOBAL (one group = the whole column), so the
    * single-buffer [[Bounds.CollectExact]] aggregate would collect the
    * entire column on one reducer at scale — the default routes through
    * the two-pass formulation instead (identical numbers); pass
    * [[Bounds.TwoPassApprox]] for bounded-memory sketched medians on
    * planet-scale columns.
    */
  private def validatePositiveOutliers(data: DataFrame, valueCol: String,
                                       alertCode: Double, k: Double,
                                       outName: String,
                                       strategy: Bounds.Strategy): DataFrame = {
    val base = data.select(
      col("form_name"), col("survey_id"),
      when(col(valueCol) < 0, alertCode).as("__alert_neg"),
      when(col(valueCol) < 0, lit(null).cast(DoubleType))
        .otherwise(col(valueCol).cast(DoubleType)).as("__x"))
      .withColumn("__g", lit(1))
    val bounds = Bounds.bounds(base, Seq("__g"), "__x", k, logt = true, strategy)
      .select(col("__g"), (exp(col("upper_up")) - 1).as("__ub"))
    base.join(broadcast(bounds), Seq("__g"), "left")
      .withColumn("__alert", coalesce(
        when(col("__x") > col("__ub"), alertCode), col("__alert_neg")))
      .select(
        col("form_name"), col("survey_id"),
        when(col("__alert").isNull, col("__x")).as(valueCol),
        col("__alert").as(outName))
  }

  def validateNFishers(data: DataFrame, k: Double,
                       strategy: Bounds.Strategy = Bounds.TwoPassExact): DataFrame =
    validatePositiveOutliers(data, "n_fishers", 2.0, k, "alert_n_fishers", strategy)

  def validateNBoats(data: DataFrame, k: Double,
                     strategy: Bounds.Strategy = Bounds.TwoPassExact): DataFrame =
    validatePositiveOutliers(data, "n_boats", 3.0, k, "alert_n_boats", strategy)

  /** V4 (reference get_catch_bounds/validate_catch :183-233 — defined but
    * not wired into validate_landings; kept as a first-class op): upper
    * bound per (gear, catch_taxon, weight_type), back-transform exp(b)
    * (no -1, :191), alert 4 when catch_kg ≥ upper.
    */
  def validateCatch(data: DataFrame, k: Double): DataFrame = {
    val eligible = data.filter(col("catch_taxon") =!= "0" && col("catch_taxon") =!= "no_catch")
    val bounds = Bounds.boundsAgg(eligible,
      Seq("gear", "catch_taxon", "weight_type"), "catch_kg", k, logt = true)
      .select(col("gear"), col("catch_taxon"), col("weight_type"),
        exp(col("upper_up")).as("__ub"))
    data.join(broadcast(bounds), Seq("gear", "catch_taxon", "weight_type"), "left")
      .withColumn("alert_catch", when(col("catch_kg") >= col("__ub"), 4.0))
      .select(col("form_name"), col("survey_id"),
        when(col("alert_catch").isNull, col("catch_kg")).as("catch_kg"),
        col("alert_catch"))
  }

  /** V5 (reference get_pricekg_bounds/validate_pricekg :252-316): two-sided
    * bounds per catch_taxon (back-transform exp(b), :260-263); alert 4
    * masks price_kg AND catch_kg AND catch_price.
    */
  def validatePriceKg(data: DataFrame, k: Double): DataFrame = {
    val eligible = data.filter(col("catch_taxon") =!= "0" && col("catch_taxon") =!= "no_catch")
    val bounds = Bounds.boundsAgg(eligible, Seq("catch_taxon"), "price_kg", k, logt = true)
      .select(col("catch_taxon"), exp(col("lower_low")).as("__lb"), exp(col("upper_up")).as("__ub"))
    data.join(broadcast(bounds), Seq("catch_taxon"), "left")
      .withColumn("alert_price",
        when(col("price_kg") >= col("__ub") || col("price_kg") <= col("__lb"), 4.0))
      .select(col("form_name"), col("survey_id"),
        when(col("alert_price").isNull, col("price_kg")).as("price_kg"),
        when(col("alert_price").isNull, col("catch_kg")).as("catch_kg"),
        when(col("alert_price").isNull, col("catch_price")).as("catch_price"),
        col("alert_price"))
  }

  /** V6/J10 (reference validate_this_imei :339-375): the reference's
    * scalar per-IMEI validator, evaluated once per distinct raw value of
    * `imeiCol` — the verdict depends on the raw value alone, so landings
    * sharing a tracker share it. Vectorized: the registry's suffixes are
    * broadcast and the suffix match is a hash equi-join + count
    * ([[Matching.suffixMatchCount]]), not a per-row R function. Returns
    * (raw_imei, imei, alert_number), one row per distinct raw value, null
    * included.
    */
  def validateImeis(data: DataFrame, imeiCol: String, registry: DataFrame,
                    registryCol: String): DataFrame = {
    val probe = data.select(col(imeiCol).as("__raw")).distinct()
      .withColumn("__num", abs(expr("try_cast(__raw as double)")))
      .withColumn("__str", col("__num").cast(LongType).cast(StringType))
    val matched = Matching.suffixMatchCount(probe, "__str",
      registry.select(col(registryCol).cast(StringType).as("__reg")), "__reg")
    matched.select(
      col("__raw").as("raw_imei"),
      when(col("__raw").isNull || col("__raw") === "0", lit(null).cast(StringType))
        .when(col("__num") < 9999, lit(null).cast(StringType))
        .when(col("match_count") === 1, col("matched_value"))
        .otherwise(lit(null).cast(StringType)).as("imei"),
      when(col("__raw").isNull || col("__raw") === "0", lit(null).cast(IntegerType))
        .when(col("__num") < 9999, lit(1))
        .when(col("match_count") === 1, lit(null).cast(IntegerType))
        .when(col("match_count") > 1, lit(2))
        .otherwise(lit(3)).as("alert_number"))
  }

  /** Landings ++ (imei, alert_number): the reference's `left_join(by =
    * "survey_id")` of per-(survey_id, raw IMEI) verdicts
    * (R/merge_trips.R:73-85), row for row as the per-row formulation
    * computes it — the suffix match probed once per landing row and
    * grouped by (survey_id, raw IMEI), so a pair carried by k rows counts
    * each of its m registry matches k times. Here V6 runs once per
    * distinct raw value ([[validateImeis]], broadcast: one row per
    * tracker in use) and k comes from one narrow count per pair; k·m is a
    * unique match only when k = 1, so a unique match repeated under one
    * survey_id becomes alert 2 with no IMEI, as before. The pair counts
    * attach by a left join on survey_id, which fans out where a survey_id
    * carries several trackers (e.g. reused across forms) — the planner
    * picks that join from the counts' size — and each output row then
    * looks up its pair's verdict.
    */
  def attachImeis(landings: DataFrame, imeiCol: String, registry: DataFrame,
                  registryCol: String): DataFrame = {
    val verdicts = validateImeis(landings, imeiCol, registry, registryCol)
    val pairs = landings.groupBy(col("survey_id"), col(imeiCol).as("__raw"))
      .agg(count(lit(1)).as("__k"))
    val repeatedMatch = col("__k") > 1 && col("imei").isNotNull
    // the using-column join's order: survey_id, then the other landing columns
    val kept = ("survey_id" +: landings.columns.filterNot(_ == "survey_id"))
      .map(c => col(s"`$c`"))
    landings.join(pairs, Seq("survey_id"), "left")
      .join(broadcast(verdicts), col("__raw") === col("raw_imei"), "left")
      .select(kept ++ Seq(
        when(!repeatedMatch, col("imei")).as("imei"),
        when(repeatedMatch, lit(2)).otherwise(col("alert_number")).as("alert_number")): _*)
  }

  /** V7 orchestration (reference validate_landings, R/validation.R:36-106):
    * run V1, V2, V3, V5; re-merge cleaned columns over the preprocessed
    * frame (J5); build the united alert_flags frame (J6). The reference
    * computes alert_flags but never persists it (R/validation.R:91-105) —
    * kept here as a first-class output (SURVEY.md V7 decision).
    */
  case class ValidationResult(validated: DataFrame, alertFlags: DataFrame)

  def apply(preprocessed: DataFrame,
            kNFishers: Double = 2.5, kNBoats: Double = 2.5,
            kPriceKg: Double = 3.0,
            globalBounds: Bounds.Strategy = Bounds.TwoPassExact): ValidationResult = {
    val keys = Seq("form_name", "survey_id")
    // Deliberately LAZY fan-out (round 18, measured): the faithful chain
    // consumes `preprocessed` from ~8 places (four validators — two of
    // them two-pass global bounds — the J5 re-merge, the final join). A
    // checkpoint-at-the-fork here was tried and REVERTED: each consumer
    // re-runs a COLUMN-PRUNED scan of the upstream (2-4 columns of a
    // narrow projection over parquet), while the checkpoint materializes
    // the full-width frame eagerly and defeats that pruning — measured
    // at sf1, the forked form ran 15.0-25.1 s vs 8.2-12.6 s lazy (and was
    // neutral at sf0.1). Callers whose input is NOT a cheap pruned-scan
    // projection (a join tree, a preprocess chain) should checkpoint
    // BEFORE calling, where they know what the upstream costs — the same
    // contract as Corpus.pplBuckets. The fused twin ([[fused]]) is the
    // one-scan scale path, and the one `Runner.validate` runs; this chain
    // stays as the reference-faithful form behind
    // q_v7_validate_orchestration.
    val pre = preprocessed
    val outputs = Seq(
      validateDates(pre),
      validateNFishers(pre, kNFishers, globalBounds),
      validateNBoats(pre, kNBoats, globalBounds),
      validatePriceKg(pre, kPriceKg))

    // J5: cleaned columns re-merge
    val cleaned = outputs
      .map(df => df.select(df.columns.filterNot(_.contains("alert")).map(c => col(s"`$c`")): _*))
      .reduce((a, b) => a.join(b, keys, "left"))
    val replacedCols = cleaned.columns.filterNot(keys.contains)
    val validated = pre
      .drop(replacedCols.toIndexedSeq: _*)
      .join(cleaned, keys, "left")

    // J6: alert unite — concat_ws natively skips nulls (= unite na.rm)
    val alerts = outputs
      .map(df => df.select((keys.map(c => col(c)) ++
        df.columns.filter(_.contains("alert")).map(c => col(s"`$c`"))): _*))
      .reduce((a, b) => a.join(b, keys, "full_outer"))
    // R's unite renders numeric 1 as "1" (not "1.0") — go through int
    val alertCols = alerts.columns.filter(_.contains("alert")).map(c => col(s"`$c`"))
    val flags = alerts.select(
      col("form_name"), col("survey_id"),
      concat_ws("-", alertCols.map(_.cast(IntegerType).cast(StringType)).toIndexedSeq: _*)
        .as("alert_number"))

    ValidationResult(validated, flags)
  }

  /** Fused validate_landings — identical semantics to [[apply]] (equivalence
    * tested in PipelineSpec and RunnerSpec), restructured for scale like
    * the J1 fused gear assembly. Every validator derives from the SAME
    * preprocessed frame and its bounds are a handful of numbers, so the
    * faithful shape's 4 re-scans + 3 full-outer joins + the J5 re-merge
    * join chain collapse to:
    *
    *   1. ONE small query, run and collected when `fused` is called:
    *      the n_fishers and n_boats upper bounds as one grouped
    *      [[Bounds.globalBoundsStacked]] aggregation (`globalBounds`
    *      strategy), unioned with the per-taxon price bounds
    *      ([[Bounds.boundsAgg]]) — 2 + #taxa rows;
    *   2. ONE projection over preprocessed per output, reading those
    *      bounds as driver-side constants: two scalar literals and a
    *      literal taxon → (lower, upper) map. No join, no broadcast, no
    *      exchange: writing `validated` or `alertFlags` is a
    *      scan-project-write job that re-runs nothing.
    *
    * A bound that does not exist — a column entirely null or negative
    * has no bounds row, a guarded column or taxon has null bounds, a taxon
    * with no eligible price is absent from the map (`getItem` of a
    * missing key is null) — is a null constant, so its alert never fires,
    * exactly as [[apply]]'s left joins leave it. The map is searched
    * linearly per row: right for the reference's dozens of taxa; with
    * thousands, a broadcast join is the better attach.
    *
    * Caveat shared with [[apply]]'s join semantics: (form_name, survey_id)
    * is assumed unique and non-null (it is a surrogate key, P7: Preprocess
    * pastes it from the submission id and the 1-based vessel and catch
    * indices, so it is never null); with duplicate keys the faithful form
    * fans out multiplicatively in its joins while this form cannot.
    */
  def fused(preprocessed: DataFrame,
            kNFishers: Double = 2.5, kNBoats: Double = 2.5,
            kPriceKg: Double = 3.0,
            globalBounds: Bounds.Strategy = Bounds.TwoPassExact,
            dateCutoff: String = "2020-12-31"): ValidationResult = {
    def masked(valueCol: String): Column =
      when(col(valueCol) < 0, lit(null).cast(DoubleType))
        .otherwise(col(valueCol).cast(DoubleType))
    val nfMasked = masked("n_fishers")
    val nbMasked = masked("n_boats")
    val global = Bounds.globalBoundsStacked(preprocessed,
      Seq(("n_fishers", nfMasked, kNFishers), ("n_boats", nbMasked, kNBoats)),
      logt = true, globalBounds)
      .select(lit(true).as("global"), col("column").as("key"),
        lit(null).cast(DoubleType).as("lb"), (exp(col("upper_up")) - 1).as("ub"))
    val price = Bounds.boundsAgg(
      preprocessed.filter(col("catch_taxon") =!= "0" && col("catch_taxon") =!= "no_catch"),
      Seq("catch_taxon"), "price_kg", kPriceKg, logt = true)
      .select(lit(false).as("global"), col("catch_taxon").cast(StringType).as("key"),
        exp(col("lower_low")).as("lb"), exp(col("upper_up")).as("ub"))
    val (globalRows, priceRows) = global.unionByName(price).collect()
      .partition(_.getBoolean(0))
    def upper(column: String): Column =
      globalRows.find(_.getString(1) == column).filterNot(_.isNullAt(3))
        .fold(lit(null).cast(DoubleType))(r => lit(r.getDouble(3)))
    // lower and upper are null together (the LocScaleB guard), so only
    // taxa with both bounds enter the map
    val priceBounds = typedLit(priceRows.filterNot(_.isNullAt(3))
      .map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3))).toMap)
      .getItem(col("catch_taxon"))

    val alertDate = when(col("landing_date") < lit(dateCutoff), 1.0)
    val alertNf = coalesce(when(nfMasked > upper("n_fishers"), 2.0),
      when(col("n_fishers") < 0, 2.0))
    val alertNb = coalesce(when(nbMasked > upper("n_boats"), 3.0),
      when(col("n_boats") < 0, 3.0))
    val alertPrice = when(col("price_kg") >= priceBounds.getField("_2") ||
      col("price_kg") <= priceBounds.getField("_1"), 4.0)

    val replaced = Set("landing_date", "n_fishers", "n_boats",
      "price_kg", "catch_kg", "catch_price")
    // apply()'s using-column join emits the join keys first, then the
    // remaining left columns — reproduce that exact column order
    val keys = Seq("form_name", "survey_id")
    val kept = (keys ++ preprocessed.columns
      .filterNot(c => replaced.contains(c) || keys.contains(c)))
      .map(c => col(s"`$c`"))
    val validated = preprocessed.select(kept ++ Seq(
      when(alertDate.isNull, col("landing_date")).as("landing_date"),
      when(alertNf.isNull, nfMasked).as("n_fishers"),
      when(alertNb.isNull, nbMasked).as("n_boats"),
      when(alertPrice.isNull, col("price_kg")).as("price_kg"),
      when(alertPrice.isNull, col("catch_kg")).as("catch_kg"),
      when(alertPrice.isNull, col("catch_price")).as("catch_price")): _*)

    val flags = preprocessed.select(
      col("form_name"), col("survey_id"),
      concat_ws("-", Seq(alertDate, alertNf, alertNb, alertPrice)
        .map(_.cast(IntegerType).cast(StringType)): _*).as("alert_number"))

    ValidationResult(validated, flags)
  }
}
