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
  * V1, V2, V3 and V5 are each defined once, as a [[Rule]] built from its
  * bound: the standalone validators select one rule, [[fused]] (the form
  * the stage runs) selects all four in one projection, and [[apply]]
  * joins the standalone outputs back the reference's way. Their bounds
  * are a handful of numbers from one small query, run and collected when
  * the validator is called, and attach as constants; V4
  * ([[validateCatch]]) attaches its bounds by a broadcast join. Masks are
  * pure column expressions (the reference's `rowwise()` blocks,
  * R/validation-functions.R:226,301, are needless row-at-a-time escapes —
  * the expressions are vectorizable and stay inside codegen here).
  */
object Validate {

  /** The LocScaleB k's of the stage's bounds (reference
    * inst/config.yml:42-46; `PipelineConfig.Conf.validationK` overlays
    * the YAML values on these defaults).
    */
  final case class Ks(kNFishers: Double = 2.5, kNBoats: Double = 2.5, kPriceKg: Double = 3.0)

  /** validate_dates' landing-date cutoff (reference :77-94). */
  private val DateCutoff = "2020-12-31"

  private val keys = Seq("form_name", "survey_id")

  /** One validation rule over its bound: `alert` (null when the row
    * passes) and the columns it replaces, each masked to null where the
    * alert fires. */
  private final case class Rule(alertName: String, alert: Column, replaced: Seq[(String, Column)]) {
    def cleaned: Seq[Column] = replaced.map { case (name, value) => when(alert.isNull, value).as(name) }
  }

  /** (keys, cleaned columns, alert) of one rule. */
  private def validateBy(data: DataFrame, rule: Rule): DataFrame =
    data.select(keys.map(col) ++ rule.cleaned :+ rule.alert.as(rule.alertName): _*)

  /** V1 (reference :77-94): the second dplyr assignment overwrites the
    * first, so the live rule is only `landing_date < cutoff` → alert 1 +
    * mask (SURVEY.md V1 decision; the `landing_date > submission_date`
    * predicate is dead in the reference and therefore here too).
    */
  private def dateRule(cutoff: String): Rule =
    Rule("alert_date", when(col("landing_date") < lit(cutoff), 1.0),
      Seq("landing_date" -> col("landing_date")))

  /** V2/V3 (reference validate_nfishers :112-128 / validate_nboats
    * :147-162): negatives → alert + mask, then global LocScaleB upper
    * outliers of the masked column (logt; the bound is back-transformed
    * exp(b)-1 per alert_outlier :51, in [[collectBounds]]).
    */
  private final case class CountRule(column: String, code: Double) {
    /** What the bound is computed over. */
    val masked: Column =
      when(col(column) < 0, lit(null).cast(DoubleType)).otherwise(col(column).cast(DoubleType))
    def rule(upper: Column): Rule = Rule(s"alert_$column",
      coalesce(when(masked > upper, code), when(col(column) < 0, code)), Seq(column -> masked))
  }
  private val NFishers = CountRule("n_fishers", 2.0)
  private val NBoats = CountRule("n_boats", 3.0)

  /** The rows whose taxon has catch bounds (V4, V5): every taxon but the
    * no-catch markers. */
  private def eligible(data: DataFrame): DataFrame =
    data.filter(col("catch_taxon") =!= "0" && col("catch_taxon") =!= "no_catch")

  /** V5 (reference get_pricekg_bounds/validate_pricekg :252-316): two-sided
    * bounds per catch_taxon over the [[eligible]] rows (back-transform
    * exp(b), :260-263, in [[collectBounds]]), given as the row's
    * (lower, upper) struct; alert 4 masks price_kg AND catch_kg AND
    * catch_price.
    */
  private def priceRule(bounds: Column): Rule = Rule("alert_price",
    when(col("price_kg") >= bounds.getField("_2") || col("price_kg") <= bounds.getField("_1"), 4.0),
    Seq("price_kg", "catch_kg", "catch_price").map(c => c -> col(c)))

  /** Collected bounds, attached as constants: a count rule's upper bound
    * is a scalar literal, the price bounds a literal taxon → (lower,
    * upper) map looked up by the row's taxon. A bound that does not exist
    * — a column entirely null or negative has no bounds row, a guarded
    * column or taxon has null bounds, a taxon with no eligible price is
    * absent from the map (`getItem` of a missing key is null) — is a null
    * constant, so its alert never fires, as a left join would leave it.
    * The map is searched linearly per row: right for the reference's
    * dozens of taxa; with thousands, a broadcast join is the better
    * attach.
    */
  private final case class Constants(upper: Map[String, Double],
                                     price: Map[String, (Double, Double)]) {
    def upperOf(rule: CountRule): Column =
      upper.get(rule.column).fold(lit(null).cast(DoubleType))(lit(_))
    def priceBounds: Column = typedLit(price).getItem(col("catch_taxon"))
  }

  /** The bounds of `counts` (each count rule with its k) and, given
    * `kPriceKg`, of V5, from ONE query run and collected now: the count
    * columns stacked into one grouped [[Bounds.globalBoundsStacked]]
    * aggregation (two-pass exact: the group is the whole column, which the
    * single-buffer [[Bounds.CollectExact]] would hold on one reducer),
    * unioned with the per-taxon price bounds ([[Bounds.boundsAgg]]) —
    * one row per count column plus one per taxon.
    */
  private def collectBounds(data: DataFrame, counts: Seq[(CountRule, Double)],
                            kPriceKg: Option[Double]): Constants = {
    val global = Option.when(counts.nonEmpty)(Bounds.globalBoundsStacked(data,
        counts.map { case (r, k) => (r.column, r.masked, k) }, logt = true, Bounds.TwoPassExact)
      .select(lit(true).as("global"), col("column").as("key"),
        lit(null).cast(DoubleType).as("lb"), (exp(col("upper_up")) - 1).as("ub")))
    val price = kPriceKg.map(k =>
      Bounds.boundsAgg(eligible(data), Seq("catch_taxon"), "price_kg", k, logt = true)
        .select(lit(false).as("global"), col("catch_taxon").cast(StringType).as("key"),
          exp(col("lower_low")).as("lb"), exp(col("upper_up")).as("ub")))
    // lower and upper are null together (the LocScaleB guard), so only
    // rows with an upper bound become constants
    val (globalRows, priceRows) = (global ++ price).reduce(_ unionByName _).collect()
      .filterNot(_.isNullAt(3)).partition(_.getBoolean(0))
    Constants(globalRows.map(r => r.getString(1) -> r.getDouble(3)).toMap,
      priceRows.map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3))).toMap)
  }

  def validateDates(data: DataFrame, cutoff: String = DateCutoff): DataFrame =
    validateBy(data, dateRule(cutoff))

  private def validateCount(data: DataFrame, rule: CountRule, k: Double): DataFrame =
    validateBy(data, rule.rule(collectBounds(data, Seq(rule -> k), None).upperOf(rule)))

  def validateNFishers(data: DataFrame, k: Double): DataFrame = validateCount(data, NFishers, k)

  def validateNBoats(data: DataFrame, k: Double): DataFrame = validateCount(data, NBoats, k)

  def validatePriceKg(data: DataFrame, k: Double): DataFrame =
    validateBy(data, priceRule(collectBounds(data, Nil, Some(k)).priceBounds))

  /** V4 (reference get_catch_bounds/validate_catch :183-233 — defined but
    * not wired into validate_landings; kept as a first-class op): upper
    * bound per (gear, catch_taxon, weight_type), back-transform exp(b)
    * (no -1, :191), alert 4 when catch_kg ≥ upper. Attached by broadcast
    * join: a null `gear` group has bounds but matches no row, which a
    * struct-keyed literal map would not reproduce.
    */
  def validateCatch(data: DataFrame, k: Double): DataFrame = {
    val bounds = Bounds.boundsAgg(eligible(data),
      Seq("gear", "catch_taxon", "weight_type"), "catch_kg", k, logt = true)
      .select(col("gear"), col("catch_taxon"), col("weight_type"),
        exp(col("upper_up")).as("__ub"))
    data.join(broadcast(bounds), Seq("gear", "catch_taxon", "weight_type"), "left")
      .withColumn("alert_catch", when(col("catch_kg") >= col("__ub"), 4.0))
      .select(col("form_name"), col("survey_id"),
        when(col("alert_catch").isNull, col("catch_kg")).as("catch_kg"),
        col("alert_catch"))
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

  /** The reference-shaped chain: the four standalone validators, their
    * outputs joined back (J5, J6) — behind q_v7_validate_orchestration
    * and the equivalence tests; `Runner.validate` runs [[fused]].
    */
  def apply(preprocessed: DataFrame, ks: Ks = Ks()): ValidationResult = {
    // The validators run their three bounds queries here, when called;
    // the J5/J6 joins below stay LAZY (round 18, measured): the two
    // writes scan `preprocessed` once per validator projection and once
    // more for the J5 re-merge. A checkpoint-at-the-fork here was
    // tried and REVERTED: each consumer re-runs a COLUMN-PRUNED scan of
    // the upstream (2-4 columns of a narrow projection over parquet),
    // while the checkpoint materializes the full-width frame eagerly and
    // defeats that pruning — measured at sf1, the forked form ran
    // 15.0-25.1 s vs 8.2-12.6 s lazy (and was neutral at sf0.1). Callers
    // whose input is NOT a cheap pruned-scan projection (a join tree, a
    // preprocess chain) should checkpoint BEFORE calling, where they know
    // what the upstream costs — the same contract as Corpus.pplBuckets.
    val pre = preprocessed
    val outputs = Seq(
      validateDates(pre),
      validateNFishers(pre, ks.kNFishers),
      validateNBoats(pre, ks.kNBoats),
      validatePriceKg(pre, ks.kPriceKg))

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

  /** Fused validate_landings — the same rules as [[apply]] (equivalence
    * tested in PipelineSpec and RunnerSpec), restructured for scale like
    * the J1 fused gear assembly. Every rule derives from the SAME
    * preprocessed frame and its bounds are a handful of numbers, so the
    * faithful shape's 4 re-scans + 3 full-outer joins + the J5 re-merge
    * join chain collapse to:
    *
    *   1. ONE small query for all four rules' bounds ([[collectBounds]]),
    *      run and collected when `fused` is called — 2 + #taxa rows;
    *   2. ONE projection over preprocessed per output, reading those
    *      bounds as constants. No join, no broadcast, no exchange:
    *      writing `validated` or `alertFlags` is a scan-project-write job
    *      that re-runs nothing.
    *
    * Caveat shared with [[apply]]'s join semantics: (form_name, survey_id)
    * is assumed unique and non-null (it is a surrogate key, P7: Preprocess
    * pastes it from the submission id and the 1-based vessel and catch
    * indices, so it is never null); with duplicate keys the faithful form
    * fans out multiplicatively in its joins while this form cannot.
    */
  def fused(preprocessed: DataFrame, ks: Ks = Ks()): ValidationResult = {
    val bounds = collectBounds(preprocessed,
      Seq(NFishers -> ks.kNFishers, NBoats -> ks.kNBoats), Some(ks.kPriceKg))
    val rules = Seq(dateRule(DateCutoff), NFishers.rule(bounds.upperOf(NFishers)),
      NBoats.rule(bounds.upperOf(NBoats)), priceRule(bounds.priceBounds))

    // apply()'s using-column join emits the join keys first, then the
    // remaining left columns, then the cleaned ones — the same order
    val replaced = rules.flatMap(_.replaced.map(_._1)).toSet
    val kept = (keys ++ preprocessed.columns.filterNot(c => replaced(c) || keys.contains(c)))
      .map(c => col(s"`$c`"))
    val validated = preprocessed.select(kept ++ rules.flatMap(_.cleaned): _*)

    val flags = preprocessed.select(
      col("form_name"), col("survey_id"),
      concat_ws("-", rules.map(_.alert.cast(IntegerType).cast(StringType)): _*).as("alert_number"))

    ValidationResult(validated, flags)
  }
}
