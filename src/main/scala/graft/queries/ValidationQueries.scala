package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.pipeline.Validate

/** Correctness-gate queries for the validation operator family
  * (SURVEY.md §2.8): each gate renames synthetic-table columns to the
  * validator's input shape and runs the [[Validate]] function itself, so
  * the oracle certifies the code the pipeline runs. Each validator keeps
  * the reference contract: emit (key, cleaned value columns, alert
  * column); invalid values are masked to null with a numeric alert code.
  */
object ValidationQueries {

  /** V1: [[Validate.validateDates]] — the reference's second dplyr
    * assignment silently overwrites the first
    * (R/validation-functions.R:84-85), so the effective rule is only
    * `landing_date < cutoff` → alert 1 + mask (SURVEY.md V1 decision).
    */
  val v1Dates = Q("q_v1_validate_dates",
    (s, dir) =>
      Validate.validateDates(Tables.orders(s, dir).select(
          lit("f1").as("form_name"), col("o_orderkey").as("survey_id"),
          to_date(col("o_orderdate")).as("landing_date")), "1996-06-17")
        .select("survey_id", "landing_date", "alert_date")
        .orderBy("survey_id"),
    Some("""SELECT o_orderkey AS survey_id,
              CASE WHEN o_orderdate < '1996-06-17' THEN NULL
                   ELSE CAST(o_orderdate AS DATE) END AS landing_date,
              CASE WHEN o_orderdate < '1996-06-17' THEN CAST(1.0 AS DOUBLE) END AS alert_date
            FROM orders ORDER BY survey_id"""))

  /** V2: [[Validate.validateNFishers]] (reference validate_nfishers,
    * R/validation-functions.R:112-128): negatives alert 2 + mask first;
    * the outlier bounds are computed on the masked column (logt=TRUE),
    * back-transformed `exp(b)-1` (alert_outlier :51), upper-side alert
    * only. The validator runs the stage's own rule and bounds query
    * (the exact `locscaleb` aggregate over the whole column, attached as
    * a constant); `q_a5_locscaleb_bounds` gates the aggregate itself.
    */
  val v2Outlier = Q("q_v2_validate_nfishers",
    (s, dir) =>
      Validate.validateNFishers(Tables.customer(s, dir).select(
          lit("f1").as("form_name"), col("c_custkey").as("survey_id"),
          col("c_acctbal").as("n_fishers")), 2.5)
        .select("survey_id", "n_fishers", "alert_n_fishers")
        .orderBy("survey_id"),
    Some("""WITH base AS (
              SELECT c_custkey AS survey_id,
                CASE WHEN c_acctbal < 0 THEN CAST(2.0 AS DOUBLE) END AS alert_neg,
                CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS x
              FROM customer),
            x AS (SELECT survey_id, alert_neg, x, LN(1 + x) AS t FROM base),
            med AS (SELECT MEDIAN(x) AS mraw, MEDIAN(t) AS mt,
                           MAX(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS nz
                    FROM x WHERE x IS NOT NULL),
            mads AS (SELECT MEDIAN(ABS(x.x - med.mraw)) AS madraw,
                            MEDIAN(ABS(x.t - med.mt)) AS madt
                     FROM x, med WHERE x.x IS NOT NULL),
            bounds AS (
              SELECT CASE WHEN med.nz = 0 OR 1.4826 * mads.madraw <= 0 THEN NULL
                          ELSE EXP(med.mt + 2.5 * 1.4826 * mads.madt) - 1 END AS ub
              FROM med, mads)
            SELECT x.survey_id,
              CASE WHEN COALESCE(CASE WHEN x.x > b.ub THEN CAST(2.0 AS DOUBLE) END, x.alert_neg)
                   IS NULL THEN x.x END AS n_fishers,
              COALESCE(CASE WHEN x.x > b.ub THEN CAST(2.0 AS DOUBLE) END, x.alert_neg) AS alert_n_fishers
            FROM x, bounds b
            ORDER BY survey_id"""))

  /** V3: [[Validate.validateNBoats]] — same shape as V2 (reference
    * R/validation-functions.R:147-162), alert code 3, over the supplier
    * balance column; the same rule and bounds query as V2.
    */
  val v3Outlier = Q("q_v3_validate_nboats",
    (s, dir) =>
      Validate.validateNBoats(Tables.supplier(s, dir).select(
          lit("f1").as("form_name"), col("s_suppkey").as("survey_id"),
          col("s_acctbal").as("n_boats")), 2.5)
        .select("survey_id", "n_boats", "alert_n_boats")
        .orderBy("survey_id"),
    Some("""WITH base AS (
              SELECT s_suppkey AS survey_id,
                CASE WHEN s_acctbal < 0 THEN CAST(3.0 AS DOUBLE) END AS alert_neg,
                CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END AS x
              FROM supplier),
            x AS (SELECT survey_id, alert_neg, x, LN(1 + x) AS t FROM base),
            med AS (SELECT MEDIAN(x) AS mraw, MEDIAN(t) AS mt,
                           MAX(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS nz
                    FROM x WHERE x IS NOT NULL),
            mads AS (SELECT MEDIAN(ABS(x.x - med.mraw)) AS madraw,
                            MEDIAN(ABS(x.t - med.mt)) AS madt
                     FROM x, med WHERE x.x IS NOT NULL),
            bounds AS (
              SELECT CASE WHEN med.nz = 0 OR 1.4826 * mads.madraw <= 0 THEN NULL
                          ELSE EXP(med.mt + 2.5 * 1.4826 * mads.madt) - 1 END AS ub
              FROM med, mads)
            SELECT x.survey_id,
              CASE WHEN COALESCE(CASE WHEN x.x > b.ub THEN CAST(3.0 AS DOUBLE) END, x.alert_neg)
                   IS NULL THEN x.x END AS n_boats,
              COALESCE(CASE WHEN x.x > b.ub THEN CAST(3.0 AS DOUBLE) END, x.alert_neg) AS alert_n_boats
            FROM x, bounds b
            ORDER BY survey_id"""))

  /** Lineitem as catch rows for V4/V5: returnflag 'N' plays the
    * library's ineligible taxon "no_catch" — excluded from the bounds,
    * its rows kept with null bounds and never alerted. `catch_taxon` is
    * not a gate output, so the oracle keeps 'N'.
    */
  private def catches(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      lit("f1").as("form_name"),
      // (orderkey, linenumber) alone is not unique in the synthetic data
      concat_ws("-", col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")).as("survey_id"),
      col("l_linestatus").as("gear"),
      when(col("l_returnflag") === "N", "no_catch").otherwise(col("l_returnflag")).as("catch_taxon"),
      lit("kg").as("weight_type"),
      (col("l_extendedprice") / col("l_quantity")).as("price_kg"),
      col("l_quantity").as("catch_kg"),
      col("l_extendedprice").as("catch_price"))

  /** V5: [[Validate.validatePriceKg]] — per-taxon two-sided LocScaleB
    * price bounds masking all three monetary columns (reference
    * validate_pricekg, R/validation-functions.R:252-316; back-transform
    * `exp(b)`, no -1 — get_pricekg_bounds :260-263).
    */
  val v5PriceKg = Q("q_v5_validate_pricekg",
    (s, dir) =>
      Validate.validatePriceKg(catches(s, dir), 3.0)
        .select("survey_id", "price_kg", "catch_kg", "catch_price", "alert_price")
        .orderBy(col("survey_id"), col("catch_price")),
    Some("""WITH base AS (
              SELECT CONCAT_WS('-', l_orderkey, l_linenumber, l_partkey, l_suppkey) AS survey_id,
                     l_returnflag AS catch_taxon,
                     l_extendedprice / l_quantity AS price_kg,
                     l_extendedprice AS catch_price,
                     l_quantity AS catch_kg
              FROM lineitem),
            x AS (SELECT catch_taxon, price_kg AS raw, LN(1 + price_kg) AS t
                  FROM base WHERE catch_taxon <> 'N' AND price_kg IS NOT NULL),
            med AS (SELECT catch_taxon, MEDIAN(raw) AS mraw, MEDIAN(t) AS mt,
                           MAX(CASE WHEN raw <> 0 THEN 1 ELSE 0 END) AS nz
                    FROM x GROUP BY 1),
            mads AS (SELECT x.catch_taxon, MEDIAN(ABS(x.raw - med.mraw)) AS madraw,
                            MEDIAN(ABS(x.t - med.mt)) AS madt
                     FROM x JOIN med USING (catch_taxon) GROUP BY 1),
            bounds AS (
              SELECT med.catch_taxon,
                CASE WHEN med.nz = 0 OR 1.4826 * mads.madraw <= 0 THEN NULL
                     ELSE EXP(med.mt - 3.0 * 1.4826 * mads.madt) END AS lb,
                CASE WHEN med.nz = 0 OR 1.4826 * mads.madraw <= 0 THEN NULL
                     ELSE EXP(med.mt + 3.0 * 1.4826 * mads.madt) END AS ub
              FROM med JOIN mads USING (catch_taxon))
            SELECT base.survey_id,
              CASE WHEN a.alert IS NULL THEN base.price_kg END AS price_kg,
              CASE WHEN a.alert IS NULL THEN base.catch_kg END AS catch_kg,
              CASE WHEN a.alert IS NULL THEN base.catch_price END AS catch_price,
              a.alert AS alert_price
            FROM base
            LEFT JOIN bounds b USING (catch_taxon),
            LATERAL (SELECT CASE WHEN base.price_kg >= b.ub OR base.price_kg <= b.lb
                                 THEN CAST(4.0 AS DOUBLE) END AS alert) a
            ORDER BY survey_id, catch_price NULLS FIRST"""))

  /** V4: [[Validate.validateCatch]] — upper-only catch bound per (gear,
    * catch_taxon, weight_type), back-transform exp(b) WITHOUT -1
    * (get_catch_bounds :191); alert 4 on catch_kg ≥ upper, mask. Defined
    * but never invoked by the reference's validate_landings (SURVEY.md
    * V4) — kept as a first-class operator. Keys here: gear=l_linestatus,
    * taxon=l_returnflag, weight_type='kg'.
    */
  val v4Catch = Q("q_v4_validate_catch",
    (s, dir) =>
      Validate.validateCatch(catches(s, dir), 2.5)
        .select("survey_id", "catch_kg", "alert_catch")
        .orderBy(col("survey_id"), col("catch_kg")),
    Some("""WITH base AS (
              SELECT CONCAT_WS('-', l_orderkey, l_linenumber, l_partkey, l_suppkey) AS survey_id,
                     l_linestatus AS gear, l_returnflag AS catch_taxon,
                     l_quantity AS catch_kg
              FROM lineitem),
            x AS (SELECT gear, catch_taxon, catch_kg AS raw, LN(1 + catch_kg) AS t
                  FROM base WHERE catch_taxon <> 'N' AND catch_kg IS NOT NULL),
            med AS (SELECT gear, catch_taxon, COUNT(*) n, MEDIAN(raw) AS mraw, MEDIAN(t) AS mt,
                           MAX(CASE WHEN raw <> 0 THEN 1 ELSE 0 END) AS nz
                    FROM x GROUP BY 1, 2),
            mads AS (SELECT x.gear, x.catch_taxon,
                            MEDIAN(ABS(x.raw - med.mraw)) AS madraw,
                            MEDIAN(ABS(x.t - med.mt)) AS madt
                     FROM x JOIN med USING (gear, catch_taxon) GROUP BY 1, 2),
            bounds AS (
              SELECT med.gear, med.catch_taxon,
                CASE WHEN med.nz = 0 OR 1.4826 * mads.madraw <= 0 THEN NULL
                     ELSE EXP(med.mt + 2.5 * 1.4826 * mads.madt) END AS ub
              FROM med JOIN mads USING (gear, catch_taxon))
            SELECT base.survey_id,
              CASE WHEN base.catch_kg >= b.ub THEN NULL ELSE base.catch_kg END AS catch_kg,
              CASE WHEN base.catch_kg >= b.ub THEN CAST(4.0 AS DOUBLE) END AS alert_catch
            FROM base LEFT JOIN bounds b USING (gear, catch_taxon)
            ORDER BY survey_id, catch_kg NULLS FIRST"""))

  /** V6: [[Validate.attachImeis]], the IMEI validation merge_trips runs —
    * null/"0" pass-through, negative→abs, <9999 → alert 1, suffix match
    * against the device registry: exactly one match → canonical value,
    * several → alert 2, none → alert 3 (reference validate_this_imei,
    * R/validation-functions.R:339-375). Probe values synthesized to hit
    * every code path; survey_id is unique, so each verdict is its raw
    * value's.
    */
  val v6Imei = Q("q_v6_validate_imei",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      // registry capped at 300 devices: a device registry is a fixed-size
      // dimension, not something that grows with fact volume — without the
      // cap the synthetic registry scales with sf and the BNLJ suffix scan
      // degrades quadratically in sf even though the operator is fine
      val sup = Tables.supplier(s, dir).filter(col("s_suppkey") <= 300)
      val registry = sup.select((lit(9000000) + col("s_suppkey")).cast(StringType).as("r"))
        .union(sup.select((lit(1100000) + col("s_suppkey")).cast(StringType).as("r")))
        .union(sup.select((lit(11100000) + col("s_suppkey")).cast(StringType).as("r")))
      val m = col("c_custkey") % 7
      val probe = c.select(
        col("c_custkey").as("survey_id"),
        when(m === 0, lit(null).cast(StringType))
          .when(m === 1, lit("0"))
          .when(m === 2, concat(lit("-"), (col("c_custkey") % 9000 + 1).cast(StringType)))
          .when(m === 3, lit("500"))
          .when(m === 4, (lit(9000000) + col("c_custkey") % 10 + 1).cast(StringType))
          .when(m === 5, (lit(80000) + col("c_custkey") % 10).cast(StringType))
          .otherwise((lit(1100000) + col("c_custkey") % 10 + 1).cast(StringType))
          .as("imei_raw"))
      Validate.attachImeis(probe, "imei_raw", registry, "r")
        .select("survey_id", "imei", "alert_number")
        .orderBy("survey_id")
    },
    Some("""WITH sup AS (SELECT s_suppkey FROM supplier WHERE s_suppkey <= 300),
            reg AS (
              SELECT CAST(9000000 + s_suppkey AS VARCHAR) AS r FROM sup
              UNION ALL SELECT CAST(1100000 + s_suppkey AS VARCHAR) FROM sup
              UNION ALL SELECT CAST(11100000 + s_suppkey AS VARCHAR) FROM sup),
            probe AS (
              SELECT c_custkey AS survey_id,
                CASE WHEN c_custkey % 7 = 0 THEN NULL
                     WHEN c_custkey % 7 = 1 THEN '0'
                     WHEN c_custkey % 7 = 2 THEN '-' || CAST(c_custkey % 9000 + 1 AS VARCHAR)
                     WHEN c_custkey % 7 = 3 THEN '500'
                     WHEN c_custkey % 7 = 4 THEN CAST(9000000 + c_custkey % 10 + 1 AS VARCHAR)
                     WHEN c_custkey % 7 = 5 THEN CAST(80000 + c_custkey % 10 AS VARCHAR)
                     ELSE CAST(1100000 + c_custkey % 10 + 1 AS VARCHAR) END AS imei_raw
              FROM customer),
            norm AS (
              SELECT survey_id, imei_raw, ABS(TRY_CAST(imei_raw AS DOUBLE)) AS imei_num,
                     CAST(CAST(ABS(TRY_CAST(imei_raw AS DOUBLE)) AS BIGINT) AS VARCHAR) AS imei_str
              FROM probe),
            matched AS (
              SELECT n.survey_id, n.imei_raw, n.imei_num,
                     COUNT(reg.r) AS match_count, MIN(reg.r) AS only_match
              FROM norm n LEFT JOIN reg ON reg.r LIKE '%' || n.imei_str
              GROUP BY 1, 2, 3)
            SELECT survey_id,
              CASE WHEN imei_raw IS NULL OR imei_raw = '0' THEN NULL
                   WHEN imei_num < 9999 THEN NULL
                   WHEN match_count = 1 THEN only_match
                   ELSE NULL END AS imei,
              CASE WHEN imei_raw IS NULL OR imei_raw = '0' THEN NULL
                   WHEN imei_num < 9999 THEN 1
                   WHEN match_count = 1 THEN NULL
                   WHEN match_count > 1 THEN 2
                   ELSE 3 END AS alert_number
            FROM matched ORDER BY survey_id"""))

  /** V7: the validate_landings orchestration end-to-end (reference
    * R/validation.R:36-106) — V1+V2+V3+V5 over one preprocessed-shaped
    * frame, alert columns united with na.rm semantics (J6). The output
    * gated here is the `alert_flags` frame the reference computes but
    * never persists (kept first-class per SURVEY.md V7). Exercises
    * [[Validate.apply]] itself, including the global bounds of V2/V3.
    */
  private def v7Base(s: SparkSession, dir: String) = {
    val li = Tables.lineitem(s, dir)
    // survey_id must be UNIQUE (it is the P7 surrogate key both validate
    // forms join on): the 4-part key collides at sf0.001, and a duplicate
    // key fans out 2^4× in the faithful full-outer chain while the fused
    // form cannot — adding the (integral) quantity makes the key unique at
    // every sf, keeping the two forms' shared oracle honest at all scales
    li.select(
      lit("f1").as("form_name"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").cast(LongType)).as("survey_id"),
      col("l_shipdate").as("landing_date"),
      when(col("l_suppkey") % 97 === 0, -col("l_quantity"))
        .otherwise(col("l_quantity")).as("n_fishers"),
      col("l_linenumber").cast(DoubleType).as("n_boats"),
      col("l_returnflag").as("catch_taxon"),
      (col("l_extendedprice") / col("l_quantity")).as("price_kg"),
      col("l_quantity").as("catch_kg"),
      col("l_extendedprice").as("catch_price"))
  }

  val v7Orchestration = Q("q_v7_validate_orchestration",
    (s, dir) =>
      Validate(v7Base(s, dir)).alertFlags
        .orderBy("survey_id"),
    Some(V7OracleSql))

  /** The FUSED validate orchestration ([[Validate.fused]]), the form
    * `Runner.validate` runs: one small bounds query + ONE wide projection
    * instead of the faithful 4-rescan / 3-full-outer chain — the same
    * rules, so it shares the faithful gate's oracle verbatim. Both forms
    * hash-matching the same DuckDB twin at sf0.01 certifies the join
    * shapes' equivalence; the rules themselves are one definition.
    */
  val v7Fused = Q("q_v7_validate_fused",
    (s, dir) =>
      Validate.fused(v7Base(s, dir)).alertFlags
        .orderBy("survey_id"),
    Some(V7OracleSql))

  private lazy val V7OracleSql: String = """WITH base AS (
              SELECT 'f1' AS form_name,
                CONCAT_WS('-', l_orderkey, l_linenumber, l_partkey, l_suppkey,
                  CAST(l_quantity AS BIGINT)) AS survey_id,
                l_shipdate AS landing_date,
                CASE WHEN l_suppkey % 97 = 0 THEN -l_quantity ELSE l_quantity END AS n_fishers,
                CAST(l_linenumber AS DOUBLE) AS n_boats,
                l_returnflag AS catch_taxon,
                l_extendedprice / l_quantity AS price_kg
              FROM lineitem),
            nfx AS (SELECT survey_id,
                      CASE WHEN n_fishers < 0 THEN CAST(2.0 AS DOUBLE) END AS alert_neg,
                      CASE WHEN n_fishers < 0 THEN NULL ELSE CAST(n_fishers AS DOUBLE) END AS x
                    FROM base),
            nft AS (SELECT survey_id, alert_neg, x, LN(1 + x) AS t FROM nfx),
            nfmed AS (SELECT MEDIAN(x) AS mraw, MEDIAN(t) AS mt,
                             MAX(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS nz
                      FROM nft WHERE x IS NOT NULL),
            nfmad AS (SELECT MEDIAN(ABS(n.x - m.mraw)) AS madraw,
                             MEDIAN(ABS(n.t - m.mt)) AS madt
                      FROM nft n, nfmed m WHERE n.x IS NOT NULL),
            nfb AS (SELECT CASE WHEN m.nz = 0 OR 1.4826 * d.madraw <= 0 THEN NULL
                                ELSE EXP(m.mt + 2.5 * 1.4826 * d.madt) - 1 END AS ub
                    FROM nfmed m, nfmad d),
            a2 AS (SELECT n.survey_id,
                     COALESCE(CASE WHEN n.x > b.ub THEN CAST(2.0 AS DOUBLE) END, n.alert_neg) AS alert_n_fishers
                   FROM nft n, nfb b),
            nbx AS (SELECT survey_id, n_boats AS x, LN(1 + n_boats) AS t FROM base),
            nbmed AS (SELECT MEDIAN(x) AS mraw, MEDIAN(t) AS mt,
                             MAX(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS nz
                      FROM nbx WHERE x IS NOT NULL),
            nbmad AS (SELECT MEDIAN(ABS(n.x - m.mraw)) AS madraw,
                             MEDIAN(ABS(n.t - m.mt)) AS madt
                      FROM nbx n, nbmed m WHERE n.x IS NOT NULL),
            nbb AS (SELECT CASE WHEN m.nz = 0 OR 1.4826 * d.madraw <= 0 THEN NULL
                                ELSE EXP(m.mt + 2.5 * 1.4826 * d.madt) - 1 END AS ub
                    FROM nbmed m, nbmad d),
            a3 AS (SELECT n.survey_id,
                     CASE WHEN n.x > b.ub THEN CAST(3.0 AS DOUBLE) END AS alert_n_boats
                   FROM nbx n, nbb b),
            px AS (SELECT catch_taxon, price_kg AS raw, LN(1 + price_kg) AS t
                   FROM base WHERE price_kg IS NOT NULL),
            pmed AS (SELECT catch_taxon, MEDIAN(raw) AS mraw, MEDIAN(t) AS mt,
                            MAX(CASE WHEN raw <> 0 THEN 1 ELSE 0 END) AS nz
                     FROM px GROUP BY 1),
            pmad AS (SELECT px.catch_taxon, MEDIAN(ABS(px.raw - pmed.mraw)) AS madraw,
                            MEDIAN(ABS(px.t - pmed.mt)) AS madt
                     FROM px JOIN pmed USING (catch_taxon) GROUP BY 1),
            pb AS (SELECT pmed.catch_taxon,
                     CASE WHEN pmed.nz = 0 OR 1.4826 * pmad.madraw <= 0 THEN NULL
                          ELSE EXP(pmed.mt - 3.0 * 1.4826 * pmad.madt) END AS lb,
                     CASE WHEN pmed.nz = 0 OR 1.4826 * pmad.madraw <= 0 THEN NULL
                          ELSE EXP(pmed.mt + 3.0 * 1.4826 * pmad.madt) END AS ub
                   FROM pmed JOIN pmad USING (catch_taxon)),
            a5 AS (SELECT base.survey_id,
                     CASE WHEN base.price_kg >= pb.ub OR base.price_kg <= pb.lb
                          THEN CAST(4.0 AS DOUBLE) END AS alert_price
                   FROM base LEFT JOIN pb USING (catch_taxon)),
            a1 AS (SELECT survey_id,
                     CASE WHEN landing_date < '2020-12-31' THEN CAST(1.0 AS DOUBLE) END AS alert_date
                   FROM base)
            SELECT 'f1' AS form_name, a1.survey_id,
              CONCAT_WS('-',
                CAST(CAST(a1.alert_date AS INTEGER) AS VARCHAR),
                CAST(CAST(a2.alert_n_fishers AS INTEGER) AS VARCHAR),
                CAST(CAST(a3.alert_n_boats AS INTEGER) AS VARCHAR),
                CAST(CAST(a5.alert_price AS INTEGER) AS VARCHAR)) AS alert_number
            FROM a1 JOIN a2 USING (survey_id) JOIN a3 USING (survey_id) JOIN a5 USING (survey_id)
            ORDER BY survey_id"""

  def all: Seq[Q] = Seq(v1Dates, v2Outlier, v3Outlier, v4Catch, v5PriceKg, v6Imei,
    v7Orchestration, v7Fused)
}
