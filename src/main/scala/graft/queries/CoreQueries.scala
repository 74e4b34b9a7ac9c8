package graft.queries

import graft.ops.Materialize.ForkOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Cleanse, Matching, Restructure}
import graft.pipeline.Preprocess
import graft.sources.{Sources, StageIO}

/** Correctness-gate queries for the structural/projection/join/window
  * operator families (SURVEY.md §2.1-§2.4, §2.6-§2.7), each re-expressed
  * over the driver's synthetic tables with a DuckDB oracle.
  */
object CoreQueries {

  /** S4: scan + schema-contract conformance — missing column padded with a
    * typed null, contract order applied (reference R/storage.R:36-48).
    */
  val s4ScanConform = Q("q_s4_scan_conform",
    (s, dir) => {
      val contract = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_comment", StringType), // absent in the data → padded null
        StructField("l_quantity", DoubleType)))
      Restructure.conformTo(Tables.lineitem(s, dir), contract)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
    Some("""SELECT l_orderkey, l_linenumber, CAST(NULL AS VARCHAR) AS l_comment, l_quantity
            FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** R1: recursive struct flatten with dot-joined path names (reference
    * flatten_with_names, R/ingestion.R:375-393). The nested input is built
    * in-plan; the flatten is the operator under test.
    */
  val r1Flatten = Q("q_r1_flatten",
    (s, dir) => {
      val nested = Tables.lineitem(s, dir).select(
        struct(col("l_orderkey"), col("l_linenumber")).as("key"),
        struct(
          struct(col("l_quantity"), col("l_discount")).as("amounts"),
          col("l_returnflag")).as("attrs"))
      Restructure.flattenStructs(nested)
        .orderBy(col("`key.l_orderkey`"), col("`key.l_linenumber`"),
          col("`attrs.amounts.l_quantity`"), col("`attrs.amounts.l_discount`"))
    },
    Some("""SELECT l_orderkey AS "key.l_orderkey", l_linenumber AS "key.l_linenumber",
              l_quantity AS "attrs.amounts.l_quantity", l_discount AS "attrs.amounts.l_discount",
              l_returnflag AS "attrs.l_returnflag"
            FROM lineitem ORDER BY 1, 2, 3, 4"""))

  /** R2: the survey-denormalizer shape — children nested per parent, then
    * posexplode_outer with a 1-based index and a null placeholder row for
    * parents with no children (reference process_survey,
    * R/ingestion.R:132-272; placeholder at :224-237).
    */
  val r2ExplodeIndex = Q("q_r2_explode_index",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        struct(col("o_orderkey"), col("o_totalprice")).as("item"))
      val nested = o.groupBy("o_custkey")
        .agg(sort_array(collect_list(col("item"))).as("items"))
      val base = Tables.customer(s, dir).select(col("c_custkey"))
        .join(nested, col("c_custkey") === col("o_custkey"), "left")
        .drop("o_custkey")
      Restructure.explodeWithIndex(base, "items", "order_number", "item")
        .select(col("c_custkey"), col("order_number"),
          col("item.o_orderkey").as("o_orderkey"),
          col("item.o_totalprice").as("o_totalprice"))
        .orderBy("c_custkey", "order_number")
    },
    Some("""SELECT c.c_custkey,
              CASE WHEN o.o_orderkey IS NOT NULL THEN
                CAST(ROW_NUMBER() OVER (PARTITION BY c.c_custkey ORDER BY o.o_orderkey) AS INTEGER)
              END AS order_number,
              o.o_orderkey, o.o_totalprice
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            ORDER BY c_custkey, order_number"""))

  /** R4+R5+R6: delimiter split into typed columns, regex column rename,
    * explicit reorder (reference R/preprocessing.R:276-280, :50-53;
    * R/validation.R:81-87).
    */
  val r4SplitRename = Q("q_r4_split_rename",
    (s, dir) => {
      val split3 = Restructure.splitInto(Tables.part(s, dir), "p_name", " ",
        Seq(("name_1", 0, StringType), ("name_2", 1, StringType), ("name_3", 2, StringType)))
      Restructure.renameAll(split3, c => c.replaceFirst("^p_", "part_"))
        .select("part_partkey", "part_brand", "name_1", "name_2", "name_3")
        .orderBy("part_partkey")
    },
    Some("""SELECT p_partkey AS part_partkey, p_brand AS part_brand,
              NULLIF(SPLIT_PART(p_name, ' ', 1), '') AS name_1,
              NULLIF(SPLIT_PART(p_name, ' ', 2), '') AS name_2,
              NULLIF(SPLIT_PART(p_name, ' ', 3), '') AS name_3
            FROM part ORDER BY part_partkey"""))

  /** P1+P7: coalesce-harmonization across form vocabularies (reference
    * R/preprocessing.R:56-92) + surrogate key with R paste's NA→"NA"
    * rendering (R/preprocessing.R:49; SURVEY.md §7 trap 1).
    */
  val p1Harmonize = Q("q_p1_p7_harmonize_key",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      o.select(
        col("o_orderkey"),
        Cleanse.pasteNA("-", col("o_orderkey"), nullif(col("o_orderstatus"), lit("O")),
          col("o_orderpriority")).as("survey_id"),
        coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")), col("o_orderstatus")).as("prio_or_status"),
        coalesce(when(col("o_totalprice") > 200000.0, col("o_totalprice")), lit(0.0)).as("big_price"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
              CONCAT_WS('-', COALESCE(CAST(o_orderkey AS VARCHAR), 'NA'),
                             COALESCE(NULLIF(o_orderstatus, 'O'), 'NA'),
                             COALESCE(o_orderpriority, 'NA')) AS survey_id,
              COALESCE(NULLIF(o_orderpriority, '1-URGENT'), o_orderstatus) AS prio_or_status,
              COALESCE(CASE WHEN o_totalprice > 200000.0 THEN o_totalprice END, 0.0) AS big_price
            FROM orders ORDER BY o_orderkey"""))

  /** P3+J1 fused form: the gear-effort CASE WHEN bank — a per-discriminator
    * source-column selection followed by suffix-family coalesce (reference
    * R/preprocessing.R:94-272). The reference materializes 9 frames and
    * 10-way full-outer-joins them back on the same key; since every frame
    * derives from the same scan this fuses to a single projection
    * (SURVEY.md J1 "fused" form) — no joins, no shuffle.
    */
  val p3CaseBank = Q("q_p3_casewhen_bank",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val typed = e.select(
        col("event_id"),
        col("event_type"),
        Cleanse.sourceByDiscriminator(col("event_type"),
          Seq(Seq("click", "view") -> col("value").cast(StringType))).as("ui_n_hrs"),
        Cleanse.sourceByDiscriminator(col("event_type"),
          Seq(Seq("purchase") -> col("value").cast(StringType))).as("buy_n_hrs"),
        Cleanse.sourceByDiscriminator(col("event_type"),
          Seq(Seq("signup", "error") -> col("value").cast(StringType))).as("sys_n_sets"))
      typed.select(
        col("event_id"), col("event_type"),
        Cleanse.coalesceFamily(typed, "n_hrs").as("effort_hrs"),
        Cleanse.coalesceFamily(typed, "n_sets").as("effort_sets"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type,
              COALESCE(CASE WHEN event_type IN ('click','view') THEN CAST(value AS VARCHAR) END,
                       CASE WHEN event_type = 'purchase' THEN CAST(value AS VARCHAR) END) AS effort_hrs,
              CASE WHEN event_type IN ('signup','error') THEN CAST(value AS VARCHAR) END AS effort_sets
            FROM events ORDER BY event_id"""))

  /** J1/J2 faithful form: per-category frames full-outer-joined back on
    * the shared key then family-coalesced — the reference's 10-way reduce
    * chain shape (R/preprocessing.R:252-272). The fused single-projection
    * equivalent is exercised by q_p3_casewhen_bank; this query keeps the
    * join-chain semantics under oracle (including keys present on only
    * one side surviving the full outer).
    */
  val j1MultiwayFullOuter = Q("q_j1_multiway_full_outer",
    (s, dir) => {
      val e = Tables.events(s, dir)
      def frame(t: String, name: String) =
        e.filter(col("event_type") === t)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(max(col("value")).as(name))
      val frames = Seq(
        frame("click", "click_n_hrs"), frame("view", "view_n_hrs"),
        frame("purchase", "purchase_n_sets"), frame("signup", "signup_n_sets"),
        frame("error", "error_n_hrs"))
      val joined = frames.reduce((a, b) => a.join(b, Seq("user_id", "day"), "full_outer"))
      joined.select(
        col("user_id"), col("day"),
        Cleanse.coalesceFamily(joined, "n_hrs").as("effort_hrs"),
        Cleanse.coalesceFamily(joined, "n_sets").as("effort_sets"))
        .orderBy("user_id", "day")
    },
    Some("""WITH f AS (
              SELECT user_id, CAST(ts AS DATE) AS day, event_type, MAX(value) AS v
              FROM events GROUP BY 1, 2, 3)
            SELECT user_id, day,
              COALESCE(MAX(CASE WHEN event_type = 'click' THEN v END),
                       MAX(CASE WHEN event_type = 'view' THEN v END),
                       MAX(CASE WHEN event_type = 'error' THEN v END)) AS effort_hrs,
              COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN v END),
                       MAX(CASE WHEN event_type = 'signup' THEN v END)) AS effort_sets
            FROM f GROUP BY 1, 2
            ORDER BY 1, 2"""))

  /** P4+P8: value recodes with pass-through default, lower/trim, and the
    * filter bank (reference R/preprocessing.R:357-398; P8 filters).
    */
  val p4Recode = Q("q_p4_p8_recode_filter",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      d.filter(col("lang").isNotNull && col("source") =!= "src0")
        .select(
          col("doc_id"),
          Cleanse.recode(col("lang"), Seq("en" -> "english", "fr" -> "french", "de" -> "german")).as("lang_recode"),
          trim(lower(col("source"))).as("source_clean"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CASE WHEN lang = 'en' THEN 'english'
                   WHEN lang = 'fr' THEN 'french'
                   WHEN lang = 'de' THEN 'german'
                   ELSE lang END AS lang_recode,
              TRIM(LOWER(source)) AS source_clean
            FROM documents WHERE lang IS NOT NULL AND source <> 'src0'
            ORDER BY doc_id"""))

  /** P5: R as.numeric semantics — unparseable → null, no error (reference
    * R/preprocessing.R:291-307; try_cast on both engines).
    */
  val p5TryCast = Q("q_p5_trycast",
    (s, dir) => {
      val e = Tables.events(s, dir)
      Cleanse.lenientCastDouble(
        e.select(col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).as("k_str"),
          col("event_type").as("bad_str")),
        Seq("k_str", "bad_str"))
        .withColumnRenamed("k_str", "k_val").withColumnRenamed("bad_str", "bad_val")
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
              TRY_CAST(REGEXP_EXTRACT(props, '"k":\s*(\d+)', 1) AS DOUBLE) AS k_val,
              TRY_CAST(event_type AS DOUBLE) AS bad_val
            FROM events ORDER BY event_id"""))

  /** P6+P10: derived ratio metric and constant currency scale (reference
    * R/preprocessing.R:308, inst/reports/malawi-report.qmd:152) — the
    * stage's own [[Preprocess.priceKg]], returnflag 'R' playing "total"
    * (l_quantity is never 0, so its R-style x/0 branch never fires).
    * Scalar IEEE ops — full precision, deterministic cross-engine.
    */
  val p6Derived = Q("q_p6_p10_derived",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        Preprocess.priceKg(col("l_extendedprice"), col("l_quantity"),
          when(col("l_returnflag") === "R", "total")).as("price_kg"),
        (col("l_extendedprice") * 0.0006).as("price_usd"))
        .orderBy("l_orderkey", "l_linenumber", "price_kg", "price_usd")
    },
    Some("""SELECT l_orderkey, l_linenumber,
              CASE WHEN l_returnflag = 'R' THEN l_extendedprice / l_quantity
                   ELSE l_extendedprice END AS price_kg,
              l_extendedprice * 0.0006 AS price_usd
            FROM lineitem ORDER BY l_orderkey, l_linenumber, price_kg, price_usd"""))

  /** J3: broadcast left join against a small dimension (reference catch
    * bounds join, R/validation-functions.R:225 — bounds/device tables are
    * tiny, so the build side broadcasts; no shuffle of the fact side).
    */
  val j3BroadcastLeft = Q("q_j3_broadcast_left",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_retailprice"), col("p_brand"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("p_brand"),
          (col("p_retailprice") - col("l_extendedprice") / col("l_quantity")).as("margin"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("margin"))
    },
    // (l_orderkey, l_linenumber, l_partkey) is not unique in the synthetic
    // data, so margin joins the sort key for a deterministic row order.
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, p_brand,
              p_retailprice - l_extendedprice / l_quantity AS margin
            FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
            ORDER BY l_orderkey, l_linenumber, l_partkey, margin NULLS FIRST"""))

  /** J5+J6: validator re-merge (left-join chain replacing columns) and the
    * alert unite — concat_ws natively skips nulls like tidyr::unite
    * na.rm (reference R/validation.R:70-95).
    */
  val j5Remerge = Q("q_j5_j6_remerge_unite",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val v1 = o.select(col("o_orderkey"),
        when(col("o_totalprice") > 300000.0, lit(1)).as("alert_price"))
      val v2 = o.select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", lit(2)).as("alert_status"))
      o.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .join(v1, Seq("o_orderkey"), "left")
        .join(v2, Seq("o_orderkey"), "left")
        .withColumn("alert_number",
          concat_ws("-", col("alert_price"), col("alert_status")))
        .drop("alert_price", "alert_status")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice, o_orderstatus,
              CONCAT_WS('-', CASE WHEN o_totalprice > 300000.0 THEN 1 END,
                             CASE WHEN o_orderstatus = 'F' THEN 2 END) AS alert_number
            FROM orders ORDER BY o_orderkey"""))

  /** J8+A2/W2 — the flagship 1:1 entity match: both sides restricted to
    * keys unique within the side (windowed count flag, not a reducing agg)
    * then inner-joined (reference R/merge_trips.R:85-109). Purchases play
    * the landings side, views the PDS-trips side.
    */
  val j8Match = Q("q_j8_match_1to1",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val landings = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), to_date(col("ts")).as("day"), col("event_id").as("landing_id"))
      val trips = e.filter(col("event_type") === "view")
        .select(col("user_id").as("k"), to_date(col("ts")).as("day"), col("event_id").as("trip_id"))
      Matching.oneToOneMatch(landings, trips, Seq("k", "day"))
        .select("k", "day", "unique_trip_per_day", "landing_id", "trip_id")
        .orderBy("k", "day")
    },
    Some("""WITH l AS (
              SELECT user_id AS k, CAST(ts AS DATE) AS day, event_id AS landing_id
              FROM events WHERE event_type = 'purchase'
              QUALIFY COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) = 1),
            r AS (
              SELECT user_id AS k, CAST(ts AS DATE) AS day, event_id AS trip_id
              FROM events WHERE event_type = 'view'
              QUALIFY COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) = 1)
            SELECT l.k, l.day, TRUE AS unique_trip_per_day, l.landing_id, r.trip_id
            FROM l JOIN r ON l.k = r.k AND l.day = r.day
            ORDER BY 1, 2"""))

  /** J9: track-points enrichment — big fact left-joined with a small
    * broadcast dimension (reference R/export.R:154-160).
    */
  val j9Enrich = Q("q_j9_points_enrich",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      e.join(broadcast(c), col("user_id") === col("c_custkey"), "left")
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, c_mktsegment
            FROM events LEFT JOIN customer ON user_id = c_custkey
            ORDER BY event_id"""))

  /** J10+A7: suffix-match lookup join against a broadcast registry with
    * per-probe match counts (reference R/validation-functions.R:364-374).
    */
  val j10Suffix = Q("q_j10_suffix_match",
    (s, dir) => {
      val probe = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_custkey").cast(StringType).as("imei"))
      val registry = Tables.supplier(s, dir)
        .select((lit(100000) + col("s_suppkey")).cast(StringType).as("r"))
      Matching.suffixMatchCount(probe, "imei", registry, "r")
        .orderBy("c_custkey")
    },
    Some("""WITH reg AS (SELECT DISTINCT CAST(100000 + s_suppkey AS VARCHAR) AS r FROM supplier),
              p AS (SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS imei FROM customer)
            SELECT p.c_custkey, p.imei, COUNT(reg.r) AS match_count,
              CASE WHEN COUNT(reg.r) = 1 THEN MIN(reg.r) END AS matched_value
            FROM p LEFT JOIN reg ON reg.r LIKE '%' || p.imei
            GROUP BY p.c_custkey, p.imei
            ORDER BY p.c_custkey"""))

  /** As-of backward join (extension operator — SURVEY.md notes the
    * reference's J8 is "as-of-flavored"; this is the general time-series
    * form): each purchase event picks up the latest preceding view by the
    * same user. Oracle: DuckDB's native ASOF JOIN.
    */
  val asofJoin = Q("q_asof_join_backward",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      Matching.asOfJoinBackward(purchases, views, Seq("user_id"), "ts", "ts",
        Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"), col("view_event_id"), col("view_value"))
        .orderBy("event_id")
    },
    Some("""SELECT l.event_id, l.user_id, r.event_id AS view_event_id, r.value AS view_value
            FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                  WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts
                            FROM events WHERE event_type = 'view') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY 1"""))

  /** Bucketed point-in-interval range join (extension operator): views
    * counted into a 30-minute lookback window before each purchase by the
    * same user. The bucket-equi rewrite ([[graft.ops.Matching
    * .rangeJoinBucketed]]) hash-joins on (user, 15-min bucket) instead of
    * the nested loop Spark would plan for the bare range predicate — the
    * spec asserts the plan shape. Zero-view windows survive via the final
    * left join (count 0), so the output covers every purchase.
    */
  val rangeJoin = Q("q_range_join_bucketed",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 1800 SECONDS")).as("w_start"), col("ts").as("w_end"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"))
      val counts = Matching.rangeJoinBucketed(
        views, purchases, Seq("user_id"), "ts", "w_start", "w_end", bucketSeconds = 900)
        .groupBy("event_id").agg(count(lit(1)).as("n_views"))
      purchases.select("event_id", "user_id")
        .join(counts, Seq("event_id"), "left")
        .na.fill(0L, Seq("n_views"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id, COUNT(v.ts) AS n_views
            FROM p LEFT JOIN v
              ON v.user_id = p.user_id
             AND v.ts >= p.ts - INTERVAL 1800 SECONDS AND v.ts <= p.ts
            GROUP BY 1, 2
            ORDER BY 1"""))

  /** Interval×interval overlap join ([[graft.ops.Matching
    * .intervalOverlapJoin]]): per-user purchase attribution windows
    * [ts−30 min, ts] against click activity windows [ts−15 min, ts],
    * emitting each overlapping pair once with its overlap length. The
    * bucket-equi rewrite keeps the hash-join shape (spec-asserted); the
    * oracle is the plain SQL overlap join — equivalence is the point.
    */
  val intervalOverlap = Q("q_interval_overlap",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val a = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("a_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 1800 SECONDS")).as("a_start"),
          col("ts").as("a_end"))
      val b = e.filter(col("event_type") === "click")
        .select(col("event_id").as("b_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 900 SECONDS")).as("b_start"),
          col("ts").as("b_end"))
      Matching.intervalOverlapJoin(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", bucketSeconds = 900)
        .select(col("a_id"), col("b_id"), col("user_id"),
          // NTZ→LTZ hop before the long cast (value-preserving under the
          // fixed UTC session timezone — the rangeJoinBucketed pattern)
          (least(col("a_end"), col("b_end")).cast("timestamp").cast("long") -
            greatest(col("a_start"), col("b_start")).cast("timestamp").cast("long"))
            .as("overlap_secs"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH p AS (SELECT event_id AS a_id, user_id,
                         CAST(ts AS TIMESTAMP) - INTERVAL 1800 SECONDS AS a_start,
                         CAST(ts AS TIMESTAMP) AS a_end
                       FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS b_id, user_id,
                      CAST(ts AS TIMESTAMP) - INTERVAL 900 SECONDS AS b_start,
                      CAST(ts AS TIMESTAMP) AS b_end
                    FROM events WHERE event_type = 'click')
            SELECT p.a_id, c.b_id, p.user_id,
              CAST(FLOOR(EPOCH(LEAST(a_end, b_end))) -
                   FLOOR(EPOCH(GREATEST(a_start, b_start))) AS BIGINT) AS overlap_secs
            FROM p JOIN c ON c.user_id = p.user_id
                         AND a_start <= b_end AND b_start <= a_end
            ORDER BY a_id, b_id"""))

  /** SO3: union-by-name with missing-column fill + origin tag (reference
    * bind_rows(.id="form_name"), R/ingestion.R:92).
    */
  val so3Union = Q("q_so3_union_by_name",
    (s, dir) => {
      val n = Tables.nation(s, dir).select(col("n_name").as("name"), col("n_nationkey").as("key"))
      val r = Tables.region(s, dir).select(col("r_name").as("name"))
      Restructure.unionByNameTagged("form_name", Seq("nation" -> n, "region" -> r))
        .select("form_name", "name", "key")
        .orderBy("form_name", "name")
    },
    Some("""SELECT 'nation' AS form_name, n_name AS name, n_nationkey AS key FROM nation
            UNION ALL
            SELECT 'region' AS form_name, r_name AS name, CAST(NULL AS INTEGER) AS key FROM region
            ORDER BY form_name, name"""))

  /** EXCEPT / INTERSECT set operations (distinct semantics on both
    * engines), tagged and unioned into one deterministic result:
    * nations with customers but no suppliers, and nations with both.
    */
  val soExceptIntersect = Q("q_so_except_intersect",
    (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val sup = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.except(sup).withColumn("op", lit("except"))
        .unionByName(c.intersect(sup).withColumn("op", lit("intersect")))
        .select("op", "nationkey")
        .orderBy("op", "nationkey")
    },
    Some("""SELECT 'except' AS op, nationkey FROM (
              SELECT c_nationkey AS nationkey FROM customer
              EXCEPT
              SELECT s_nationkey AS nationkey FROM supplier)
            UNION ALL
            SELECT 'intersect' AS op, nationkey FROM (
              SELECT c_nationkey AS nationkey FROM customer
              INTERSECT
              SELECT s_nationkey AS nationkey FROM supplier)
            ORDER BY op, nationkey"""))

  /** Skew-salted join ([[graft.ops.Matching.saltedJoin]]): the explicit
    * tool for pathological key skew AQE's runtime split can't always
    * catch (one key holding >1/parallelism of the fact side serializes a
    * reducer; salting spreads it across `saltFactor` reducers by
    * replicating the BUILD side, which must stay the small one). The
    * gate's contract is the whole point: salted ≡ plain join, so the
    * oracle is the unsalted SQL join. Result aggregated per brand so the
    * compare stays small; decimal-exact sums, A1 discipline.
    */
  val joinSalted = Q("q_join_salted",
    (s, dir) => {
      val fact = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      val dim = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      Matching.saltedJoin(fact, dim, Seq("partkey"), saltFactor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("qty")).cast(DoubleType).as("sum_qty"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, COUNT(*) AS n_lines,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY p_brand"""))

  /** Skew diagnostic ([[graft.ops.Matching.keySkewReport]]): the top-25
    * heaviest suppliers in lineitem with row count, share, and the salt
    * factor that would hold each at 10 rows/reducer (tiny target so the
    * gate exercises factors > 1). The oracle recomputes count/share/
    * ceil-division and the (n_rows desc, key asc) tie-broken top-k.
    */
  val joinSkewReport = Q("q_join_skew_report",
    (s, dir) =>
      Matching.keySkewReport(
        Tables.lineitem(s, dir).select(col("l_suppkey").as("suppkey")),
        Seq("suppkey"), topK = 25, targetRowsPerTask = 10L)
        .orderBy(col("n_rows").desc, col("suppkey")),
    Some("""SELECT l_suppkey AS suppkey, COUNT(*) AS n_rows,
              ROUND(CAST(COUNT(*) AS DOUBLE) /
                (SELECT COUNT(*) FROM lineitem), 9) AS share,
              CAST(FLOOR((COUNT(*) + 9.0) / 10.0) AS BIGINT) AS salt_factor
            FROM lineitem
            GROUP BY l_suppkey
            ORDER BY n_rows DESC, suppkey
            LIMIT 25"""))

  /** Measured-salt twin of [[joinSalted]]: the factor comes from
    * [[graft.ops.Matching.planSaltFactor]] on the actual fact side
    * (target 1000 rows/reducer forces a factor well above 1 at every
    * gate SF) — same contract, salted ≡ plain, same unsalted oracle.
    */
  val joinSaltedAuto = Q("q_join_salted_auto",
    (s, dir) => {
      val fact = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      val dim = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      Matching.saltedJoinAuto(fact, dim, Seq("partkey"),
        targetRowsPerTask = 1000L)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("qty")).cast(DoubleType).as("sum_qty"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, COUNT(*) AS n_lines,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY p_brand"""))

  /** Batch twin of the stream-stream time-bounded join ([[graft
    * .streaming.TrackStream.intervalJoinStreamStream]] — same transform
    * both modes, TrackStreamSpec pins streaming ≡ batch; this gate pins
    * the batch side to a DuckDB oracle, closing the loop): per sparse
    * "landing" event, how many tracker events of the same user fall
    * within ±10 minutes.
    */
  val joinStreamIntervalTwin = Q("q_join_stream_interval_twin",
    (s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val l = e.filter(pmod(col("event_id"), lit(10)) === 0)
      val r = e.filter(pmod(col("event_id"), lit(10)) =!= 0)
      val joined = graft.streaming.TrackStream
        .intervalJoinStreamStream(l, r, "user_id", "ts")
      val counts = joined.groupBy("event_id").agg(count(lit(1)).as("n_matches"))
      l.select("event_id")
        .join(counts, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"))
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events WHERE event_id % 10 = 0),
                 r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events WHERE event_id % 10 <> 0)
            SELECT l.event_id, CAST(COUNT(r.event_id) AS BIGINT) AS n_matches
            FROM l LEFT JOIN r ON l.user_id = r.user_id
              AND r.ts >= l.ts - INTERVAL '10 minutes'
              AND r.ts <= l.ts + INTERVAL '10 minutes'
            GROUP BY l.event_id ORDER BY l.event_id"""))

  /** Global consecutive row numbering ([[graft.ops.Corpus
    * .globalRowNumber]]): 1..N in (n_chars, doc_id) order WITHOUT a
    * global sort — exact-quantile range buckets + per-bucket parallel
    * window ranks + a broadcast offset frame. The oracle is the bare
    * single-reducer definition (`ROW_NUMBER() OVER (ORDER BY …)`), so
    * the gate proves the two-phase plan computes the identical
    * numbering.
    */
  val soGlobalRowNumber = Q("q_so_global_row_number",
    (s, dir) =>
      graft.ops.Corpus.globalRowNumber(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "doc_id", buckets = 16)
        .select("doc_id", "n_chars", "global_row")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_chars,
              ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS global_row
            FROM documents ORDER BY doc_id"""))

  /** SCD2 validity intervals ([[graft.ops.Restructure.scd2]]): each
    * user's event stream becomes versioned rows valid until the next
    * event, the current one open-ended — the temporal-dimension build
    * the as-of join consumes. event_id totalizes equal-timestamp order.
    */
  val scd2Intervals = Q("q_scd2_intervals",
    (s, dir) =>
      Restructure.scd2(
        Tables.events(s, dir).select("event_id", "user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type,
              STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
              STRFTIME(LEAD(CAST(ts AS TIMESTAMP)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
              LEAD(CAST(ts AS TIMESTAMP)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
            FROM events ORDER BY event_id"""))

  /** SO6+P9: cross-join scaffold of all key combinations, left-joined and
    * null-filled (reference tidyr::complete, qmd:69,124 + replace_na).
    */
  val so6Complete = Q("q_so6_complete_scaffold",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val counts = o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
      val scaffold = o.select("o_orderpriority").distinct()
        .crossJoin(o.select("o_orderstatus").distinct())
      scaffold.join(counts, Seq("o_orderpriority", "o_orderstatus"), "left")
        .na.fill(0L, Seq("n"))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Some("""WITH counts AS (
              SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
            SELECT s1.o_orderpriority, s2.o_orderstatus, COALESCE(c.n, 0) AS n
            FROM (SELECT DISTINCT o_orderpriority FROM orders) s1
            CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s2
            LEFT JOIN counts c ON c.o_orderpriority = s1.o_orderpriority
                              AND c.o_orderstatus = s2.o_orderstatus
            ORDER BY 1, 2"""))

  /** J2: the merged×gears full-outer assembly with dplyr NA-key matching
    * (reference R/preprocessing.R:275 — dplyr joins match NA keys by
    * default, `na_matches = "na"`): two per-(bucket, nullable-gear)
    * aggregates over disjoint order subsets, full-outer joined null-safely
    * via [[Restructure.joinNullSafe]] (`<=>`). The null-gear groups from
    * each side MUST pair up (unlike SQL equi-join where NULL ≠ NULL).
    */
  val j2NullSafeFullOuter = Q("q_j2_nullsafe_full_outer",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val gear = when(col("o_orderpriority") === "1-URGENT",
        lit(null).cast(StringType)).otherwise(col("o_orderpriority"))
      val base = o.select((col("o_custkey") % 100).as("k"), gear.as("gear"),
        col("o_orderkey"), col("o_totalprice"))
      val l = base.filter(col("o_orderkey") % 3 =!= 0)
        .groupBy("k", "gear")
        .agg(count(lit(1)).as("n_l"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_l"))
      val r = base.filter(col("o_orderkey") % 3 === 0)
        .groupBy("k", "gear")
        .agg(count(lit(1)).as("n_r"))
      Restructure.joinNullSafe(l, r, Seq("k", "gear"), "full_outer")
        .orderBy("k", "gear")
    },
    Some("""WITH base AS (
              SELECT o_custkey % 100 AS k,
                CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                     ELSE o_orderpriority END AS gear,
                o_orderkey, o_totalprice
              FROM orders),
            l AS (SELECT k, gear, COUNT(*) AS n_l,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l
                  FROM base WHERE o_orderkey % 3 <> 0 GROUP BY 1, 2),
            r AS (SELECT k, gear, COUNT(*) AS n_r
                  FROM base WHERE o_orderkey % 3 = 0 GROUP BY 1, 2)
            SELECT COALESCE(l.k, r.k) AS k, COALESCE(l.gear, r.gear) AS gear,
                   n_l, sum_l, n_r
            FROM l FULL JOIN r ON l.k IS NOT DISTINCT FROM r.k
                              AND l.gear IS NOT DISTINCT FROM r.gear
            ORDER BY k, gear NULLS FIRST"""))

  /** J7: IMEI-alerts left join — landings keep every row, device-validation
    * output attaches (imei, alert_number) where present (reference
    * R/merge_trips.R:85; wired in pipeline.Runner.mergeTrips).
    */
  val j7AlertsLeft = Q("q_j7_imei_alerts_left",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val alerts = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("survey_id"),
          concat(lit("869"), col("o_custkey").cast(StringType)).as("imei"),
          when(col("o_custkey") % 7 === 0, 2).otherwise(3).as("alert_number"))
      o.select(col("o_orderkey").as("survey_id"), col("o_orderstatus"), col("o_totalprice"))
        .join(alerts, Seq("survey_id"), "left")
        .orderBy("survey_id")
    },
    Some("""SELECT o_orderkey AS survey_id, o_orderstatus, o_totalprice,
              CASE WHEN o_orderkey % 5 = 0 THEN '869' || CAST(o_custkey AS VARCHAR) END AS imei,
              CASE WHEN o_orderkey % 5 = 0
                   THEN CASE WHEN o_custkey % 7 = 0 THEN 2 ELSE 3 END END AS alert_number
            FROM orders ORDER BY survey_id"""))

  /** R3: list-column standardizer (reference standardize_list_column,
    * R/preprocessing.R:466-494) — per-order nested sub-table, empty lists
    * normalized to NULL, then element-wise schema conform (pad the missing
    * `mesh_mm` field, cast, reorder — the gillnets fix-up,
    * R/preprocessing.R:328-333) and explode_outer so the normalized-NULL
    * rows survive as placeholder rows.
    */
  val r3ListStandardize = Q("q_r3_list_standardize",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val nested = li.groupBy("l_orderkey")
        .agg(sort_array(collect_list(when(col("l_quantity") >= 40,
          struct(col("l_linenumber").cast(LongType).as("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_quantity"))))).as("sub"))
      val contract = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("sub", ArrayType(StructType(Seq(
          StructField("l_linenumber", LongType),
          StructField("l_partkey", LongType),
          StructField("l_suppkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("mesh_mm", DoubleType)))))))
      val conformed = Restructure.conformTo(nested, contract)
      val standardized = conformed.withColumn("sub",
        when(size(col("sub")) === 0, lit(null)).otherwise(col("sub")))
      standardized
        .select(col("l_orderkey"), explode_outer(col("sub")).as("e"))
        .select(col("l_orderkey"), col("e.l_linenumber").as("l_linenumber"),
          col("e.l_partkey").as("l_partkey"), col("e.l_suppkey").as("l_suppkey"),
          col("e.l_quantity").as("l_quantity"), col("e.mesh_mm").as("mesh_mm"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },
    Some("""WITH nested AS (
              SELECT l_orderkey,
                LIST(struct_pack(
                       l_linenumber := CAST(l_linenumber AS BIGINT),
                       l_partkey := l_partkey,
                       l_suppkey := l_suppkey,
                       l_quantity := l_quantity)
                     ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity)
                  FILTER (WHERE l_quantity >= 40) AS sub
              FROM lineitem GROUP BY 1),
            std AS (
              SELECT l_orderkey,
                CASE WHEN sub IS NULL OR LEN(sub) = 0 THEN NULL ELSE sub END AS sub
              FROM nested),
            un AS (
              SELECT l_orderkey, UNNEST(sub) AS e FROM std WHERE sub IS NOT NULL)
            SELECT l_orderkey, e.l_linenumber AS l_linenumber,
                   e.l_partkey AS l_partkey, e.l_suppkey AS l_suppkey,
                   CAST(e.l_quantity AS DOUBLE) AS l_quantity,
                   CAST(NULL AS DOUBLE) AS mesh_mm
            FROM un
            UNION ALL
            SELECT l_orderkey, NULL, NULL, NULL, NULL, NULL FROM std WHERE sub IS NULL
            ORDER BY l_orderkey, l_linenumber NULLS FIRST, l_partkey NULLS FIRST,
                     l_suppkey NULLS FIRST"""))

  /** P2: drop-columns projections — scratch columns by prefix (`_*`,
    * reference R/preprocessing.R:54) and the export noise-column list
    * (reference R/export.R:161-164). The gate pins the schema: dropped
    * columns must be absent, survivors in order.
    */
  val p2DropColumns = Q("q_p2_drop_columns",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("_scratch_gps", concat_ws(" ",
          col("c_custkey").cast(StringType), col("c_nationkey").cast(StringType)))
        .withColumn("_corrupt_record", lit("raw"))
        .withColumn("Heading", lit(123.0))
        .withColumn("Boat Name", lit("noise"))
      val noPrefix = c.drop(c.columns.filter(_.startsWith("_")).toIndexedSeq: _*)
      noPrefix.drop("Boat", "Speed (M/S)", "Range (Meters)", "Heading", "Boat Name", "Community")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer ORDER BY c_custkey"""))

  /** A gate-scoped scratch table dir: created fresh per invocation (the
    * bench runs each gate once per pass — a shared path would make pass
    * N read pass N-1's table), deleted eagerly after the result is
    * localCheckpoint'd off it, so repeated passes don't accumulate
    * tmp-dir garbage.
    */
  private def withScratchTable(s: SparkSession)
                              (body: String => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_s5_gate")
    val tbl = s"$base/table"
    try body(tbl).lineageCut()
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(base.toFile)
    }
  }

  /** S5 (incremental-sink variant): appendDedup ≡ full-rerun equality,
    * through the DuckDB hash channel. Three batches against one stage
    * table: (1) odd order keys create it; (2) the FULL table — with a
    * mutated o_orderpriority so the oracle can see WHICH copy survived —
    * appends only the even keys (odd keys dup within their month and are
    * dropped, keeping batch 1's copy); (3) batch 2 replayed is a no-op
    * (idempotence — any appended row would break the row-count match).
    * The oracle states the declarative contract the incremental path
    * must land on: one row per key, first-writer-wins per month.
    * Reference context: the reference re-fetches full history and
    * truncate-loads every run (R/ingestion.R:43-58, R/storage.R:89);
    * appendDedup is the 100-TB incremental replacement whose observable
    * state must equal that full rerun.
    */
  val s5AppendDedup = Q("q_s5_append_dedup",
    (s, dir) => withScratchTable(s) { tbl =>
      val o = Tables.orders(s, dir)
      val batch1 = o.filter(col("o_orderkey") % 2 === 1)
      val batch2 = o.withColumn("o_orderpriority",
        concat(col("o_orderpriority"), lit("_v2")))
      StageIO.appendDedup(s, batch1, tbl, "o_orderdate", Seq("o_orderkey"))
      StageIO.appendDedup(s, batch2, tbl, "o_orderdate", Seq("o_orderkey"))
      StageIO.appendDedup(s, batch2, tbl, "o_orderdate", Seq("o_orderkey"))
      s.read.parquet(tbl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
          col("o_orderpriority"), col("__month"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS o_orderdate,
              CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                   ELSE o_orderpriority || '_v2' END AS o_orderpriority,
              STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS __month
            FROM orders ORDER BY o_orderkey"""))

  /** S5 (compaction variant): [[graft.sources.StageIO.compact]] is
    * content-preserving — a table written as many small files, compacted
    * to few, hash-equals the source data through the oracle channel.
    * The gate also pins the operational point: the file count actually
    * drops (compaction that preserved content but not the file-count
    * contract would pass a pure data compare).
    */
  val s5CompactRoundtrip = Q("q_s5_compact_roundtrip",
    (s, dir) => withScratchTable(s) { tbl =>
      StageIO.save(Tables.orders(s, dir).repartition(16), tbl)
      val before = new java.io.File(tbl).listFiles()
        .count(_.getName.endsWith(".parquet"))
      StageIO.compact(s, tbl) // sf-dir orders ≪ 128 MB → 1 output file
      val after = new java.io.File(tbl).listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(after < before && after == 1,
        s"compact left $after files (was $before); expected 1")
      s.read.parquet(tbl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS o_orderdate,
              o_orderpriority
            FROM orders ORDER BY o_orderkey"""))

  /** S2: PDS trips CSV source, fully oracled (round 16 — S5's conversion
    * recipe; S2 was fixture-tested only until now). A wire-shaped trips
    * payload (FIXTURES.md A3: ISO-8601 Zulu timestamps, the spaced
    * `Boat Name` header, comma-bearing free text riding quoted) is
    * generated deterministically from `orders`, written through Spark's
    * quoting CSV writer, parsed back through
    * [[graft.sources.Sources.pdsTrips]]'s typed contract, and
    * hash-matched against a DuckDB replay of the same derivation
    * straight from the parquet table — so header handling, timestamp
    * parsing, typed casts and quote unescaping are all on the hash path.
    * Reference: get_trips, R/ingestion.R:428-475.
    */
  val s2TripsCsv = Q("q_s2_trips_csv",
    (s, dir) => withScratchTable(s) { tmp =>
      val wire = Tables.orders(s, dir).select(
        col("o_orderkey").as("Trip"),
        lpad(col("o_custkey").cast(StringType), 15, "8").as("IMEI"),
        col("o_orderstatus").as("Boat"),
        col("o_orderpriority").as("Community"),
        to_timestamp(col("o_orderdate")).as("Started"),
        expr("to_timestamp(o_orderdate) + " +
          "make_interval(0, 0, 0, 0, o_orderkey % 24, 30, 0)").as("Ended"),
        // commas AND embedded quotes: the CSV quoting/unescaping path is
        // on the hash channel, not just happy-path tokens
        concat(col("o_orderpriority"), lit(", \""),
          col("o_orderstatus"), lit("\"")).as("Boat Name"))
      wire.coalesce(4).write.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .csv(tmp)
      Sources.pdsTrips(s, tmp)
        .select(col("Trip"), col("IMEI"), col("Boat"), col("Community"),
          date_format(col("Started"), "yyyy-MM-dd HH:mm:ss").as("Started"),
          date_format(col("Ended"), "yyyy-MM-dd HH:mm:ss").as("Ended"),
          col("Boat Name"))
        .orderBy("Trip")
    },
    Some("""SELECT o_orderkey AS Trip,
              LPAD(CAST(o_custkey AS VARCHAR), 15, '8') AS IMEI,
              o_orderstatus AS Boat,
              o_orderpriority AS Community,
              STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS Started,
              STRFTIME(CAST(o_orderdate AS TIMESTAMP) + to_hours(o_orderkey % 24)
                       + to_minutes(30), '%Y-%m-%d %H:%M:%S') AS Ended,
              o_orderpriority || ', "' || o_orderstatus || '"' AS "Boat Name"
            FROM orders ORDER BY Trip"""))

  /** S3: PDS trip-points CSV source, fully oracled (round 16; same
    * recipe as S2). Wire-shaped per-trip point payloads — the
    * parenthesized unit headers (`Speed (M/S)`, `Range (Meters)`),
    * typed doubles, JSON free text with embedded quotes in `Boat Name`
    * — derived from `events`, round-tripped through
    * [[graft.sources.Sources.pdsTripPoints]], DuckDB replaying the
    * derivation from parquet. The fan-out contract itself (one file per
    * trip → partition parallelism) is exercised by the multi-file write.
    * Reference: get_trip_points, R/ingestion.R:539-629.
    */
  val s3PointsCsv = Q("q_s3_points_csv",
    (s, dir) => withScratchTable(s) { tmp =>
      val wire = Tables.events(s, dir).select(
        col("event_id").as("Trip"),
        col("ts").as("Time"),
        (col("value") % 90).as("Lat"),
        (col("value") % 180 - 90).as("Lng"),
        col("event_type").as("Boat"),
        col("value").as("Speed (M/S)"),
        (col("value") * 3.5).as("Range (Meters)"),
        (col("event_id") % 360).cast(DoubleType).as("Heading"),
        col("props").as("Boat Name"),
        substring(col("event_type"), 1, 3).as("Community"))
      wire.coalesce(4).write.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .csv(tmp)
      Sources.pdsTripPoints(s, tmp)
        .select(col("Trip"),
          date_format(col("Time"), "yyyy-MM-dd HH:mm:ss").as("Time"),
          col("Lat"), col("Lng"), col("Boat"), col("Speed (M/S)"),
          col("Range (Meters)"), col("Heading"), col("Boat Name"),
          col("Community"))
        .orderBy("Trip")
    },
    Some("""SELECT event_id AS Trip,
              STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS Time,
              fmod(value, 90) AS Lat,
              fmod(value, 180) - 90 AS Lng,
              event_type AS Boat,
              value AS "Speed (M/S)",
              value * 3.5 AS "Range (Meters)",
              CAST(event_id % 360 AS DOUBLE) AS Heading,
              props AS "Boat Name",
              SUBSTRING(event_type, 1, 3) AS Community
            FROM events ORDER BY Trip"""))

  /** S1: Kobo nested-JSON source, fully oracled (round 17 — the last
    * dataflow-bearing source leg off the hash channel; S2/S3's recipe).
    * A wire-shaped submission payload — one JSON document per line with
    * Kobo's `_id`/`_uuid` system fields, the reference's injected
    * `asset_id` (process_asset, R/ingestion.R:307-312), and a
    * two-level nested survey group — is derived deterministically from
    * `customer` and written through Spark's text writer. Every 17th
    * document is TRUNCATED mid-string (always-malformed: the tail cut
    * removes the closing braces), so the PERMISSIVE-mode
    * corrupt-record isolation and drop — the Spark restatement of the
    * reference's per-record `purrr::possibly` tolerance
    * (R/ingestion.R:296) — is ON the hash channel, not just spec'd:
    * a parser that threw, kept, or half-parsed a corrupt document
    * would break the row count or the hash. Parse through
    * [[graft.sources.Sources.koboSubmissions]] (schema inference +
    * corrupt-drop), extract the nested fields, rename `_id` →
    * `submission_id` exactly as the reference does
    * (R/ingestion.R:324); DuckDB replays the surviving-document
    * derivation straight from the parquet table.
    */
  val s1KoboJson = Q("q_s1_kobo_json",
    (s, dir) => withScratchTable(s) { tmp =>
      val doc = Tables.customer(s, dir).select(
        col("c_custkey"),
        to_json(struct(
          col("c_custkey").as("_id"),
          concat(lit("uuid-"), col("c_custkey")).as("_uuid"),
          lit("malawi_catch_survey").as("asset_id"),
          struct(
            struct(col("c_name").as("name"),
              col("c_nationkey").as("nation")).as("group_info"),
            struct(col("c_acctbal").as("weight"),
              col("c_mktsegment").as("gear")).as("catch")).as("survey")))
          .as("j"))
      val wire = doc.select(
        when(col("c_custkey") % 17 === 0,
          expr("substring(j, 1, length(j) - 5)"))
          .otherwise(col("j")).as("value"))
      wire.coalesce(4).write.text(tmp)
      Sources.koboSubmissions(s, tmp)
        .select(col("_id").as("submission_id"),
          col("_uuid"), col("asset_id"),
          col("survey.group_info.name").as("group_name"),
          col("survey.group_info.nation").cast(IntegerType).as("group_nation"),
          col("survey.catch.weight").as("catch_weight"),
          col("survey.catch.gear").as("catch_gear"))
        .orderBy("submission_id")
    },
    Some("""SELECT c_custkey AS submission_id,
              'uuid-' || c_custkey AS "_uuid",
              'malawi_catch_survey' AS asset_id,
              c_name AS group_name,
              CAST(c_nationkey AS INTEGER) AS group_nation,
              c_acctbal AS catch_weight,
              c_mktsegment AS catch_gear
            FROM customer WHERE c_custkey % 17 <> 0 ORDER BY submission_id"""))

  def all: Seq[Q] = Seq(
    s4ScanConform, r1Flatten, r2ExplodeIndex, r4SplitRename, p1Harmonize,
    p3CaseBank, j1MultiwayFullOuter, j2NullSafeFullOuter, j7AlertsLeft,
    p2DropColumns, p4Recode, p5TryCast, p6Derived, r3ListStandardize,
    j3BroadcastLeft, j5Remerge, j8Match, j9Enrich, j10Suffix, asofJoin,
    rangeJoin, intervalOverlap, joinSalted, joinSaltedAuto, joinSkewReport,
    so3Union, soExceptIntersect,
    joinStreamIntervalTwin, soGlobalRowNumber, scd2Intervals, so6Complete,
    s5AppendDedup, s5CompactRoundtrip, s1KoboJson, s2TripsCsv, s3PointsCsv)
}
