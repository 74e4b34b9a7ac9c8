package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Bpe, Corpus, Dedup, Graph, Layout, Multimodal, Similarity, Text, Unigram}

/** Composed curation end-to-end gates: default, screens-ON, minhash family and raw-corpus scale variants.
  *
  * Split from CurationQueries (round 13) for navigation only — gate
  * bodies are verbatim; the aggregator preserves the original catalog
  * order.
  */
private[graft] object CurationCurateQueries {
  /** End-to-end curation pipeline gate: the full composed stage
    * (graft.pipeline.Curate — exact dedup → near-dup keep-one → quality
    * filter → PII scrub → hash split → chunking) against ONE DuckDB
    * oracle that re-derives every step relationally. Per-op gates can't
    * catch composition bugs (filter-before-dedup changing cluster minima,
    * scrub-after-chunk shifting window boundaries, split keyed on the
    * wrong text) — this one does: any reordering moves chunk boundaries
    * or split labels and fails the hash.
    *
    * The corpus carries no PII, so the gate plants one constant
    * email+URL+phone tail on every document (same string for all docs —
    * a doc_id-specific tail would destroy the exact-dup groups the dedup
    * steps need to exercise). The scrub step must strip it before the
    * split key and chunk windows are computed.
    */
  val curateE2E = Q("q_curate_e2e",
    (s, dir) => {
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567"))
          .as("text"))
      graft.pipeline.Curate(planted).orderBy("doc_id", "chunk_id")
    },
    Some(curateOracle(plantTail = true)))

  /** Screens-ON twin of [[curateE2E]] — the round-11 verdict's
    * composition-gap item: foldAccents, the CCNet perplexity-bucket
    * screen and DSIR selection are each per-op-oracled but ran
    * default-OFF in both e2e gates, leaving exactly the
    * fold→dedup-keying and screen→quality-ordering composition surface
    * untested. This gate runs the chain with all three on:
    *
    *   - the corpus is doubled with ACCENTED TWINS (doc_id+10⁷,
    *     a/e→á/é) — fold-before-dedup collapses every twin into its
    *     original's exact-dup bucket (keep-one drops it); fold in any
    *     later slot would leave twins alive (their shingles differ in
    *     nearly every position, so near-dup wouldn't catch them) and
    *     shift every downstream hash;
    *   - the perplexity screen (keep head+middle) is FIT on the deduped
    *     survivors — fitting on the raw corpus would double-weight the
    *     twins' tokens and move the tertile cuts;
    *   - DSIR (top-120 vs the src0–3 target) runs LAST of the
    *     document-level stages, over quality-passing docs only.
    *
    * One oracle replays the whole composition: strip_accents → exact
    * dedup → near-dup closure → LM fit + tertile cuts + keep → token
    * band → hashed-unigram importance weights + top-k cut → scrub →
    * split → chunk. Any stage reordering moves the final chunk set.
    *
    * COST NOTE (measured round 13 — the earlier "2×docs ≈ 4×pairs"
    * claim was WRONG and contradicted the first bullet above: the
    * accent twins collapse into exact-dup buckets BEFORE any shingle
    * exists, so the candidate stage sees the same corpus as curateE2E
    * and costs the same ~9 s): this is the suite's most expensive gate
    * (~21-25 s vs curateE2E's ~12.5 s clean at sf0.1) because of the
    * screens TAIL — the perplexity screen fits an LM on the deduped
    * survivors and scores every doc, and DSIR runs two hashed-unigram
    * passes plus a top-k cut: 14.4 s, ~58% of the gate wall
    * (docs/CURATE_SCREENS_ATTRIBUTION.md; per-stage table from
    * `CurateProfile <reps> screens`, a tool in commit 0adf981). Like curateE2E it is excluded
    * from every scale set — the composition coverage needs the planted
    * structure; scaling claims don't.
    */
  val curateE2EScreens = Q("q_curate_e2e_screens",
    (s, dir) => {
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567"))
          .as("text"),
        col("lang"), col("source"))
      val twins = planted.select(
        (col("doc_id") + lit(10000000L)).as("doc_id"),
        translate(col("text"), "ae", "\u00e1\u00e9").as("text"),
        col("lang"), col("source"))
      val target = planted.filter(col("source").isin("src0", "src1", "src2", "src3"))
      graft.pipeline.Curate(planted.unionByName(twins),
        foldAccents = true,
        pplKeepBuckets = Seq("head", "middle"), pplLangCol = Some("lang"),
        dsirTarget = Some(target), dsirK = 120)
        .orderBy("doc_id", "chunk_id")
    },
    Some(curateScreensOracle))

  /** MinHash-family twin of [[curateE2E]]: the identical composed
    * pipeline with `nearDupFamily = "minhash"` — the keep-one stage's
    * candidates come from 64×2 banding instead of the shingle inverted
    * index. Threshold 0.5 (the banding config's oracled operating point:
    * a true pair at j ≥ 0.5 escapes all bands with p ≈ 1e-8, so the
    * exact-definition oracle applies — same argument as [[dedupMinhash]];
    * at the planted corpus's 0.2 the banding would need planner-sized
    * re-tuning and the pair list is corpus²-shaped anyway). What this
    * gate pins is the COMPOSITION: the family swap must change only
    * which pairs fn runs — exact dedup before it, and every stage after
    * the keep-one (quality, scrub, split, chunk), must hash identically
    * against the shared oracle body at the matching threshold.
    *
    * SCALE POSTURE: excluded from every scale set, like its planted
    * siblings — and with a second, family-specific reason: the gate's
    * FIXED 64×2 banding (pinned for oracle determinism) is the planner
    * trap at corpus scale. On the planted corpus every pair has
    * background similarity ≈ 0.1 through the shared tail, and r=2 gives
    * each pair a ~47% per-run band-collision probability at 500k docs —
    * ~10¹¹ candidates (measured: heap OOM at sf100, while the
    * planner-sized q_dedup_minhash_lsh_auto runs the same corpus in
    * ~30 s). Scale users set `minhashBands = 0` (curation.minhash_bands)
    * to get planMinhashLsh sizing from the actual corpus.
    */
  val curateE2EMinhash = Q("q_curate_e2e_minhash",
    (s, dir) => {
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567"))
          .as("text"))
      graft.pipeline.Curate(planted, jaccardThreshold = 0.5,
        nearDupFamily = "minhash")
        .orderBy("doc_id", "chunk_id")
    },
    Some(curateOracle(plantTail = true, jaccardThreshold = 0.5)))

  /** Scale twin of [[curateE2E]]: the identical composed pipeline over
    * the RAW corpus — no planted contact tail. The planted gate's corpus
    * is quadratic BY CONSTRUCTION at scale: every document shares the
    * same 9-token tail, so at jaccard 0.2 any two sufficiently short
    * documents are GENUINE near-dups through the tail alone (the true
    * pair count grows as corpus², ~11M pairs at 50k docs) — correct for
    * exercising scrub+dedup composition at gate scale, meaningless as a
    * scale benchmark. This twin is what belongs in a scale smoke: the
    * raw corpus' near-dup structure stays sparse as it grows.
    */
  val curateE2EScale = Q("q_curate_e2e_scale",
    (s, dir) =>
      graft.pipeline.Curate(Tables.documents(s, dir)).orderBy("doc_id", "chunk_id"),
    Some(curateOracle(plantTail = false)))

  /** Trained-LR-screen twin of [[curateE2E]] (round 17): the composed
    * pipeline with the [[graft.ops.Classifier]] quality screen ON —
    * positives = the src0–3 reference slice (planted tail included),
    * negatives = the pipeline's own deduped survivors (the CCNet
    * "reference vs crawl" posture; class overlap is expected — the
    * boundary learns "more reference-like than not"), 6 quantized-
    * gradient iterations, keep the TOP-200 by score (score desc, id
    * tiebreak — the budgeted DSIR-style cut, the right operating mode
    * when the reference slice is drawn from the corpus itself: class
    * overlap plus the negative prior pushes every absolute score below
    * ½, so a fixed threshold keeps nothing — measured 0.189–0.214 on
    * this corpus — while the RANKING still orders documents by
    * reference-likeness). What this gate pins is the COMPOSITION plus
    * the TRAINING-inside-the-pipeline replay: the oracle re-runs exact
    * dedup → near-dup closure → the full LR training chain
    * ([[graft.ops.Classifier.lrOracleCtes]] spliced into the pipeline
    * WITH) → per-doc softsign scoring → the rank cut → token band →
    * scrub → split → chunk. A screen fit on the wrong corpus slice
    * (raw instead of deduped survivors), a reordered slot, or one ulp
    * of training drift moves the final chunk set.
    *
    * COST NOTE (measured r17b/c at sf0.1): 10.2–13.6 s per pass ≈
    * [[curateE2E]] + ~0.5–1.5 s — the screen's marginal cost is six
    * F+1-column aggregation passes over a ~5k-row feature frame plus
    * one scoring scan; the planted near-dup stage dominates, exactly
    * as in the siblings. Excluded from every scale set like them (the
    * planted corpus is corpus²-shaped by construction).
    */
  val curateE2ELrQuality = Q("q_curate_e2e_lrquality",
    (s, dir) => {
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567"))
          .as("text"),
        col("source"))
      val target = planted
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .select(col("text"))
      graft.pipeline.Curate(planted.select(col("doc_id"), col("text")),
        lrQualityTarget = Some(target), lrQualityKeepK = 200)
        .orderBy("doc_id", "chunk_id")
    },
    Some(curateLrOracle))

  /** Oracle for [[curateE2ELrQuality]]: the [[curateOracle]] body with
    * the trained screen spliced between the near-dup survivors and the
    * token-band filter. The splice re-derives the quality-ratio
    * features (the `q_text_quality`-proven SQL) for the positive slice
    * and the survivors, runs the training replay, scores every
    * survivor with the identical softsign arithmetic, and narrows `qf`
    * to the keeps.
    */
  // The 4 ratio features (x1..x4 in the Spark featureCols order:
  // mean_token_len, punct_ratio, upper_ratio, stopword_hit_ratio)
  // over a relation exposing `text` (+ carried id columns) — shared by
  // both LR-screen e2e oracles.
  private[queries] def lrStatsSql(rel: String, carry: String) =
      s"""SELECT $carry
         |       LEN(text) AS n_chars,
         |       LEN(LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '), x -> x <> '')) AS n_tokens,
         |       LEN(REGEXP_EXTRACT_ALL(text, '[\\.,;:!\\?"'']')) AS n_punct,
         |       LEN(REGEXP_EXTRACT_ALL(text, '[A-Z]')) AS n_upper,
         |       LEN(LIST_INTERSECT(
         |         LIST_DISTINCT(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' ')),
         |         ['the','a','of','and','to','in','is','that','it','for'])) AS n_stop
         |FROM $rel""".stripMargin

  private[queries] def lrRatiosSql(carry: String) =
      s"""$carry
         |  1.0 AS x0,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens ELSE 0.0 END AS x1,
         |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS x2,
         |  CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END AS x3,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS x4""".stripMargin

  private def curateLrOracle: String = {
    val zChain = (0 to 4).map(i => s"w.w$i * f.x$i").mkString(" + ")
    val splice =
      s"""lrpstats AS (${lrStatsSql(
           """(SELECT text || ' contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567' AS text
             |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3'))""".stripMargin, "")}),
         |lrdstats AS (${lrStatsSql("surv", "doc_id,")}),
         |lrdocfeats AS (
         |  SELECT ${lrRatiosSql("doc_id,")}
         |  FROM lrdstats),
         |${graft.ops.Classifier.lrOracleCtes(
             s"""SELECT ${lrRatiosSql("1.0 AS y,")}
                |FROM lrpstats
                |UNION ALL
                |SELECT 0.0 AS y, x0, x1, x2, x3, x4 FROM lrdocfeats""".stripMargin,
             nf = 5, nIters = 6)},
         |lrkeep AS (
         |  SELECT doc_id FROM (
         |    SELECT f.doc_id, 0.5 + 0.5 * z / (1.0 + ABS(z)) AS score
         |    FROM (SELECT f.doc_id, $zChain AS z
         |          FROM lrdocfeats f CROSS JOIN it6 w) f)
         |  ORDER BY score DESC, doc_id LIMIT 200),
         |""".stripMargin
    curateOracle(plantTail = true, spliceCtes = splice,
      qfExtraPredicate =
        "doc_id IN (SELECT doc_id FROM lrkeep)\n                AND ")
  }

  /** Absolute-THRESHOLD twin of [[curateE2ELrQuality]] (round 18,
    * verdict item 3): the only curate branch r17 left ungated —
    * `lrQualityMinScore` keeps every survivor whose softsign score
    * clears a fixed bar, the calibrated-classifier operating mode.
    * The design makes that mode honest on this corpus:
    *
    *   - the reference is DISJOINT from the input (positives = src0–4
    *     documents, corpus = src5–9 only, no planted tail) — the r17
    *     gate's overlapping reference forced the rank-cut mode because
    *     overlap pushes the whole score band to one side;
    *   - the threshold (0.10) is picked FROM the calibration surface
    *     (`q_text_lr_calibration` / [[graft.ops.Classifier
    *     .lrCalibration]]), not a priori: measured score bands are
    *     0.083–0.103 (sf0.001) and 0.093–0.110 (sf0.01) — an a-priori
    *     0.5 keeps nothing (lr=1 full-batch GD overshoots the center
    *     to ~0.1 under these unnormalized features; smaller lr
    *     compresses the whole band to ±0.003 around 0.5, below any
    *     fixed threshold's resolution — both measured this round).
    *     0.10 sits inside both bands: the keep set is a PROPER,
    *     non-empty subset at both gate scales (3/123 at sf0.001,
    *     79/122 at sf0.01 → 63 docs / 195 chunks after the token
    *     band), which also exercises Curate's empty-keep fail-fast
    *     guard staying quiet on a well-placed threshold. (At sf0.001
    *     the 3 keeps are degenerate top-scorers the token band then
    *     drops — the high-score tail IS the low-mean-token-length
    *     tail under the negative mtl weight — so the final chunk set
    *     is empty there; the binding correctness scale is sf0.01,
    *     where the full replay has 195 rows to bite on.)
    *
    * The oracle splices the same training replay as the keep-k twin —
    * positives drawn from the disjoint slice, negatives from the
    * deduped survivors — and narrows `qf` with `score >= 0.1` instead
    * of the LIMIT: one ulp of training drift moves scores across the
    * bar and fails the hash.
    */
  val curateE2ELrThreshold = Q("q_curate_e2e_lrthreshold",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // 20 sources exist (src0–src19); corpus and reference are
      // disjoint, same-sized 5-source slices — a balanced class prior
      // (375 extra positives from the other 10 sources would drag the
      // whole score band above any threshold; measured: NOT-IN-corpus
      // positives push every survivor to 0.85+, keep set total)
      val input = docs
        .filter(col("source").isin("src5", "src6", "src7", "src8", "src9"))
        .select(col("doc_id"), col("text"))
      val target = docs
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("text"))
      graft.pipeline.Curate(input,
        lrQualityTarget = Some(target), lrQualityMinScore = 0.10)
        .orderBy("doc_id", "chunk_id")
    },
    Some(curateLrThresholdOracle))

  /** Oracle for [[curateE2ELrThreshold]]: [[curateOracle]] with the
    * corpus narrowed to src5–9 via the structured `baseWhere` splice,
    * positives from the disjoint src0–4 slice (raw text, no tail), the
    * shared training-chain replay, and a `score >= 0.1` keep predicate
    * on `qf`.
    */
  private def curateLrThresholdOracle: String = {
    val zChain = (0 to 4).map(i => s"w.w$i * f.x$i").mkString(" + ")
    val splice =
      s"""lrpstats AS (${lrStatsSql(
           """(SELECT text FROM documents
             |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4'))""".stripMargin, "")}),
         |lrdstats AS (${lrStatsSql("surv", "doc_id,")}),
         |lrdocfeats AS (
         |  SELECT ${lrRatiosSql("doc_id,")}
         |  FROM lrdstats),
         |${graft.ops.Classifier.lrOracleCtes(
             s"""SELECT ${lrRatiosSql("1.0 AS y,")}
                |FROM lrpstats
                |UNION ALL
                |SELECT 0.0 AS y, x0, x1, x2, x3, x4 FROM lrdocfeats""".stripMargin,
             nf = 5, nIters = 6)},
         |lrkeep AS (
         |  SELECT doc_id FROM (
         |    SELECT f.doc_id, 0.5 + 0.5 * z / (1.0 + ABS(z)) AS score
         |    FROM (SELECT f.doc_id, $zChain AS z
         |          FROM lrdocfeats f CROSS JOIN it6 w) f)
         |  WHERE score >= 0.1),
         |""".stripMargin
    curateOracle(plantTail = false,
      baseWhere =
        "WHERE source IN ('src5', 'src6', 'src7', 'src8', 'src9')",
      spliceCtes = splice,
      qfExtraPredicate =
        "doc_id IN (SELECT doc_id FROM lrkeep)\n                AND ")
  }

  /** One oracle body for the curate e2e gates: identical pipeline SQL,
    * with or without the planted PII tail on the input corpus, with
    * structured splice points for the screen twins.
    */
  private def curateOracle(plantTail: Boolean,
                           jaccardThreshold: Double = 0.2,
                           baseWhere: String = "",
                           spliceCtes: String = "",
                           qfExtraPredicate: String = ""): String = {
    // Structured splice points (round 18, verdict item 6 — replaces the
    // require()d-anchor String.replace the LR twin used in r17, which
    // DETECTED drift of the shared body instead of composing with it):
    //   - baseWhere: WHERE clause narrowing the input corpus (the
    //     threshold gate's disjoint-reference posture),
    //   - spliceCtes: extra CTEs (each ending with a comma) inserted
    //     between the near-dup survivors and the quality filter — the
    //     screen slot, where `surv` is in scope,
    //   - qfExtraPredicate: extra conjunct (including its trailing
    //     AND) prepended to qf's WHERE — the screen's keep set.
    val whereClause = if (baseWhere.isEmpty) "" else s" $baseWhere"
    val base =
      if (plantTail)
        s"""base AS (
              SELECT doc_id,
                     text || ' contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567' AS text
              FROM documents$whereClause),"""
      else
        s"""base AS (SELECT doc_id, text FROM documents$whereClause),"""
    """WITH RECURSIVE
            """ + base + """
            -- exact dedup: keep min doc_id per normalized text
            norm AS (
              SELECT doc_id, text,
                     TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS ntext
              FROM base),
            exact AS (
              SELECT doc_id, text, ntext FROM norm
              WHERE doc_id IN (SELECT MIN(doc_id) FROM norm GROUP BY ntext)),
            -- near-dup keep-one over the exact survivors (word-3-shingles,
            -- jaccard >= threshold, transitive closure, keep cluster min)
            toks AS (SELECT doc_id, text, STRING_SPLIT(ntext, ' ') AS t FROM exact),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, LEN(shingles) AS ns, UNNEST(shingles) AS g FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
              HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= """ +
      jaccardThreshold.toString + """),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS id, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a),
            losers AS (SELECT id FROM labels WHERE label <> id),
            surv AS (
              SELECT doc_id, text, t FROM toks
              WHERE doc_id NOT IN (SELECT id FROM losers)),
            -- quality filter on the pre-scrub text
            """ + spliceCtes + """qf AS (
              SELECT doc_id, text FROM surv
              WHERE """ + qfExtraPredicate + """LEN(t) BETWEEN 30 AND 200
                AND (CAST(LEN(text) - LEN(t) + 1 AS DOUBLE) / LEN(t)) BETWEEN 2.0 AND 12.0),
            -- PII scrub (same pattern strings as the Spark expressions)
            scr AS (
              SELECT doc_id,
                REGEXP_REPLACE(
                  REGEXP_REPLACE(
                    REGEXP_REPLACE(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^ ]+', '<URL>', 'g'),
                  '\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS stext
              FROM qf),
            -- content-hash split keyed on the scrubbed normalized text
            spl AS (
              SELECT doc_id, stext,
                CASE WHEN SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g'))), 1, 2) < 'cd' THEN 'train'
                     WHEN SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g'))), 1, 2) < 'e6' THEN 'valid'
                     ELSE 'test' END AS split
              FROM scr),
            -- context-window chunking of the scrubbed text
            stoks AS (
              SELECT doc_id, split,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g')), ' ') AS t
              FROM spl),
            starts AS (
              SELECT doc_id, split, t, UNNEST(RANGE(0, LEN(t), 24)) AS s
              FROM stoks WHERE LEN(t) > 0)
            SELECT doc_id, split,
              CAST(s // 24 + 1 AS INTEGER) AS chunk_id,
              CAST(LEN(t[s + 1 : s + 32]) AS INTEGER) AS n_tokens,
              ARRAY_TO_STRING(t[s + 1 : s + 32], ' ') AS chunk_text
            FROM starts
            ORDER BY doc_id, chunk_id"""
  }

  /** Oracle for [[curateE2EScreens]]: the [[curateOracle]] body with the
    * accent fold, the survivor-fit perplexity screen and the DSIR top-k
    * cut spliced into their pipeline slots. Accented characters are
    * \u-escaped in source to pin the encoding (the StripSuffix rule).
    */
  private def curateScreensOracle: String = {
    val ae = "\u00e1\u00e9" // a-acute e-acute, the twins' a/e replacements
    """WITH RECURSIVE
            base0 AS (
              SELECT doc_id,
                     text || ' contact user@example.com or https://ex.com/d/x42 tel +265 99 123 4567' AS text,
                     lang, source
              FROM documents),
            base AS (
              SELECT doc_id, text, lang FROM base0
              UNION ALL
              SELECT doc_id + 10000000, TRANSLATE(text, 'ae', '""" + ae + """'), lang FROM base0),
            -- accent fold BEFORE any content keying
            folded AS (SELECT doc_id, STRIP_ACCENTS(text) AS text, lang FROM base),
            norm AS (
              SELECT doc_id, text, lang,
                     TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS ntext
              FROM folded),
            exact AS (
              SELECT doc_id, text, lang, ntext FROM norm
              WHERE doc_id IN (SELECT MIN(doc_id) FROM norm GROUP BY ntext)),
            toks AS (SELECT doc_id, text, lang, STRING_SPLIT(ntext, ' ') AS t FROM exact),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, LEN(shingles) AS ns, UNNEST(shingles) AS g FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
              HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.2),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS id, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a),
            losers AS (SELECT id FROM labels WHERE label <> id),
            surv AS (
              SELECT doc_id, text, lang, t FROM toks
              WHERE doc_id NOT IN (SELECT id FROM losers)),
            -- CCNet perplexity screen FIT ON THE SURVIVORS
            ptoks AS (
              SELECT doc_id, UNNEST(LIST_FILTER(t, x -> x <> '')) AS term FROM surv),
            pcnt AS (SELECT term, COUNT(*) AS c FROM ptoks GROUP BY term),
            ptot AS (SELECT COUNT(*) AS n FROM ptoks),
            pper AS (
              SELECT doc_id, COUNT(*) AS n_tokens, AVG(-LN(CAST(c AS DOUBLE) / n)) AS m
              FROM ptoks JOIN pcnt USING (term) CROSS JOIN ptot
              GROUP BY doc_id),
            pscored AS (
              SELECT s.doc_id, s.lang,
                CAST(COALESCE(pper.n_tokens, 0) AS BIGINT) AS n_tokens,
                ROUND(COALESCE(pper.m, 0.0), 6) AS neg_logp
              FROM surv s LEFT JOIN pper ON s.doc_id = pper.doc_id),
            pranked AS (
              SELECT lang, neg_logp,
                     ROW_NUMBER() OVER (PARTITION BY lang ORDER BY neg_logp) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS n
              FROM pscored WHERE n_tokens > 0),
            pcuts AS (
              SELECT lang,
                     MAX(CASE WHEN rn = CEIL(n * (1.0/3)) THEN neg_logp END) AS p33,
                     MAX(CASE WHEN rn = CEIL(n * (2.0/3)) THEN neg_logp END) AS p67
              FROM pranked GROUP BY lang),
            pkeep AS (
              SELECT s.doc_id FROM pscored s LEFT JOIN pcuts c USING (lang)
              WHERE s.n_tokens > 0 AND s.neg_logp <= c.p67),
            -- quality band on the pre-scrub folded text
            qf AS (
              SELECT doc_id, text, t FROM surv
              WHERE doc_id IN (SELECT doc_id FROM pkeep)
                AND LEN(t) BETWEEN 30 AND 200
                AND (CAST(LEN(text) - LEN(t) + 1 AS DOUBLE) / LEN(t)) BETWEEN 2.0 AND 12.0),
            -- DSIR top-k over the quality survivors vs the src0-3 target
            dtoks AS (
              SELECT doc_id, ('0x' || SUBSTR(MD5(x), 1, 15))::BIGINT % 1024 AS b
              FROM (SELECT doc_id, UNNEST(LIST_FILTER(t, y -> y <> '')) AS x FROM qf)),
            db AS (SELECT doc_id, b, COUNT(*) AS cnt FROM dtoks GROUP BY 1, 2),
            sb AS (SELECT b, COUNT(*) AS sc FROM dtoks GROUP BY b),
            st AS (SELECT COUNT(*) AS stot FROM dtoks),
            ttoks AS (
              SELECT ('0x' || SUBSTR(MD5(x), 1, 15))::BIGINT % 1024 AS b
              FROM (SELECT UNNEST(LIST_FILTER(
                      STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                      y -> y <> '')) AS x
                    FROM base0 WHERE source IN ('src0','src1','src2','src3'))),
            tb AS (SELECT b, COUNT(*) AS tc FROM ttoks GROUP BY b),
            tt AS (SELECT COUNT(*) AS ttot FROM ttoks),
            w AS (
              SELECT sb.b,
                     LN(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / (ttot + 1024)) -
                     LN(CAST(sc + 1 AS DOUBLE) / (stot + 1024)) AS wb
              FROM sb LEFT JOIN tb ON tb.b = sb.b CROSS JOIN st CROSS JOIN tt),
            dper AS (
              SELECT doc_id, ROUND(SUM(cnt * wb), 6) AS log_ratio
              FROM db JOIN w ON w.b = db.b GROUP BY doc_id),
            picks AS (
              SELECT doc_id FROM dper ORDER BY log_ratio DESC, doc_id LIMIT 120),
            -- scrub, split, chunk the picked docs
            scr AS (
              SELECT doc_id,
                REGEXP_REPLACE(
                  REGEXP_REPLACE(
                    REGEXP_REPLACE(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^ ]+', '<URL>', 'g'),
                  '\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS stext
              FROM qf WHERE doc_id IN (SELECT doc_id FROM picks)),
            spl AS (
              SELECT doc_id, stext,
                CASE WHEN SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g'))), 1, 2) < 'cd' THEN 'train'
                     WHEN SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g'))), 1, 2) < 'e6' THEN 'valid'
                     ELSE 'test' END AS split
              FROM scr),
            stoks AS (
              SELECT doc_id, split,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(stext), '\s+', ' ', 'g')), ' ') AS t
              FROM spl),
            starts AS (
              SELECT doc_id, split, t, UNNEST(RANGE(0, LEN(t), 24)) AS s
              FROM stoks WHERE LEN(t) > 0)
            SELECT doc_id, split,
              CAST(s // 24 + 1 AS INTEGER) AS chunk_id,
              CAST(LEN(t[s + 1 : s + 32]) AS INTEGER) AS n_tokens,
              ARRAY_TO_STRING(t[s + 1 : s + 32], ' ') AS chunk_text
            FROM starts
            ORDER BY doc_id, chunk_id"""
  }

  val all: Seq[Q] = Seq(curateE2E, curateE2EScreens, curateE2EMinhash, curateE2EScale, curateE2ELrQuality)
}
