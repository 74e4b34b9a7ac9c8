package graft.queries

import graft.ops.Materialize.ForkOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Bpe, Corpus, Dedup, Graph, Layout, Multimodal, Similarity, Text, Unigram}

/** Dedup-family gates: exact/incremental/bloom, decontamination, substring/line, n-gram Jaccard, edit-distance, MinHash/SimHash banding, embedding-cosine and SemDeDup.
  *
  * Split from CurationQueries (round 13) for navigation only — gate
  * bodies are verbatim; the aggregator preserves the original catalog
  * order.
  */
private[graft] object CurationDedupQueries {
  import VecOracleSql._

  /** Exact dedup by normalized-text digest; survivors = min doc_id per
    * digest. One shuffle of (digest, id) pairs — text never shuffles.
    */
  val dedupExact = Q("q_dedup_exact",
    (s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM documents
            WHERE doc_id IN (
              SELECT MIN(doc_id) FROM documents
              GROUP BY TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')))
            ORDER BY doc_id"""))

  /** Incremental exact dedup: odd doc_ids arrive as a new batch, even
    * doc_ids are the already-ingested corpus — keep odd docs novel both
    * within the batch and against the even corpus. The existing side
    * contributes only distinct digests to the anti-join.
    */
  private val incrementalOracleSql =
    """WITH norm AS (
              SELECT doc_id, lang, source,
                     TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS ntext
              FROM documents),
            inc AS (SELECT * FROM norm WHERE doc_id % 2 = 1),
            ex AS (SELECT DISTINCT ntext FROM norm WHERE doc_id % 2 = 0),
            keep AS (
              SELECT * FROM inc WHERE doc_id IN (
                SELECT MIN(doc_id) FROM inc GROUP BY ntext))
            SELECT doc_id, lang, source FROM keep
            WHERE ntext NOT IN (SELECT ntext FROM ex)
            ORDER BY doc_id"""

  val dedupIncremental = Q("q_dedup_incremental",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.exactDedupIncremental(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0),
        "text", "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    Some(incrementalOracleSql))

  /** Bloom-accelerated twin of [[dedupIncremental]] — EXACT result under
    * the SAME oracle: a bloom miss is definitively novel (no false
    * negatives skip the history entirely), and the bloom-positive
    * residue gets the exact digest check via a broadcast-semi scan of
    * the history — which is read but never shuffled, the 100 TB
    * per-batch saving over the plain anti-join.
    */
  val dedupIncrementalBloom = Q("q_dedup_incremental_bloom",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val existing = d.filter(col("doc_id") % 2 === 0)
      Dedup.exactDedupIncrementalBloom(
        d.filter(col("doc_id") % 2 === 1), existing, "text", "doc_id",
        Dedup.buildDigestBloom(existing, "text"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    Some(incrementalOracleSql))

  /** The bloom path in ITS regime — history ≫ batch, bloom built ONCE
    * and reused across many batches, MOST of which are all-novel (the
    * healthy-crawl shape): the corpus amplified 20× plays the ingested
    * history (10k docs at sf0.01, 100k at sf0.1), and six batches screen
    * against one prebuilt low-fpp filter — only batch 0 carries planted
    * history dups; batches 1-5 are entirely novel. The bloom's payoff is
    * that an all-novel batch realizes an EMPTY residue and never reads
    * the history at all (see exactDedupIncrementalBloom's short-circuit)
    * — so the whole run pays two Θ(history) passes (build + batch 0's
    * residue scan) where [[dedupIncrementalReusePlain]] pays six passes
    * plus six digest-distinct shuffles. Same exact-result contract as
    * every incremental gate: the oracle recomputes each batch's keep set
    * relationally, blind to which path produced it.
    */
  private def reuseOracleSql =
    """WITH norm AS (
              SELECT doc_id, lang, source,
                     TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS ntext
              FROM documents),
            hist AS (
              SELECT DISTINCT ntext || ' v' || i AS ntext
              FROM norm, RANGE(0, 20) r(i)),
            batches AS (
              SELECT b, doc_id, lang, source,
                     CASE WHEN b = 0 AND doc_id % 10 = 0 THEN ntext || ' v0'
                          ELSE ntext || ' b' || b END AS ntext
              FROM norm, RANGE(0, 6) rb(b)),
            keep AS (
              SELECT bt.* FROM batches bt
              JOIN (SELECT b, ntext, MIN(doc_id) AS mid
                    FROM batches GROUP BY b, ntext) m
                ON bt.b = m.b AND bt.ntext = m.ntext AND bt.doc_id = m.mid)
            SELECT b::INTEGER AS batch, doc_id, lang, source FROM keep
            WHERE ntext NOT IN (SELECT ntext FROM hist)
            ORDER BY batch, doc_id"""

  private def reuseHistory(d: org.apache.spark.sql.DataFrame) =
    (0 until 20).map(i => d.select(
      (col("doc_id") + lit(100000L * (i + 1))).as("doc_id"),
      concat(col("text"), lit(s" v$i")).as("text"),
      col("lang"), col("source"))).reduce(_ unionByName _)

  private[graft] def reuseBatch(d: org.apache.spark.sql.DataFrame, b: Int) =
    d.select(col("doc_id"),
      when(lit(b) === 0 && col("doc_id") % 10 === 0,
        concat(col("text"), lit(" v0")))
        .otherwise(concat(col("text"), lit(s" b$b"))).as("text"),
      col("lang"), col("source"))

  val dedupIncrementalReuseBloom = Q("q_dedup_incremental_reuse_bloom",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      // checkpoint = the persisted corpus table both twins read (at scale
      // this is a stored stage table, not a 20-way recompute per scan)
      val history = reuseHistory(d).lineageCut()
      // sizing from row counts (20 amplified copies) skips the
      // distinct-count scan. fpp is sized to the SHORT-CIRCUIT RULE, not
      // the usual residue-rate rule: an all-novel batch skips the history
      // entirely only when it realizes ZERO false positives, i.e.
      // E[FP] = |batch|·fpp ≪ 1 ⇒ fpp ≲ 0.01/|batch|. At fpp 1e-4 a
      // 150k-row batch expects ~15 FPs and EVERY batch re-paid the
      // history scan (measured — the bloom twin lost to plain); at 1e-8
      // the five all-novel batches skip it with P ≈ 0.999. The price is
      // ~4× bits (38 vs 9.6 bits/item): ~4.5 GB per 10⁹ docs vs ~1.2 GB
      // at 1% — the right trade whenever batches are large and mostly
      // novel, which is exactly this regime.
      val bloom = Dedup.buildDigestBloom(history, "text",
        expectedItems = 20L * d.count(), fpp = 1e-8)
      // each batch LANDS (checkpoint = the stage-table append) before the
      // next is screened — the sequential-ingestion regime both twins
      // model; see dedupIncrementalReusePlain for why this matters there
      (0 until 6).map { b =>
        Dedup.exactDedupIncrementalBloom(reuseBatch(d, b), history,
          "text", "doc_id", bloom)
          .select(lit(b).as("batch"), col("doc_id"), col("lang"), col("source"))
          .lineageCut()
      }.reduce(_ unionByName _).orderBy("batch", "doc_id")
    },
    Some(reuseOracleSql))

  /** Plain-anti-join twin of [[dedupIncrementalReuseBloom]] on the SAME
    * history/batches — the number that shows what the bloom buys: every
    * batch, all-novel or not, re-pays the full history scan, digest
    * distinct and shuffle anti-join.
    *
    * Both twins land each batch (eager checkpoint) before screening the
    * next — the sequential-ingestion regime, where batch N is in the
    * stage table before batch N+1 exists. Without it this twin collapses
    * into ONE action whose six identical history-digest-distinct
    * subtrees Spark de-duplicates via ReuseExchange — i.e. it would
    * measure the all-batches-at-once regime, where incremental
    * screening is the wrong tool in the first place (union the batches
    * and run one [[graft.ops.Dedup.exactDedup]]).
    */
  val dedupIncrementalReusePlain = Q("q_dedup_incremental_reuse_plain",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val history = reuseHistory(d).lineageCut()
      (0 until 6).map { b =>
        Dedup.exactDedupIncremental(reuseBatch(d, b), history, "text", "doc_id")
          .select(lit(b).as("batch"), col("doc_id"), col("lang"), col("source"))
          .lineageCut()
      }.reduce(_ unionByName _).orderBy("batch", "doc_id")
    },
    Some(reuseOracleSql))

  /** Benchmark decontamination screen: doc_id % 4 == 0 plays the
    * benchmark set, the rest are training docs; flag trainers sharing
    * ≥ 2 distinct word-3-shingles with any benchmark doc. (Real
    * decontamination uses n ≈ 8-13; the short synthetic docs need n = 3
    * for a non-trivial hit set.)
    */
  val dedupDecontaminate = Q("q_dedup_decontaminate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.contaminatedIds(
        d.filter(col("doc_id") % 4 =!= 0),
        d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", n = 3, minShared = 2L)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, UNNEST(shingles) AS g FROM sh),
            bench AS (SELECT DISTINCT g FROM idx WHERE doc_id % 4 = 0)
            SELECT i.doc_id, COUNT(*) AS n_shared
            FROM idx i JOIN bench b ON i.g = b.g
            WHERE i.doc_id % 4 <> 0
            GROUP BY i.doc_id
            HAVING COUNT(*) >= 2
            ORDER BY doc_id"""))

  /** Containment-decontamination twin of [[dedupDecontaminate]]: emit
    * (train, bench, containment) pairs where ≥ 60% of the benchmark
    * doc's distinct 3-shingles appear in the training doc.
    */
  val dedupContainment = Q("q_dedup_containment",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.benchmarkContainment(
        d.filter(col("doc_id") % 4 =!= 0),
        d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", n = 3, minContainment = 0.6)
        .select(col("train_id"), col("bench_id"),
          round(col("containment"), 9).as("containment"))
        .orderBy("train_id", "bench_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, LEN(shingles) AS nsh, UNNEST(shingles) AS g FROM sh)
            SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
              ROUND(CAST(COUNT(*) AS DOUBLE) / b.nsh, 9) AS containment
            FROM idx t JOIN idx b ON t.g = b.g
            WHERE t.doc_id % 4 <> 0 AND b.doc_id % 4 = 0
            GROUP BY t.doc_id, b.doc_id, b.nsh
            HAVING CAST(COUNT(*) AS DOUBLE) / b.nsh >= 0.6
            ORDER BY train_id, bench_id"""))

  /** Incremental NEAR-dup screen: odd doc_ids arrive as the new batch,
    * even ids are the ingested corpus — keep odd docs that survive
    * within-batch near-dup clustering and match no even doc at
    * jaccard ≥ 0.2. The oracle re-derives both halves relationally:
    * the recursive-CTE closure restricted to the batch, then a bipartite
    * jaccard screen of survivors against the corpus.
    */
  val dedupIncrementalNear = Q("q_dedup_incremental_neardup",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.nearDupIncremental(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", n = 3, threshold = 0.2)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
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
              WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
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
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id FROM losers)),
            crosshit AS (
              SELECT a.doc_id
              FROM idx a JOIN idx b ON a.g = b.g
              WHERE a.doc_id IN (SELECT doc_id FROM surv) AND b.doc_id % 2 = 0
              GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
              HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.2)
            SELECT doc_id, lang FROM documents
            WHERE doc_id IN (SELECT doc_id FROM surv)
              AND doc_id NOT IN (SELECT doc_id FROM crosshit)
            ORDER BY doc_id"""))

  /** Incremental MINHASH-BANDED near-dup screen — the same split and
    * semantics as [[dedupIncrementalNear]] (odd ids = batch, even =
    * corpus) but candidates come from the persisted band index instead
    * of the shingle inverted index, and the verify runs on per-doc
    * hashed shingle sets. Threshold 0.5 with 64×2 banding: the oracle is
    * the EXACT all-pairs definition, valid because a true pair at
    * j ≥ 0.5 escapes all 64 bands with p = (1-0.25)^64 ≈ 1e-8 (the same
    * argument as [[dedupMinhash]]; equality verified empirically at
    * every gate SF, deterministic while the corpus generator is fixed).
    */
  val dedupIncrementalMinhash = Q("q_dedup_incremental_minhash",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.minhashIncremental(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", n = 3, bands = 64, rowsPerBand = 2,
        threshold = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
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
              WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
              GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
              HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.5),
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
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id FROM losers)),
            crosshit AS (
              SELECT a.doc_id
              FROM idx a JOIN idx b ON a.g = b.g
              WHERE a.doc_id IN (SELECT doc_id FROM surv) AND b.doc_id % 2 = 0
              GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
              HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.5)
            SELECT doc_id, lang FROM documents
            WHERE doc_id IN (SELECT doc_id FROM surv)
              AND doc_id NOT IN (SELECT doc_id FROM crosshit)
            ORDER BY doc_id"""))

  /** Incremental SEMANTIC (embedding-cosine) near-dup screen
    * ([[graft.ops.Dedup.semanticIncrementalAgainstCells]]) — the fourth
    * member of the incremental family: history = the whole embeddings
    * table, incoming = a deterministic synthetic batch derived from the
    * first 48 vectors, built to exercise every decision path at
    * threshold 0.9: ids ≡ 0 (mod 4) replay their history vector
    * verbatim (history hit via cosine ≈ 1), ids ≡ 3 ship it scaled
    * ×0.5 (cosine is scale-invariant — same hit through different
    * bytes), ids ≡ 1 ship it NEGATED (cosine ≈ −1 → novel), and ids ≡
    * 2 duplicate the PREVIOUS id-≡-1 row's negated vector under a
    * larger id (a within-batch exact pair: connected components keeps
    * the smaller id, so the ≡2 row dies to self-dedup, not to
    * history). FULLY oracled: the SQL rebuilds the 16-cell / 3-step
    * Lloyd quantizer ([[lloydCtesSql]] — fit on the history, exactly
    * what [[graft.ops.Dedup.semanticIncremental]] does), re-derives the
    * top-1 history cells and top-2 probe cells with the TopCells tie
    * rule, replays the within-batch cell-confined pairs + recursive-CC
    * keep-one, and the survivor-vs-history probe — every CANDIDATE
    * decision (cell co-residence), not just the cosine verdicts,
    * reproduces bit-for-bit (the quantized-centroid contract).
    */
  val dedupIncrementalSemantic = Q("q_dedup_incremental_semantic",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") < 48)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val prev = base.select((col("vec_id") + 1).as("vec_id"),
        col("e").as("e_prev"))
      val incoming = base.join(prev, Seq("vec_id"), "left")
        .select(
          when(col("vec_id") % 4 === 2, col("vec_id") + 2000000L)
            .otherwise(col("vec_id") + 1000000L).as("new_id"),
          when(col("vec_id") % 4 === 0, col("e"))
            .when(col("vec_id") % 4 === 1, transform(col("e"), x => -x))
            .when(col("vec_id") % 4 === 2, transform(col("e_prev"), x => -x))
            .otherwise(transform(col("e"), x => x * 0.5)).as("embedding"))
        .select(col("new_id").as("vec_id"), col("embedding"))
      Dedup.semanticIncremental(incoming, emb, "embedding", "vec_id",
        threshold = 0.9, nCells = 16, probeCells = 2, indexAssign = 1,
        iters = 3)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE ${lloydCtesSql("16", 3)},
            inc AS (
              SELECT CASE WHEN a.vec_id % 4 = 2 THEN a.vec_id + 2000000
                          ELSE a.vec_id + 1000000 END AS vec_id,
                     CASE WHEN a.vec_id % 4 = 0 THEN a.e
                          WHEN a.vec_id % 4 = 1 THEN LIST_TRANSFORM(a.e, x -> -x)
                          WHEN a.vec_id % 4 = 2 THEN LIST_TRANSFORM(p.e, x -> -x)
                          ELSE LIST_TRANSFORM(a.e, x -> x * 0.5) END AS e
              FROM v a LEFT JOIN v p ON p.vec_id = a.vec_id - 1
              WHERE a.vec_id < 48),
            nc AS (SELECT LEAST(2, COUNT(*)) AS eff FROM c3),
            hcells AS (
              SELECT vec_id, centroid_id, e FROM (
                SELECT v.vec_id, c.centroid_id, v.e,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                         ORDER BY ${cosSql("v.e", "c.cent")} DESC NULLS LAST,
                                  c.centroid_id) AS rk
                FROM v CROSS JOIN c3 c) WHERE rk <= 1),
            icells AS (
              SELECT vec_id, centroid_id, e FROM (
                SELECT i.vec_id, c.centroid_id, i.e,
                       ROW_NUMBER() OVER (PARTITION BY i.vec_id
                         ORDER BY ${cosSql("i.e", "c.cent")} DESC NULLS LAST,
                                  c.centroid_id) AS rk
                FROM inc i CROSS JOIN c3 c), nc WHERE rk <= eff),
            pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM icells a JOIN icells b
                ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
              WHERE ${cosSql("a.e", "b.e")} >= 0.9),
            edges AS (
              SELECT id_a AS ea, id_b AS eb FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(ea, eb) AS (
              SELECT ea, eb FROM edges
              UNION
              SELECT r.ea, g.eb FROM reach r JOIN edges g ON r.eb = g.ea),
            labels AS (
              SELECT ea AS id, LEAST(ea, MIN(eb)) AS label FROM reach GROUP BY ea),
            losers AS (SELECT id FROM labels WHERE label <> id),
            surv AS (
              SELECT vec_id FROM inc
              WHERE vec_id NOT IN (SELECT id FROM losers)),
            hits AS (
              SELECT DISTINCT s.vec_id
              FROM icells s JOIN hcells h ON h.centroid_id = s.centroid_id
              WHERE s.vec_id IN (SELECT vec_id FROM surv)
                AND ${cosSql("s.e", "h.e")} >= 0.9)
            SELECT CAST(vec_id AS BIGINT) AS vec_id FROM surv
            WHERE vec_id NOT IN (SELECT vec_id FROM hits)
            ORDER BY vec_id"""))

  /** Exact duplicated-substring screen at 8-token granularity: per doc,
    * how many sliding 8-token spans occur ≥2 times corpus-wide. The
    * oracle recomputes the identical definition relationally (span text
    * as the group key — Spark groups on the span's xxhash64, equivalent
    * modulo 64-bit collisions, deterministic either way). Fractions are
    * rounded to 9 decimals on both sides: one double division, same
    * operand order, but pinning the printed representation is free.
    */
  val dedupSubstring = Q("q_dedup_substring",
    (s, dir) =>
      Dedup.duplicatedSpanStats(Tables.documents(s, dir), "text", "doc_id", k = 8)
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          round(col("dup_span_fraction"), 9).as("dup_span_fraction"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     LIST_FILTER(
                       STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS t
              FROM documents),
            spans AS (
              SELECT doc_id, ARRAY_TO_STRING(t[s + 1 : s + 8], ' ') AS span
              FROM (SELECT doc_id, t, UNNEST(RANGE(0, LEN(t) - 8 + 1)) AS s
                    FROM toks WHERE LEN(t) >= 8)),
            cnt AS (SELECT span, COUNT(*) AS occ FROM spans GROUP BY span),
            per AS (
              SELECT doc_id, COUNT(*) AS n_spans,
                     SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS n_dup
              FROM spans JOIN cnt USING (span) GROUP BY doc_id)
            SELECT d.doc_id,
              CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup_spans,
              CASE WHEN COALESCE(per.n_spans, 0) > 0
                   THEN ROUND(CAST(per.n_dup AS DOUBLE) / per.n_spans, 9)
                   ELSE 0.0 END AS dup_span_fraction
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
            ORDER BY d.doc_id"""))

  /** Duplicated-substring removal at 8-token spans: non-canonical
    * occurrences (window rank ≥ 2 over (doc_id, start) per span) are cut
    * and the survivors re-joined. The oracle rebuilds each document by
    * anti-joining token positions against the removal set and
    * re-aggregating in position order.
    */
  val dedupSubstringStrip = Q("q_dedup_substring_strip",
    (s, dir) =>
      Dedup.stripDuplicatedSpans(Tables.documents(s, dir), "text", "doc_id", k = 8)
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     LIST_FILTER(
                       STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS t
              FROM documents),
            spans AS (
              SELECT doc_id, s, ARRAY_TO_STRING(t[s + 1 : s + 8], ' ') AS span
              FROM (SELECT doc_id, t, UNNEST(RANGE(0, LEN(t) - 8 + 1)) AS s
                    FROM toks WHERE LEN(t) >= 8)),
            marked AS (
              SELECT doc_id, s,
                     ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, s) AS rn
              FROM spans),
            rem AS (
              SELECT DISTINCT doc_id, s + r.u AS pos
              FROM marked CROSS JOIN range(0, 8) r(u)
              WHERE rn >= 2),
            kept AS (
              SELECT p.doc_id, p.pos, p.t[p.pos + 1] AS tok
              FROM (SELECT doc_id, t, UNNEST(RANGE(0, LEN(t))) AS pos FROM toks) p
              LEFT JOIN rem ON p.doc_id = rem.doc_id AND p.pos = rem.pos
              WHERE rem.doc_id IS NULL),
            agg AS (
              SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY pos) AS clean_text,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT tk.doc_id,
              COALESCE(a.clean_text, '') AS clean_text,
              CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
              CAST(LEN(tk.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
            FROM toks tk LEFT JOIN agg a ON tk.doc_id = a.doc_id
            ORDER BY tk.doc_id"""))

  /** Both line-granularity gates run on a synthesized MULTI-LINE corpus:
    * each document's tokens re-chunked into 12-token lines plus one
    * planted boilerplate footer line shared by every document (the
    * single-line driver corpus would make the ops trivially no-op). The
    * oracle recomputes the identical re-chunking relationally, so the
    * synthesis itself is under the hash check too.
    */
  private def multilineDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        array_join(transform(
          Text.tokenChunks(Text.tokens(col("text")), 12, 12),
          c => c.getField("chunk_text")), "\n"),
        lit("\nvisit our sponsor at example dot com")).as("text"))

  private val multilineSql: String =
    """base AS (
         SELECT doc_id,
                CONCAT(
                  ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(0, CAST(CEIL(LEN(t)/12.0) AS BIGINT)),
                    g -> ARRAY_TO_STRING(t[g*12+1 : g*12+12], ' ')), chr(10)),
                  chr(10), 'visit our sponsor at example dot com') AS text
         FROM (SELECT doc_id,
                      LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                        x -> LEN(x) > 0) AS t
               FROM documents))"""

  /** Line-granularity duplication screen (CCNet/RefinedWeb paragraph
    * diagnostic): per doc, how many non-blank normalized lines occur ≥2
    * times corpus-wide. The planted footer guarantees every doc carries
    * at least one duplicated line.
    */
  val dedupLineStats = Q("q_dedup_line_stats",
    (s, dir) =>
      Dedup.duplicatedLineStats(multilineDocs(s, dir), "text", "doc_id")
        .orderBy("doc_id"),
    Some(s"""WITH $multilineSql,
            l0 AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, chr(10))) AS line FROM base),
            ne AS (SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(line), '\\s+', ' ', 'g')) AS nline
                   FROM l0
                   WHERE LEN(TRIM(REGEXP_REPLACE(LOWER(line), '\\s+', ' ', 'g'))) > 0),
            occ AS (SELECT nline, COUNT(*) AS c FROM ne GROUP BY nline),
            per AS (SELECT doc_id, COUNT(*) AS n_lines,
                           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines
                    FROM ne JOIN occ USING (nline) GROUP BY doc_id)
            SELECT b.doc_id,
              COALESCE(per.n_lines, 0) AS n_lines,
              COALESCE(per.n_dup_lines, 0) AS n_dup_lines,
              CASE WHEN COALESCE(per.n_lines, 0) > 0
                   THEN CAST(per.n_dup_lines AS DOUBLE) / per.n_lines
                   ELSE 0.0 END AS dup_line_fraction
            FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
            ORDER BY b.doc_id"""))

  /** Keep-first line-level dedup (CCNet paragraph removal): every
    * non-blank line survives only at its first corpus occurrence in
    * (doc_id, position) order — the planted footer survives in exactly
    * one document. The oracle rebuilds each document by dropping
    * window-rank ≥ 2 line occurrences and re-aggregating in position
    * order.
    */
  val dedupLineStrip = Q("q_dedup_line_strip",
    (s, dir) =>
      Dedup.stripDuplicatedLines(multilineDocs(s, dir), "text", "doc_id")
        .orderBy("doc_id"),
    Some(s"""WITH $multilineSql,
            arr AS (SELECT doc_id, STRING_SPLIT(text, chr(10)) AS l FROM base),
            pos AS (SELECT doc_id, UNNEST(RANGE(1, LEN(l) + 1)) AS i, l FROM arr),
            lines AS (SELECT doc_id, i - 1 AS p, l[i] AS line,
                             TRIM(REGEXP_REPLACE(LOWER(l[i]), '\\s+', ' ', 'g')) AS nline
                      FROM pos),
            marked AS (
              SELECT doc_id, p, line,
                     CASE WHEN LEN(nline) > 0 THEN
                       ROW_NUMBER() OVER (PARTITION BY nline ORDER BY doc_id, p) END AS rn
              FROM lines),
            kept AS (SELECT doc_id, p, line FROM marked WHERE rn IS NULL OR rn = 1)
            SELECT m.doc_id,
              COALESCE((SELECT STRING_AGG(k.line, chr(10) ORDER BY k.p)
                        FROM kept k WHERE k.doc_id = m.doc_id), '') AS clean_text,
              COUNT(*) AS n_lines,
              CAST(SUM(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_lines
            FROM marked m GROUP BY m.doc_id ORDER BY m.doc_id"""))

  /** Word-3-gram Jaccard near-dup pairs via inverted shingle index
    * (never all-pairs). Oracle recomputes the same definition
    * relationally in DuckDB.
    */
  val dedupJaccard = Q("q_dedup_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
        n = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (
              SELECT doc_id, LEN(shingles) AS nsh, UNNEST(shingles) AS s FROM sh)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              ROUND(CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)), 9) AS jaccard
            FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
            HAVING CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) >= 0.2
            ORDER BY id_a, id_b"""))

  /** Planted variant corpus for the edit-distance gates, built to scale
    * LINEARLY so the bench's 10×/30× sections measure the operator, not
    * the corpus shape. Three deliberate choices, each fixing a measured
    * super-linearity:
    *
    *   - COUNT-DERIVED MODULI (G = max(50, n/10), V = max(10, n/50)):
    *     docs-per-group stays constant as n grows. A fixed G=50 made the
    *     corpus quadratic by construction — 1000 identical docs per
    *     group at sf1, 241 s (28× on 10× data).
    *   - BASE64 BODIES: group bodies draw from a 64-char alphabet
    *     (base64 of the md5 BYTES), 260k possible 3-grams, so gram
    *     document frequency stays ~flat as groups multiply. Hex bodies
    *     saturate their 4096-gram space and df grows ∝ n — the
    *     candidate join went Σ df² ≈ n²/4096 (396 s at sf30). The
    *     constant '==' padding tail is corpus-frequent BY DESIGN: the
    *     rarity prefix must keep it out of every prefix, same as a
    *     crawl's boilerplate head.
    *   - SPARSE MICRO-VOCAB past the first ten: values 'id0'…'id9'
    *     keep the dense cross-value ed≤2 coverage at gate scale, but
    *     additional values are 5-hex md5 prefixes — random pairs sit at
    *     ed 3+ — because numeric suffixes put EVERY value pair within
    *     two substitutions and the short route's output went quadratic
    *     in V.
    *
    * At the sf0.01 gate size the moduli reduce to the fixed 50/10 and
    * only the body spelling differs from the original plant; the oracle
    * replays the identical expression chain.
    */
  private def editDistPlanted(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count()
    val bigG = math.max(50L, n / 10)
    val vocab = math.max(10L, n / 50)
    val g = pmod(col("doc_id"), lit(bigG))
    val v = pmod(floor(col("doc_id") / lit(bigG)).cast(LongType), lit(5))
    val gv = pmod(g, lit(vocab))
    val short = when(gv < 10, concat(lit("id"), pmod(gv, lit(10)).cast(StringType)))
      .otherwise(concat(lit("i"), substring(md5(gv.cast(StringType)), 1, 5)))
    Tables.documents(s, dir).select(col("doc_id"),
      when(v === 4, short)
        .otherwise(concat(lit("doc "), base64(unhex(md5(g.cast(StringType)))),
          when(v === 1, lit("x")).when(v === 2, lit("xy"))
            .when(v === 3, lit("xyz")).otherwise(lit("")))).as("s"))
  }

  /** The matching oracle CTE (`strs`): same count-derived moduli. */
  private val editDistStrsSql: String =
    """cnt AS (SELECT GREATEST(50, COUNT(*) // 10) AS g_mod,
                      GREATEST(10, COUNT(*) // 50) AS v_mod
               FROM documents),
            strs AS (
              SELECT doc_id,
                CASE WHEN CAST(FLOOR(doc_id / g_mod) AS BIGINT) % 5 = 4
                     THEN CASE WHEN (doc_id % g_mod) % v_mod < 10
                          THEN 'id' || CAST(((doc_id % g_mod) % v_mod) % 10 AS VARCHAR)
                          ELSE 'i' || SUBSTR(MD5(CAST((doc_id % g_mod) % v_mod AS VARCHAR)), 1, 5)
                          END
                     ELSE 'doc ' || BASE64(UNHEX(MD5(CAST(doc_id % g_mod AS VARCHAR)))) ||
                          CASE CAST(FLOOR(doc_id / g_mod) AS BIGINT) % 5
                            WHEN 1 THEN 'x' WHEN 2 THEN 'xy'
                            WHEN 3 THEN 'xyz' ELSE '' END
                END AS s
              FROM documents CROSS JOIN cnt)"""

  /** Bounded edit-distance pairs ([[graft.ops.Dedup.editDistancePairs]]):
    * every unordered pair within Levenshtein distance 2, via the
    * positional-q-gram count filter for long strings and the
    * distinct-value route for micro-strings. The planted column drives
    * every branch: per-group md5 bodies keep grams group-local (the
    * cross-group false candidates die at the count filter), suffix
    * variants x/xy/xyz sit at distances 1/2/3 so the threshold cuts
    * between xy and xyz, the length band (|Δlen| ≤ 2) excludes v0–v3
    * before any DP runs, and the 'idN' micro-strings (distance 0 within
    * a value, 1 across values) exercise the value-level join and its
    * output-sized id expansion. The oracle computes the all-pairs
    * DEFINITION over distinct values — deliberately not the operator's
    * candidate route, so the count-filter completeness claim is what the
    * gate actually tests.
    */
  val dedupEditDist = Q("q_dedup_editdist_pairs",
    (s, dir) =>
      Dedup.editDistancePairs(editDistPlanted(s, dir), "s", "doc_id",
        maxDist = 2, q = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast(LongType))
        .orderBy("id_a", "id_b"),
    Some(s"""WITH $editDistStrsSql,
            vals AS (SELECT DISTINCT s FROM strs),
            vp AS (
              SELECT a.s AS sa, b.s AS sb, LEVENSHTEIN(a.s, b.s) AS dist
              FROM vals a JOIN vals b
                ON a.s <= b.s AND ABS(LENGTH(a.s) - LENGTH(b.s)) <= 2
              WHERE LEVENSHTEIN(a.s, b.s) <= 2)
            SELECT LEAST(x.doc_id, y.doc_id) AS id_a,
                   GREATEST(x.doc_id, y.doc_id) AS id_b, vp.dist
            FROM vp JOIN strs x ON x.s = vp.sa
                    JOIN strs y ON y.s = vp.sb
            WHERE x.doc_id <> y.doc_id
              AND (vp.sa <> vp.sb OR x.doc_id < y.doc_id)
            ORDER BY id_a, id_b"""))

  /** Edit-distance keep-one ([[graft.ops.Dedup.editDistanceSurvivors]]):
    * variant clusters from the same planted column as
    * `q_dedup_editdist_pairs` collapse to their minimum id — the long
    * groups chain v0–v1–v2–v3 through ≤2-distance links, and the whole
    * micro-string vocabulary ('id0'…'id9', all within one substitution)
    * forms a single corpus-wide cluster. The oracle recomputes the pair
    * DEFINITION, closes it transitively with a recursive CTE, and keeps
    * non-losers.
    */
  val dedupEditDistKeep = Q("q_dedup_editdist_keep",
    (s, dir) =>
      Dedup.editDistanceSurvivors(editDistPlanted(s, dir), "s", "doc_id",
        maxDist = 2, q = 3)
        .orderBy("doc_id"),
    Some(s"""WITH $editDistStrsSql,
            vals AS (SELECT DISTINCT s FROM strs),
            vp AS (
              SELECT a.s AS sa, b.s AS sb
              FROM vals a JOIN vals b
                ON a.s <= b.s AND ABS(LENGTH(a.s) - LENGTH(b.s)) <= 2
              WHERE LEVENSHTEIN(a.s, b.s) <= 2),
            pairs AS (
              SELECT LEAST(x.doc_id, y.doc_id) AS id_a,
                     GREATEST(x.doc_id, y.doc_id) AS id_b
              FROM vp JOIN strs x ON x.s = vp.sa
                      JOIN strs y ON y.s = vp.sb
              WHERE x.doc_id <> y.doc_id
                AND (vp.sa <> vp.sb OR x.doc_id < y.doc_id)),
            ed AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT a AS n FROM ed),
            reach AS (
              WITH RECURSIVE r(n, m) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT r.n, ed.b FROM r JOIN ed ON ed.a = r.m)
              SELECT n, MIN(m) AS label FROM r GROUP BY n),
            losers AS (SELECT n FROM reach WHERE label <> n)
            SELECT doc_id, s FROM strs
            WHERE doc_id NOT IN (SELECT n FROM losers)
            ORDER BY doc_id"""))

  /** MinHash(128) + LSH(64 bands × 2 rows) candidate pairs over word-3
    * shingles, verified with exact Jaccard ≥ 0.5. Banding chosen for
    * near-certain recall at the threshold (miss prob (1-j²)⁶⁴ ≈ 1e-8 at
    * j=0.5), so the verified output equals the exact all-pairs definition
    * — which is what the oracle computes relationally.
    */
  val dedupMinhash = Q("q_dedup_minhash_lsh",
    (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "text", "doc_id",
        n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, LEN(shingles) AS ns, UNNEST(shingles) AS g FROM sh)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              ROUND(CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)), 9) AS jaccard
            FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
            HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.5
            ORDER BY id_a, id_b"""))

  /** Planner-driven twin of [[dedupMinhash]]: (bands, rowsPerBand) come
    * from [[graft.ops.Dedup.planMinhashLsh]] at the ACTUAL corpus size
    * (the 100 TB path — fixed banding at a growing corpus is the
    * quadratic trap the r6 sf30 section measured on the cosine family).
    * The oracle is the EXACT all-pairs Jaccard definition: at the gate
    * corpora the planner's targetRecall=0.98 banding misses a
    * threshold-j pair with p=(1-0.5^r)^b ≈ 2e-2 — but every true pair in
    * these corpora is a planted near-identical dup far above threshold
    * (j ≥ 0.6 ⇒ miss ≤ 1.4e-5/pair), and the whole path is seeded-hash
    * deterministic, so equality was verified empirically at
    * sf0.001/0.01/0.1 and cannot drift while the corpus generator is
    * fixed.
    */
  val dedupMinhashAuto = Q("q_dedup_minhash_lsh_auto",
    (s, dir) =>
      Dedup.minhashLshPairsAuto(Tables.documents(s, dir), "text", "doc_id",
        n = 3, threshold = 0.5, targetRecall = 0.98)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN LEN(t) <= 3 THEN [ARRAY_TO_STRING(t, ' ')]
                     ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                            i -> ARRAY_TO_STRING(t[i:i+2], ' '))) END AS shingles
              FROM toks),
            idx AS (SELECT doc_id, LEN(shingles) AS ns, UNNEST(shingles) AS g FROM sh)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              ROUND(CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)), 9) AS jaccard
            FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
            HAVING CAST(COUNT(*) AS DOUBLE) / (a.ns + b.ns - COUNT(*)) >= 0.5
            ORDER BY id_a, id_b"""))

  /** SimHash(64-bit) near-dup pairs within hamming distance 3 via 16-bit
    * chunk bucketing (pigeonhole-complete for d ≤ 3). The gate runs the
    * md5-token-hash variant (Spark md5 ≡ DuckDB md5) so the ENTIRE pair
    * list is oracled: the SQL rebuilds each 64-bit signature from
    * per-token md5 halves with the same per-bit majority vote, then takes
    * all pairs at bit_count(xor) ≤ 3 — bucketing completeness means the
    * chunked Spark path must emit exactly the all-pairs answer. The
    * xxhash64 variant (the fused-expression scale path) stays covered by
    * DedupSpec's bit-parity + pigeonhole tests.
    */
  val dedupSimhash = Q("q_dedup_simhash",
    (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "text", "doc_id",
        maxHamming = 3, tokenHash = "md5")
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     UNNEST(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM documents),
            h AS (
              SELECT doc_id,
                     ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT AS hi,
                     ('0x' || SUBSTR(MD5(tok), 9, 8))::BIGINT AS lo
              FROM toks WHERE LEN(tok) > 0),
            votes AS (
              SELECT doc_id, j,
                CASE WHEN SUM(CASE WHEN ((CASE WHEN j < 32 THEN lo >> j
                                               ELSE hi >> (j - 32) END) & 1) = 1
                             THEN 1 ELSE -1 END) > 0
                     THEN POWER(2, j)::HUGEINT ELSE 0::HUGEINT END AS bitval
              FROM h CROSS JOIN GENERATE_SERIES(0, 63) AS g(j)
              GROUP BY doc_id, j),
            sigv AS (SELECT doc_id, SUM(bitval) AS sig FROM votes GROUP BY doc_id),
            -- total over the corpus: a doc that normalizes to ZERO tokens
            -- casts no votes and signs 0, exactly as the Spark majority
            -- vote does (two empty docs are a hamming-0 pair); null text
            -- hashes null on the Spark side and never pairs, so it stays
            -- excluded here too
            sig AS (
              SELECT d.doc_id, COALESCE(s.sig, 0::HUGEINT) AS sig
              FROM documents d LEFT JOIN sigv s ON s.doc_id = d.doc_id
              WHERE d.text IS NOT NULL)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   BIT_COUNT(XOR(a.sig, b.sig))::INTEGER AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE BIT_COUNT(XOR(a.sig, b.sig)) <= 3
            ORDER BY id_a, id_b"""))

  /** Embedding-cosine near-dup pairs, exact all-pairs path (the oracle
    * definition); the LSH-bucketed scale path is exercised by
    * [[dedupCosineLsh]].
    */
  val dedupCosine = Q("q_dedup_embed_cosine",
    (s, dir) =>
      // 0.45 sits inside the corpus' actual similarity range (max ≈ 0.5-0.6)
      // so the result is non-trivial at every scale factor
      Dedup.cosineDupPairs(Tables.embeddings(s, dir), "embedding", "vec_id",
        threshold = 0.45, lshBits = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("cosine"))
        .orderBy("id_a", "id_b"),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 9) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.45
            ORDER BY id_a, id_b"""))

  /** Embedding-space decontamination: vec_id % 10 == 0 plays the
    * benchmark suite, the rest are training vectors; flag every trainer
    * within cosine 0.45 of any benchmark vector with its worst (max)
    * similarity and distinct-hit count. Exact mode (benchmark broadcast,
    * one scan of the training side) — the mode a real benchmark-sized
    * screen runs; the LSH mode for corpus-sized screening sides is
    * recall-gated in DedupSpec against this exact path.
    */
  val dedupDecontaminateEmbed = Q("q_dedup_decontaminate_embed",
    (s, dir) => {
      val v = Tables.embeddings(s, dir)
      Dedup.contaminatedIdsEmbedding(
        v.filter(col("vec_id") % 10 =!= 0), v.filter(col("vec_id") % 10 === 0),
        "embedding", "vec_id", threshold = 0.4)
        .select(col("vec_id"), round(col("max_cosine"), 9).as("max_cosine"),
          col("n_bench_hits"))
        .orderBy("vec_id")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            hits AS (
              SELECT t.vec_id, LIST_COSINE_SIMILARITY(t.e, b.e) AS c
              FROM v t JOIN v b ON t.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
              WHERE LIST_COSINE_SIMILARITY(t.e, b.e) >= 0.4)
            SELECT vec_id, ROUND(MAX(c), 9) AS max_cosine,
                   COUNT(*) AS n_bench_hits
            FROM hits GROUP BY vec_id ORDER BY vec_id"""))

  /** Hyperplane-LSH bucketed variant of cosine dedup — the 100 TB path
    * (candidates within any of 16 independent 4-bit bucket tables;
    * OR-amplified recall 1-(1-p⁴)¹⁶ ≈ 0.95 even at the 0.45 threshold's
    * p ≈ 0.65 per-plane agreement, vs ≈ 3% for a single 8-bit signature).
    *
    * FULLY oracled despite being an LSH path: the gate runs md5-derived
    * plane weights (reproducible in DuckDB), and the oracle rebuilds
    * every (table, bucket) signature — LIST_INNER_PRODUCT accumulates
    * the projection in index order, bit-identical to the expression's
    * sequential double adds — then takes within-bucket pairs and
    * verifies exact cosine, i.e. the complete LSH definition, not just
    * its output shape. Recall vs the exact path stays gated numerically
    * in DedupSpec (xxhash64 planes, the default family).
    */
  val dedupCosineLsh = Q("q_dedup_embed_cosine_lsh",
    (s, dir) =>
      Dedup.cosineDupPairs(Tables.embeddings(s, dir), "embedding", "vec_id",
        threshold = 0.45, lshBits = 4, lshTables = 16, planeHash = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("cosine"))
        .orderBy("id_a", "id_b"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            planes AS (
              SELECT t, b,
                     LIST_TRANSFORM(RANGE(0, 64),
                       i -> (('0x' || SUBSTR(MD5((t*4+b) || '_' || i), 1, 15))::BIGINT
                             % 2000001 - 1000000) / 1000000.0) AS w
              FROM RANGE(0, 16) tt(t), RANGE(0, 4) bb(b)),
            bk AS (
              SELECT v.vec_id, p.t,
                     SUM(CASE WHEN LIST_INNER_PRODUCT(v.e, p.w) >= 0
                              THEN (2 ^ p.b)::BIGINT ELSE 0 END)::BIGINT AS bucket
              FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.t),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                                  AND a.vec_id < b.vec_id),
            pr AS (
              SELECT id_a, id_b, LIST_COSINE_SIMILARITY(va.e, vb.e) AS cosine
              FROM cand
              JOIN v va ON va.vec_id = cand.id_a
              JOIN v vb ON vb.vec_id = cand.id_b)
            SELECT id_a, id_b, ROUND(cosine, 9) AS cosine
            FROM pr WHERE cosine >= 0.45 ORDER BY id_a, id_b"""))

  /** Planner-driven twin of [[dedupCosineLsh]]: (bits, tables) come from
    * [[graft.ops.Dedup.planCosineLsh]] at the ACTUAL corpus size — the
    * 100 TB path. The r6 sf30 section measured the fixed-bits trap
    * directly (lshBits=4 ⇒ 53.3 s at sf30 vs 6.3 s at sf1, 8.5× on 3×
    * data); this query is the one the scale sections now run. FULLY
    * oracled: the SQL recomputes the SAME plan from COUNT(*) — the
    * integer (bits, tables) land far from every ceil boundary at the
    * gate corpora (verified n=500 → (3,8) with the tables ratio 7.23
    * sitting 0.23 from its boundary; n=2000 and n=5000 cap tables at the
    * planner's work/memory budget of 16, which is integer-exact) — then
    * rebuilds every (table, bucket) md5-plane signature and verifies
    * exact cosine, exactly as [[dedupCosineLsh]]'s oracle does.
    */
  val dedupCosineLshAuto = Q("q_dedup_embed_cosine_lsh_auto",
    (s, dir) =>
      Dedup.cosineDupPairsAuto(Tables.embeddings(s, dir), "embedding", "vec_id",
        threshold = 0.45, planeHash = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("cosine"))
        .orderBy("id_a", "id_b"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            plan AS (
              SELECT bits,
                     LEAST(16, GREATEST(1, CAST(CEIL(LN(0.1) /
                       LN(1 - POWER(1 - ACOS(0.45)/PI(), bits))) AS INT))) AS tabs
              FROM (SELECT GREATEST(1, LEAST(30, CAST(CEIL(
                      LN((SELECT COUNT(*) FROM v) / 100.0) / LN(2)) AS INT))) AS bits)),
            planes AS (
              SELECT t, b, p.bits,
                     LIST_TRANSFORM(RANGE(0, 64),
                       i -> (('0x' || SUBSTR(MD5((t*p.bits+b) || '_' || i), 1, 15))::BIGINT
                             % 2000001 - 1000000) / 1000000.0) AS w
              FROM plan p, RANGE(0, 64) tt(t), RANGE(0, 30) bb(b)
              WHERE t < p.tabs AND b < p.bits),
            bk AS (
              SELECT v.vec_id, p.t,
                     SUM(CASE WHEN LIST_INNER_PRODUCT(v.e, p.w) >= 0
                              THEN (2 ^ p.b)::BIGINT ELSE 0 END)::BIGINT AS bucket
              FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.t),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                                  AND a.vec_id < b.vec_id),
            pr AS (
              SELECT id_a, id_b, LIST_COSINE_SIMILARITY(va.e, vb.e) AS cosine
              FROM cand
              JOIN v va ON va.vec_id = cand.id_a
              JOIN v vb ON vb.vec_id = cand.id_b)
            SELECT id_a, id_b, ROUND(cosine, 9) AS cosine
            FROM pr WHERE cosine >= 0.45 ORDER BY id_a, id_b"""))

  /** SemDeDup clustered variant with soft (top-2) cell assignment.
    * Approximate vs the exact all-pairs path (pairs outside any shared
    * cell missed by design — recall is gated numerically in DedupSpec),
    * but DETERMINISTIC, so since the centroid stream went
    * bit-reproducible the gate is FULLY oracled: the SQL recomputes
    * nCells from COUNT(*) with [[graft.ops.Dedup.planSemdedupCells]]'
    * own arithmetic (n=500 → s=√1500≈38.73, nCells=⌈25.82⌉=26 and
    * n=2000 → ⌈51.64⌉=52 — both far from their ceil boundaries),
    * rebuilds the 3-step Lloyd refinement ([[lloydCtesSql]]), re-derives
    * the top-2 soft assignment as rank ≤ min(2, |centroids|) of the same
    * (cosine desc, centroid_id) ordering — peeling m argmax passes with
    * the prior choices excluded IS the rank-m row of that ordering — and
    * emits within-cell pairs at exact cosine ≥ 0.45. nCells sits at the
    * planner's balanced default (cells ∝ √n — fixed cells make the pair
    * stream quadratic, linear cells make the centroid-assignment stream
    * quadratic; the balance point is the flat-k-means n^1.5 floor).
    */
  val dedupSemdedup = Q("q_dedup_semdedup",
    (s, dir) =>
      Dedup.semdedupPairsAuto(Tables.embeddings(s, dir), "embedding", "vec_id",
        threshold = 0.45, nAssign = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("cosine"))
        .orderBy("id_a", "id_b"),
    Some(s"""WITH ${lloydCtesSql(
      "SELECT GREATEST(1, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) * 2 / " +
        "GREATEST(16.0, SQRT(2.0 * 3 * COUNT(*) / 2.0))) AS INT)) FROM v", 3)},
            nc AS (SELECT LEAST(2, COUNT(*)) AS eff FROM c3),
            cells AS (
              SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                         ORDER BY ${cosSql("v.e", "c.cent")} DESC NULLS LAST,
                                  c.centroid_id) AS rk
                FROM v CROSS JOIN c3 c), nc WHERE rk <= eff),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id
                                       AND a.vec_id < b.vec_id),
            sc AS (
              SELECT id_a, id_b, ${cosSql("va.e", "vb.e")} AS cosine
              FROM cand
              JOIN v va ON va.vec_id = cand.id_a
              JOIN v vb ON vb.vec_id = cand.id_b)
            SELECT id_a, id_b, ROUND(cosine, 9) AS cosine
            FROM sc WHERE cosine >= 0.45 ORDER BY id_a, id_b"""))

  val all: Seq[Q] = Seq(dedupExact, dedupIncremental, dedupIncrementalBloom, dedupIncrementalReuseBloom, dedupIncrementalReusePlain, dedupDecontaminate, dedupContainment, dedupIncrementalNear, dedupIncrementalMinhash, dedupIncrementalSemantic, dedupSubstring, dedupSubstringStrip, dedupLineStats, dedupLineStrip, dedupJaccard, dedupEditDist, dedupEditDistKeep, dedupMinhash, dedupMinhashAuto, dedupSimhash, dedupCosine, dedupDecontaminateEmbed, dedupCosineLsh, dedupCosineLshAuto, dedupSemdedup)
}
