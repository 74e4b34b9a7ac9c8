package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Bpe, Corpus, Dedup, Graph, Layout, Multimodal, Similarity, Text, Unigram}

/** Corpus-statistics gates: HLL/CMS/KMV/quantile sketches, profiler, link-graph (PageRank/HITS/CC/triangles), DSIR and domain caps, chunking, fingerprints.
  *
  * Split from CurationQueries (round 13) for navigation only — gate
  * bodies are verbatim; the aggregator preserves the original catalog
  * order.
  */
private[graft] object CurationCorpusQueries {
  /** KMV distinct sketch ([[graft.ops.Corpus.kmvDistinct]], k=16 so the
    * estimator branch engages at gate scale — ~40+ distinct texts per
    * source): estimate beside the exact count. Deterministic end to end
    * (integer hashes, one division chain), so the oracle rebuilds the
    * SAME sketch hash-for-hash and the compare is exact equality — no
    * tolerance bands.
    */
  val corpusKmv = Q("q_corpus_kmv_distinct",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Corpus.kmvDistinct(d, "source", "text", k = 16)
        .join(d.groupBy("source")
          .agg(countDistinct(col("text")).as("exact_distinct")), Seq("source"))
        .orderBy("source")
    },
    Some("""WITH h AS (SELECT DISTINCT source AS g,
                   ('0x' || SUBSTR(MD5(text), 1, 15))::BIGINT AS h
              FROM documents WHERE text IS NOT NULL),
            r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM h),
            sk AS (SELECT g, h, rn FROM r WHERE rn <= 16),
            ex AS (SELECT source AS g, CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
                   FROM documents GROUP BY source)
            SELECT sk.g AS source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
              CASE WHEN COUNT(*) < 16 THEN CAST(COUNT(*) AS DOUBLE)
                   ELSE CAST(15 AS DOUBLE) /
                        (MAX(CASE WHEN rn = 16 THEN h END) / POWER(2, 60)) END
                AS est_distinct,
              ANY_VALUE(ex.exact_distinct) AS exact_distinct
            FROM sk JOIN ex ON ex.g = sk.g
            GROUP BY sk.g
            ORDER BY source"""))

  /** KMV cross-source overlap report ([[graft.ops.Corpus
    * .kmvOverlapReport]]): union/Jaccard/intersection estimates for every
    * source pair from one corpus pass — the sketch composition HLL
    * registers can't do. Same exact-equality compare: the oracle replays
    * the union sketch, the ρ membership counts, and the division chain.
    */
  val corpusKmvOverlap = Q("q_corpus_kmv_overlap",
    (s, dir) =>
      Corpus.kmvOverlapReport(Tables.documents(s, dir), "source", "text", k = 16)
        .orderBy("group_a", "group_b"),
    Some("""WITH h AS (SELECT DISTINCT source AS g,
                   ('0x' || SUBSTR(MD5(text), 1, 15))::BIGINT AS h
              FROM documents WHERE text IS NOT NULL),
            r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM h),
            sk AS (SELECT g, h FROM r WHERE rn <= 16),
            gs AS (SELECT DISTINCT g FROM sk),
            gp AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
            uh AS (SELECT gp.ga, gp.gb, s.h FROM gp JOIN sk s ON s.g = gp.ga
                   UNION
                   SELECT gp.ga, gp.gb, s.h FROM gp JOIN sk s ON s.g = gp.gb),
            ur AS (SELECT ga, gb, h,
                     ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
                   FROM uh),
            uk AS (SELECT * FROM ur WHERE rn <= 16),
            st AS (SELECT u.ga, u.gb, COUNT(*) AS nu,
                     MAX(CASE WHEN u.rn = 16 THEN u.h END) AS hk,
                     SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                              THEN 1 ELSE 0 END) AS rho
                   FROM uk u
                   LEFT JOIN sk sa ON sa.g = u.ga AND sa.h = u.h
                   LEFT JOIN sk sb ON sb.g = u.gb AND sb.h = u.h
                   GROUP BY u.ga, u.gb)
            SELECT ga AS group_a, gb AS group_b,
              CAST(nu AS BIGINT) AS n_union_sketch,
              CAST(rho AS BIGINT) AS n_shared,
              CASE WHEN nu < 16 THEN CAST(nu AS DOUBLE)
                   ELSE CAST(15 AS DOUBLE) / (hk / POWER(2, 60)) END AS est_union,
              CAST(rho AS DOUBLE) / CAST(nu AS DOUBLE) AS est_jaccard,
              (CAST(rho AS DOUBLE) / CAST(nu AS DOUBLE)) *
                (CASE WHEN nu < 16 THEN CAST(nu AS DOUBLE)
                      ELSE CAST(15 AS DOUBLE) / (hk / POWER(2, 60)) END)
                AS est_intersection
            FROM st ORDER BY group_a, group_b"""))

  val corpusHll = Q("q_corpus_hll_distinct",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val exact = d.groupBy("source").agg(countDistinct(col("text")).as("n_exact"))
      Corpus.hllDistinct(d, "source", "text")
        .withColumn("est_distinct", round(col("est_distinct"), 6))
        .join(exact, Seq("source"))
        .orderBy("source")
    },
    Some(s"""WITH k AS (SELECT source, MD5(text) AS h FROM documents
                        WHERE text IS NOT NULL),
            r AS (
              SELECT source,
                     ('0x' || SUBSTR(h, 1, 1))::INT AS reg,
                     LEN(REGEXP_EXTRACT(SUBSTR(h, 2, 8), '^0*')) AS lz,
                     SUBSTR(h, 2, 8) AS win
              FROM k),
            x AS (
              SELECT source, reg, lz,
                     CASE WHEN lz = 8 THEN 0
                          ELSE ('0x' || SUBSTR(win, lz + 1, 1))::INT END AS fd
              FROM r),
            rho AS (
              SELECT source, reg,
                     CASE WHEN lz = 8 THEN 33
                          ELSE lz * 4 +
                               (CASE WHEN fd >= 8 THEN 0 WHEN fd >= 4 THEN 1
                                     WHEN fd >= 2 THEN 2 ELSE 3 END) + 1 END AS rho
              FROM x),
            m AS (SELECT source, reg, MAX(rho) AS mr FROM rho GROUP BY 1, 2),
            g AS (
              SELECT source, COUNT(*) AS nreg,
                     SUM(POWER(2.0, -mr)) AS hp
              FROM m GROUP BY 1),
            est AS (
              SELECT source,
                     0.673 * 16 * 16 / ((16 - nreg) * 1.0 + hp) AS e,
                     16 - nreg AS v
              FROM g)
            SELECT est.source,
                   ROUND(CASE WHEN e <= 2.5 * 16 AND v > 0
                              THEN 16.0 * LN(16.0 / v) ELSE e END, 6) AS est_distinct,
                   ex.n_exact
            FROM est
            JOIN (SELECT source, COUNT(DISTINCT text) AS n_exact
                  FROM documents GROUP BY 1) ex ON ex.source = est.source
            ORDER BY est.source"""))

  /** ANALYZE-style profile of the documents table: rows / nulls /
    * HLL-estimated distinct per column, the same register chain as
    * [[corpusHll]] keyed by column name over a string-cast unpivot.
    */
  val corpusProfile = Q("q_corpus_profile",
    (s, dir) =>
      Corpus.profileColumns(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("col_name"),
    Some("""WITH long AS (
              SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
              UNION ALL SELECT 'text', text FROM documents
              UNION ALL SELECT 'lang', lang FROM documents
              UNION ALL SELECT 'source', source FROM documents
              UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
            basic AS (
              SELECT col_name, COUNT(*) AS n_rows,
                     SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_nulls
              FROM long GROUP BY 1),
            k AS (SELECT col_name, MD5(v) AS h FROM long WHERE v IS NOT NULL),
            r AS (
              SELECT col_name,
                     ('0x' || SUBSTR(h, 1, 1))::INT AS reg,
                     LEN(REGEXP_EXTRACT(SUBSTR(h, 2, 8), '^0*')) AS lz,
                     SUBSTR(h, 2, 8) AS win
              FROM k),
            x AS (
              SELECT col_name, reg, lz,
                     CASE WHEN lz = 8 THEN 0
                          ELSE ('0x' || SUBSTR(win, lz + 1, 1))::INT END AS fd
              FROM r),
            rho AS (
              SELECT col_name, reg,
                     CASE WHEN lz = 8 THEN 33
                          ELSE lz * 4 +
                               (CASE WHEN fd >= 8 THEN 0 WHEN fd >= 4 THEN 1
                                     WHEN fd >= 2 THEN 2 ELSE 3 END) + 1 END AS rho
              FROM x),
            m AS (SELECT col_name, reg, MAX(rho) AS mr FROM rho GROUP BY 1, 2),
            g AS (
              SELECT col_name, COUNT(*) AS nreg, SUM(POWER(2.0, -mr)) AS hp
              FROM m GROUP BY 1),
            est AS (
              SELECT col_name,
                     0.673 * 16 * 16 / ((16 - nreg) * 1.0 + hp) AS e,
                     16 - nreg AS v
              FROM g)
            SELECT basic.col_name, CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(n_nulls AS BIGINT) AS n_nulls,
                   ROUND(CASE WHEN e <= 2.5 * 16 AND v > 0
                              THEN 16.0 * LN(16.0 / v) ELSE e END, 6) AS n_distinct_est
            FROM basic
            LEFT JOIN est ON est.col_name = basic.col_name
            ORDER BY basic.col_name"""))

  /** Exact per-source token-count quantiles (p50/p90/p99) by integer
    * rank — the deterministic alternative to `percentile_approx`, whose
    * sketch is neither engine-reproducible nor oracle-able. The oracle
    * replays the identical ⌈q·n⌉ rank pick.
    */
  val corpusQuantiles = Q("q_corpus_length_quantiles",
    (s, dir) => {
      val lens = Tables.documents(s, dir)
        .select(col("source"), Text.tokenCount(col("text")).cast(LongType).as("n_tok"))
      Corpus.exactQuantiles(lens, "source", "n_tok", Seq(0.5, 0.9, 0.99))
        .orderBy("source")
    },
    Some("""WITH lens AS (
              SELECT source,
                CAST(LEN(LIST_FILTER(
                  STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                  x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents),
            r AS (
              SELECT source, n_tok,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM lens)
            SELECT source,
                   MAX(CASE WHEN rn = CEIL(0.5 * n) THEN n_tok END) AS p50,
                   MAX(CASE WHEN rn = CEIL(0.9 * n) THEN n_tok END) AS p90,
                   MAX(CASE WHEN rn = CEIL(0.99 * n) THEN n_tok END) AS p99
            FROM r GROUP BY source ORDER BY source"""))

  /** Mergeable log-bucket quantile sketch
    * ([[graft.ops.Corpus.quantileSketch]]) on the SAME per-source
    * token-count distribution as `q_corpus_length_quantiles`, so the
    * exact/sketch twins are directly comparable: each count keeps its
    * top 8 significant bits (subBits 7 → relative error < 1/128; exact
    * below 256), buckets computed in pure integer/string arithmetic
    * (LENGTH(BIN(v)) + two shifts — no cross-libm log), estimates are
    * the lowest bucket reaching the exact ⌈q·n⌉ rank. The oracle
    * replays the bucket map, the SUM-merge and the rank pick.
    */
  val corpusQuantileSketch = Q("q_corpus_quantile_sketch",
    (s, dir) => {
      val lens = Tables.documents(s, dir)
        .select(col("source"), Text.tokenCount(col("text")).cast(LongType).as("n_tok"))
      Corpus.quantileSketchEstimate(
        Corpus.quantileSketch(lens, "source", "n_tok", subBits = 7),
        "source", Seq(0.5, 0.9, 0.99))
        .orderBy("source")
    },
    Some("""WITH lens AS (
              SELECT source,
                CAST(LEN(LIST_FILTER(
                  STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                  x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents),
            b AS (
              SELECT source,
                     CASE WHEN LENGTH(BIN(n_tok)) <= 8 THEN n_tok
                          ELSE (n_tok >> (LENGTH(BIN(n_tok)) - 8)) << (LENGTH(BIN(n_tok)) - 8)
                     END AS bucket
              FROM lens),
            c AS (SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
            cum AS (
              SELECT source, bucket, c,
                     SUM(c) OVER (PARTITION BY source ORDER BY bucket) AS cum,
                     SUM(c) OVER (PARTITION BY source) AS n
              FROM c)
            SELECT source,
                   MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN bucket END) AS p50,
                   MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN bucket END) AS p90,
                   MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bucket END) AS p99
            FROM cum GROUP BY source ORDER BY source"""))

  /** Exact/sketch quantile TWIN ([[graft.ops.Corpus.exactQuantiles]] vs
    * [[graft.ops.Corpus.quantileSketchEstimate]] over the same
    * [[graft.ops.Corpus.quantileSketch]] frame, same per-source token
    * counts, same ⌈q·n⌉ rank): emits both values per quantile PLUS the
    * estimator's contract as data — `ok_*` asserts
    * est ≤ exact < est + 2^max(0, bitlen(est)−8), i.e. the estimate is
    * the true quantile's bucket lower bound and the truth sits inside
    * that bucket (exact equality below 2^8). A sketch regression that
    * stays inside the band would still flip a value column; one that
    * leaves the band flips ok_* — the gate pins the GUARANTEE
    * cross-engine, not just today's numbers. The CorpusSpec property
    * test covers random multisets; this covers the real corpus under
    * the DuckDB oracle. sf100 single-shot: 7.9 s over 500k docs (the
    * exact side's per-group window sort dominates; the sketch side is
    * the scale path — ≤ ~7.5k bucket rows per group at any size).
    */
  val corpusQuantileEstimate = Q("q_corpus_quantile_estimate",
    (s, dir) => {
      val lens = Tables.documents(s, dir)
        .select(col("source"), Text.tokenCount(col("text")).cast(LongType).as("n_tok"))
      val exact = Corpus.exactQuantiles(lens, "source", "n_tok", Seq(0.5, 0.9, 0.99))
      val est = Corpus.quantileSketchEstimate(
        Corpus.quantileSketch(lens, "source", "n_tok", subBits = 7),
        "source", Seq(0.5, 0.9, 0.99))
        .select(col("source"), col("p50").as("est_p50"),
          col("p90").as("est_p90"), col("p99").as("est_p99"))
      def ok(p: String): Column =
        (col(s"est_$p") <= col(p)) && (col(p) <
          col(s"est_$p") + expr(
            s"shiftleft(CAST(1 AS BIGINT), greatest(0, length(bin(est_$p)) - 8))"))
      // both sides are ≤20-row aggregates of the same frame; the join is
      // a broadcast over the group key at any corpus size
      exact.join(broadcast(est), Seq("source"))
        .withColumn("ok_p50", ok("p50"))
        .withColumn("ok_p90", ok("p90"))
        .withColumn("ok_p99", ok("p99"))
        .orderBy("source")
    },
    Some("""WITH lens AS (
              SELECT source,
                CAST(LEN(LIST_FILTER(
                  STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                  x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents),
            r AS (
              SELECT source, n_tok,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM lens),
            ex AS (
              SELECT source,
                     MAX(CASE WHEN rn = CEIL(0.5 * n) THEN n_tok END) AS p50,
                     MAX(CASE WHEN rn = CEIL(0.9 * n) THEN n_tok END) AS p90,
                     MAX(CASE WHEN rn = CEIL(0.99 * n) THEN n_tok END) AS p99
              FROM r GROUP BY source),
            b AS (
              SELECT source,
                     CASE WHEN LENGTH(BIN(n_tok)) <= 8 THEN n_tok
                          ELSE (n_tok >> (LENGTH(BIN(n_tok)) - 8)) << (LENGTH(BIN(n_tok)) - 8)
                     END AS bucket
              FROM lens),
            c AS (SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
            cum AS (
              SELECT source, bucket, c,
                     SUM(c) OVER (PARTITION BY source ORDER BY bucket) AS cum,
                     SUM(c) OVER (PARTITION BY source) AS n
              FROM c),
            es AS (
              SELECT source,
                     MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN bucket END) AS est_p50,
                     MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN bucket END) AS est_p90,
                     MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bucket END) AS est_p99
              FROM cum GROUP BY source)
            SELECT ex.source, p50, p90, p99, est_p50, est_p90, est_p99,
                   (est_p50 <= p50 AND p50 < est_p50 +
                     (CAST(1 AS BIGINT) << GREATEST(0, LENGTH(BIN(est_p50)) - 8))) AS ok_p50,
                   (est_p90 <= p90 AND p90 < est_p90 +
                     (CAST(1 AS BIGINT) << GREATEST(0, LENGTH(BIN(est_p90)) - 8))) AS ok_p90,
                   (est_p99 <= p99 AND p99 < est_p99 +
                     (CAST(1 AS BIGINT) << GREATEST(0, LENGTH(BIN(est_p99)) - 8))) AS ok_p99
            FROM ex JOIN es USING (source) ORDER BY source"""))

  /** Per-source winsorization ([[graft.ops.Corpus.winsorize]]): n_chars
    * clamped into the source's exact [p05, p95] band — the clip-not-drop
    * robust-preprocessing twin of the validators' bound checks. Oracle
    * replays the integer-rank picks and the LEAST/GREATEST clamp.
    */
  val corpusWinsorize = Q("q_corpus_winsorize",
    (s, dir) =>
      Corpus.winsorize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars", pLo = 0.05, pHi = 0.95)
        .select("doc_id", "source", "n_chars", "n_chars_clipped")
        .orderBy("doc_id"),
    Some("""WITH r AS (
              SELECT source, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM documents),
            cuts AS (
              SELECT source,
                     MAX(CASE WHEN rn = CEIL(0.05 * n) THEN n_chars END) AS lo,
                     MAX(CASE WHEN rn = CEIL(0.95 * n) THEN n_chars END) AS hi
              FROM r GROUP BY source)
            SELECT d.doc_id, d.source, d.n_chars,
                   LEAST(GREATEST(d.n_chars, c.lo), c.hi) AS n_chars_clipped
            FROM documents d JOIN cuts c USING (source)
            ORDER BY d.doc_id"""))

  /** Count-min heavy hitters: the 4×1024 counter sketch over every
    * corpus token, point-estimated for the top-20 true tokens beside
    * their exact counts — est ≥ exact always, bounded by ε·N. Everything
    * is md5 buckets and integer sums, so the oracle replays the sketch
    * bit-for-bit; mergeability (shard counters SUM to the whole) is
    * spec-tested.
    */
  val corpusCms = Q("q_corpus_cms_topterms",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(col("n_exact").desc, col("token")).limit(20)
      Corpus.cmsEstimate(Corpus.cmsCounters(toks, "token"), top, "token")
        .join(top, Seq("token"))
        .select(col("token"), col("n_exact"), col("est_count"))
        .orderBy("token")
    },
    Some("""WITH toks AS (
              SELECT UNNEST(LIST_FILTER(
                STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                x -> x <> '')) AS token
              FROM documents),
            ex AS (SELECT token, COUNT(*) AS n_exact FROM toks GROUP BY 1),
            top AS (SELECT token, n_exact FROM ex ORDER BY n_exact DESC, token LIMIT 20),
            ctr AS (
              SELECT j, ('0x' || SUBSTR(MD5(j || '_' || token), 1, 15))::BIGINT % 1024 AS b,
                     COUNT(*) AS c
              FROM toks, RANGE(0, 4) jj(j) GROUP BY 1, 2),
            est AS (
              SELECT t.token, MIN(COALESCE(ctr.c, 0)) AS est_count
              FROM (SELECT token, j,
                           ('0x' || SUBSTR(MD5(j || '_' || token), 1, 15))::BIGINT % 1024 AS b
                    FROM top, RANGE(0, 4) jj(j)) t
              LEFT JOIN ctr ON ctr.j = t.j AND ctr.b = t.b
              GROUP BY 1)
            SELECT top.token, top.n_exact, est.est_count
            FROM top JOIN est USING (token)
            ORDER BY token"""))

  /** Fixed-iteration PageRank ([[graft.ops.Graph.pageRank]]) over a
    * deterministic synthetic link graph (two modular out-edges per
    * document — every node has out-degree ≥ 2, so no dangling leak in
    * this gate). The oracle unrolls all 8 iterations as CTEs: degrees,
    * per-iteration contribution sums, the (1−d)/N teleport — computed
    * with the same literal arithmetic ((1.0 − 0.85), not a pre-folded
    * 0.15, so both engines fold the identical IEEE constant).
    */
  val graphPagerank = Q("q_graph_pagerank",
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id")
      val cnt = d.count()
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 3, lit(cnt)).as("dst"))
        .unionByName(d.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 5, lit(cnt)).as("dst")))
      Graph.pageRank(edges, "src", "dst", iters = 8).orderBy("node")
    },
    Some {
      val iterCte = (t: Int) =>
        s"""r$t AS (
              SELECT nodes.node,
                     ((1.0 - 0.85) / nn.m) + 0.85 * COALESCE(s.inr, 0) AS rank
              FROM nodes CROSS JOIN nn
              LEFT JOIN (SELECT ed.dst AS node, SUM(r${t - 1}.rank / ed.d) AS inr
                         FROM ed JOIN r${t - 1} ON r${t - 1}.node = ed.src
                         GROUP BY ed.dst) s
                ON s.node = nodes.node)"""
      s"""WITH c AS (SELECT COUNT(*) AS n FROM documents),
            e AS (SELECT doc_id AS src, (doc_id * 7 + 3) % n AS dst
                  FROM documents CROSS JOIN c
                  UNION ALL
                  SELECT doc_id AS src, (doc_id * 13 + 5) % n AS dst
                  FROM documents CROSS JOIN c),
            nodes AS (SELECT DISTINCT node FROM
                        (SELECT src AS node FROM e
                         UNION ALL SELECT dst AS node FROM e)),
            nn AS (SELECT COUNT(*) AS m FROM nodes),
            deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
            ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
            r0 AS (SELECT node, 1.0 / m AS rank FROM nodes CROSS JOIN nn),
            ${(1 to 8).map(iterCte).mkString(",\n            ")}
          SELECT node, ROUND(rank, 9) AS rank FROM r8 ORDER BY node"""
    })

  /** Standalone connected-components gate ([[graft.ops.Dedup
    * .connectedComponents]] — the large-star/small-star engine the
    * near-dup keep-one path runs, surfaced as its own operator with a
    * full oracle). Planted edge set with bounded diameter so the
    * recursive-CTE oracle terminates fast: doc_id blocks of 9 chained
    * (d ↔ d−1 except at block starts) plus a shortcut (d ↔ d−3 at
    * d ≡ 5) that puts a cycle in every block — components are exactly
    * the 9-blocks, labels their minima. The oracle computes min
    * reachable label by transitive closure, NOT star contraction — an
    * independent definition of the same fixpoint.
    */
  val graphCC = Q("q_graph_cc",
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id")
      val edges = d.filter(pmod(col("doc_id"), lit(9)) =!= 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(9)) === 5)
          .select(col("doc_id").as("id_a"), (col("doc_id") - 3).as("id_b")))
      Dedup.connectedComponentsStar(edges).orderBy("id")
    },
    Some("""WITH RECURSIVE e AS (
              SELECT doc_id AS a, doc_id - 1 AS b FROM documents WHERE doc_id % 9 <> 0
              UNION ALL
              SELECT doc_id AS a, doc_id - 3 AS b FROM documents WHERE doc_id % 9 = 5),
            ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            nodes AS (SELECT DISTINCT a AS n FROM ed),
            reach(n, m) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.n, ed.b FROM reach r JOIN ed ON ed.a = r.m)
            SELECT n AS id, MIN(m) AS label FROM reach GROUP BY n ORDER BY id"""))

  /** Fixed-iteration HITS ([[graft.ops.Graph.hits]]) over the same
    * synthetic link graph as the PageRank gate. Unnormalized by design:
    * h₀ = 1 keeps every intermediate an exact integer carried in
    * doubles, so both engines' sums are order-independent and the
    * compare needs NO rounding discipline — the oracle unrolls all four
    * hub/authority half-steps as CTEs.
    */
  val graphHits = Q("q_graph_hits",
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id")
      val cnt = d.count()
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 3, lit(cnt)).as("dst"))
        .unionByName(d.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 5, lit(cnt)).as("dst")))
      Graph.hits(edges, "src", "dst", iters = 4).orderBy("node")
    },
    Some {
      val authCte = (t: Int) =>
        s"""a$t AS (
              SELECT nodes.node, COALESCE(s.v, CAST(0 AS DOUBLE)) AS auth
              FROM nodes LEFT JOIN
                (SELECT e.dst AS node, SUM(h${t - 1}.hub) AS v
                 FROM e JOIN h${t - 1} ON h${t - 1}.node = e.src
                 GROUP BY e.dst) s ON s.node = nodes.node)"""
      val hubCte = (t: Int) =>
        s"""h$t AS (
              SELECT nodes.node, COALESCE(s.v, CAST(0 AS DOUBLE)) AS hub
              FROM nodes LEFT JOIN
                (SELECT e.src AS node, SUM(a$t.auth) AS v
                 FROM e JOIN a$t ON a$t.node = e.dst
                 GROUP BY e.src) s ON s.node = nodes.node)"""
      s"""WITH c AS (SELECT COUNT(*) AS n FROM documents),
            e AS (SELECT doc_id AS src, (doc_id * 7 + 3) % n AS dst
                  FROM documents CROSS JOIN c
                  UNION ALL
                  SELECT doc_id AS src, (doc_id * 13 + 5) % n AS dst
                  FROM documents CROSS JOIN c),
            nodes AS (SELECT DISTINCT node FROM
                        (SELECT src AS node FROM e
                         UNION ALL SELECT dst AS node FROM e)),
            h0 AS (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
            ${(1 to 4).map(t => authCte(t) + ",\n            " + hubCte(t))
              .mkString(",\n            ")}
          SELECT nodes.node, h4.hub, a4.auth
          FROM nodes JOIN h4 ON h4.node = nodes.node
                     JOIN a4 ON a4.node = nodes.node
          ORDER BY nodes.node"""
    })

  /** Per-node triangle counts ([[graft.ops.Graph.triangleCount]]) over a
    * ring + chords graph (edges i→i+1 and i→i+2 mod n put every node in
    * exactly 3 triangles; the ×7 chord adds irregular ones). The oracle
    * replays the whole degree-orientation pipeline — canonical edges,
    * (deg, id) orientation, apex wedges, the closing-edge join — NOT
    * just the counts, so the dedup/orientation semantics are what's
    * being compared.
    */
  val graphTriangles = Q("q_graph_triangles",
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id")
      val cnt = d.count()
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id") + 1, lit(cnt)).as("dst"))
        .unionByName(d.select(col("doc_id").as("src"),
          pmod(col("doc_id") + 2, lit(cnt)).as("dst")))
        .unionByName(d.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 3, lit(cnt)).as("dst")))
      Graph.triangleCount(edges, "src", "dst").orderBy("node")
    },
    Some("""WITH c AS (SELECT COUNT(*) AS n FROM documents),
            raw AS (
              SELECT doc_id AS s, (doc_id + 1) % n AS d FROM documents CROSS JOIN c
              UNION ALL
              SELECT doc_id AS s, (doc_id + 2) % n AS d FROM documents CROSS JOIN c
              UNION ALL
              SELECT doc_id AS s, (doc_id * 7 + 3) % n AS d FROM documents CROSS JOIN c),
            und AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v
                    FROM raw WHERE s <> d),
            deg AS (SELECT node, COUNT(*) AS deg FROM
                      (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
                    GROUP BY node),
            o AS (SELECT
                    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                         THEN u ELSE v END AS a,
                    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                         THEN v ELSE u END AS b
                  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
            ob AS (SELECT o.a, o.b, deg.deg AS bd FROM o JOIN deg ON deg.node = o.b),
            w AS (SELECT x.a, x.b, y.b AS c2 FROM ob x JOIN ob y ON x.a = y.a
                    AND (x.bd < y.bd OR (x.bd = y.bd AND x.b < y.b))),
            t AS (SELECT w.a, w.b, w.c2 FROM w JOIN o ON o.a = w.b AND o.b = w.c2),
            pm AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
                   UNION ALL SELECT c2 FROM t),
            tc AS (SELECT node, COUNT(*) AS nt FROM pm GROUP BY node)
            SELECT deg.node, CAST(COALESCE(tc.nt, 0) AS BIGINT) AS n_triangles
            FROM deg LEFT JOIN tc USING (node) ORDER BY node"""))

  /** DSIR selection ([[graft.ops.Corpus.dsirSelect]]): top-200 corpus
    * documents by hashed-unigram importance log-ratio against the
    * reference-quality target (sources src0–src3 — the same target the
    * NB gate trains on). The oracle refits BOTH bucket distributions,
    * the Laplace smoothing, every per-doc weighted sum (bucket-level,
    * mirroring Spark's cnt·w aggregation), and the (score desc, id)
    * top-k cut — decision-for-decision, on the rounded score both
    * engines sort by.
    */
  val selectDsir = Q("q_select_dsir",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Corpus.dsirSelect(
        d, d.filter(col("source").isin("src0", "src1", "src2", "src3")),
        "text", "doc_id", k = 200, dim = 256)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source,
                     ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT % 256 AS b
              FROM (SELECT doc_id, source, UNNEST(LIST_FILTER(
                      STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                      x -> x <> '')) AS t
                    FROM documents)),
            db AS (SELECT doc_id, b, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
            sb AS (SELECT b, COUNT(*) AS sc FROM toks GROUP BY b),
            st AS (SELECT COUNT(*) AS stot FROM toks),
            tb AS (SELECT b, COUNT(*) AS tc FROM toks
                   WHERE source IN ('src0','src1','src2','src3') GROUP BY b),
            tt AS (SELECT COUNT(*) AS ttot FROM toks
                   WHERE source IN ('src0','src1','src2','src3')),
            w AS (
              SELECT sb.b,
                     LN(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / (ttot + 256)) -
                     LN(CAST(sc + 1 AS DOUBLE) / (stot + 256)) AS wb
              FROM sb LEFT JOIN tb ON tb.b = sb.b
              CROSS JOIN st CROSS JOIN tt),
            per AS (
              SELECT doc_id, SUM(cnt) AS n_tokens, SUM(cnt * wb) AS s
              FROM db JOIN w ON w.b = db.b GROUP BY doc_id),
            scored AS (
              SELECT d.doc_id,
                CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
                ROUND(COALESCE(per.s, 0.0), 6) AS log_ratio
              FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id)
            SELECT * FROM (
              SELECT doc_id, n_tokens, log_ratio FROM scored
              ORDER BY log_ratio DESC, doc_id LIMIT 200)
            ORDER BY doc_id"""))

  /** RefinedWeb-style per-domain cap: at most 10 docs per source, chosen
    * by deterministic md5 rank — the mixture-control selection primitive.
    * At sf0.01 every source holds ~25 docs, so the cap genuinely cuts;
    * the oracle replays the identical (md5(seed‖id), id) ranking.
    */
  val selectDomainCap = Q("q_select_domain_cap",
    (s, dir) =>
      Corpus.capPerDomain(
        Tables.documents(s, dir).select("doc_id", "source"),
        "source", "doc_id", cap = 10, seed = "cap0")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM documents
            QUALIFY ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY MD5('cap0' || CAST(doc_id AS VARCHAR)), doc_id) <= 10
            ORDER BY doc_id"""))

  /** Context-window chunking: 32-token windows every 24 tokens (8-token
    * overlap) — one row per (doc, chunk) with 1-based chunk index.
    * Chunking is a pure expression fused into the scan; the explode is
    * narrow (no shuffle), so at 100 TB this runs at parquet-read speed.
    */
  val curateChunk = Q("q_curate_chunk",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
        posexplode(Text.tokenChunks(Text.tokens(col("text")), 32, 24))
          .as(Seq("__pos", "c")))
        .select(col("doc_id"), (col("__pos") + 1).as("chunk_id"),
          col("c.n_tokens").as("n_tokens"), col("c.chunk_text").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     LIST_FILTER(
                       STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS t
              FROM documents),
            starts AS (
              SELECT doc_id, t, UNNEST(RANGE(0, LEN(t), 24)) AS s
              FROM toks WHERE LEN(t) > 0)
            SELECT doc_id,
              CAST(s // 24 + 1 AS INTEGER) AS chunk_id,
              CAST(LEN(t[s + 1 : s + 32]) AS INTEGER) AS n_tokens,
              ARRAY_TO_STRING(t[s + 1 : s + 32], ' ') AS chunk_text
            FROM starts
            ORDER BY doc_id, chunk_id"""))

  /** Document fingerprinting: md5 of normalized text (engine-stable). The
    * xxhash64 rolling fingerprint has no DuckDB twin → unit-tested.
    */
  val textFingerprint = Q("q_text_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.fingerprintMd5(col("text")).as("fp_md5"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS fp_md5,
              CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents ORDER BY doc_id"""))

  /** Greedy k-center diverse-subset selection
    * ([[graft.ops.Similarity.kCenterSelect]] — Gonzalez farthest-point,
    * the selection family's diversity member beside DSIR's
    * match-a-target and the caps/budgets' quotas) over the embeddings
    * table, k = 8. Every decision is engine-reproducible by
    * construction — quantized-integer squared distances, min-id seed,
    * (distance desc, id asc) argmax — so the oracle UNROLLS all eight
    * selection rounds as paired CTEs (`s_t` = round t's argmax over the
    * running min-distance state `st_{t-1}`; `st_t` folds the new
    * center's distance in with LEAST), replaying seed, every distance
    * quantization, every argmax and every tiebreak decision-for-decision
    * in DuckDB.
    */
  val selectKcenter = Q("q_select_kcenter",
    (s, dir) => Similarity.kCenterSelect(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
      .orderBy("pick_order"),
    Some {
      // d2q(a,b): Σ⌊(aᵢ−bᵢ)²·10¹²+½⌋ as BIGINT — term-for-term the Spark
      // expression (same IEEE ops, same association), integer-summed so
      // order cannot matter
      def d2q(a: String, b: String) =
        s"""CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b),
              p -> CAST(FLOOR((p[1] - p[2]) * (p[1] - p[2])
                              * 1e12 + 0.5) AS BIGINT))) AS BIGINT)"""
      val rounds = (2 to 8).map { t =>
        s"""s$t AS (SELECT id, vec, mind FROM st${t - 1}
                    ORDER BY mind DESC, id LIMIT 1),
            st$t AS (SELECT p.id, p.vec,
                            LEAST(p.mind, ${d2q("p.vec", s"s$t.vec")}) AS mind
                     FROM st${t - 1} p, s$t WHERE p.id <> s$t.id)"""
      }.mkString(",\n            ")
      val picks = (2 to 8)
        .map(t => s"SELECT $t AS pick_order, id AS vec_id, mind AS d2q FROM s$t")
        .mkString("\n            UNION ALL ")
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
                     FROM embeddings WHERE embedding IS NOT NULL),
            s1 AS (SELECT id, vec FROM v ORDER BY id LIMIT 1),
            st1 AS (SELECT p.id, p.vec, ${d2q("p.vec", "s1.vec")} AS mind
                    FROM v p, s1 WHERE p.id <> s1.id),
            $rounds
          SELECT 1 AS pick_order, id AS vec_id, CAST(NULL AS BIGINT) AS d2q FROM s1
            UNION ALL $picks
          ORDER BY pick_order"""
    })

  /** Topic-balanced cluster subsample
    * ([[graft.ops.Similarity.clusterBalancedSample]] — the selection
    * family's balanced-coverage member beside DSIR and k-center):
    * nlist = 16 / 3-step deterministic Lloyd fit, nearest-cell
    * assignment, per-cell (md5(id), id) quota of 20. The oracle
    * rebuilds the ENTIRE chain — the bit-reproducible Lloyd refinement
    * ([[VecOracleSql.lloydCtesSql]]), the tie-ruled rank-1 assignment,
    * and the per-cell window cut — the same Lloyd-replay machinery the
    * IVF and semantic-dedup gates pin.
    */
  val sampleClusterBalanced = Q("q_sample_cluster_balanced",
    (s, dir) => Similarity.clusterBalancedSample(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 16, perCell = 20)
      .orderBy("centroid_id", "vec_id"),
    Some(s"""WITH ${VecOracleSql.lloydCtesSql("16", 3)},
            asn AS (
              SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                         ORDER BY ${VecOracleSql.cosSql("v.e", "c.cent")} DESC NULLS LAST,
                                  c.centroid_id) AS rk
                FROM v CROSS JOIN c3 c) WHERE rk = 1)
          SELECT centroid_id, vec_id, CAST(rn AS INTEGER) AS rank FROM (
            SELECT centroid_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY centroid_id
                     ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM asn)
          WHERE rn <= 20 ORDER BY centroid_id, vec_id"""))

  val all: Seq[Q] = Seq(corpusKmv, corpusKmvOverlap, corpusHll, corpusProfile, corpusQuantiles, corpusQuantileSketch, corpusQuantileEstimate, corpusWinsorize, corpusCms, graphPagerank, graphCC, graphHits, graphTriangles, selectDsir, selectDomainCap, selectKcenter, sampleClusterBalanced, curateChunk, textFingerprint)
}
