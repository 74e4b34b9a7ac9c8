package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkTestBase
import graft.ops.Materialize.ForkOps

/** Dedup operator semantics: exact survivors, fused hash expressions vs
  * HOF builtins (bit parity), LSH recall against the exact definition,
  * hamming pigeonhole completeness, cosine pair thresholds.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "THE  QUICK brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1 (normalized)
    (4L, "completely different text about spark catalyst optimizer rules and plans"),
    (5L, "another unrelated document mentioning parquet columnar storage formats"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id per normalized text") {
    val ids = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 4L, 5L)) // 3 collapses into 1
  }

  test("duplicatedSpanStats: span counts, corpus-wide dup marking, short docs") {
    // docs 1 and 3 normalize identically (14 tokens → 7 spans at k=8, all
    // duplicated); doc 2 differs from them only in its last token, so its
    // spans 0-5 match doc 1 and only the final span (covering the last
    // token) is unique; docs 4 (10 tokens) and 5 (8 tokens) share nothing.
    val out = Dedup.duplicatedSpanStats(docs, "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((7L, 7L)) && out(3L) == ((7L, 7L)))
    assert(out(2L) == ((7L, 6L)))
    assert(out(4L) == ((3L, 0L)) && out(5L) == ((1L, 0L)))
    // a doc shorter than k surfaces with zero spans instead of dropping out
    val short = Dedup.duplicatedSpanStats(
      docs.union(Seq((9L, "tiny doc")).toDF("doc_id", "text")),
      "text", "doc_id", k = 8).filter(col("doc_id") === 9L).collect()
    assert(short.length == 1 && short.head.getLong(1) == 0L
      && short.head.getDouble(3) == 0.0)
    // within-doc repetition alone counts as duplication (suffix-array
    // semantics over the concatenated corpus)
    val rep = Seq((1L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpanStats(rep, "text", "doc_id", k = 8)
      .collect().head
    assert(r.getLong(1) == 9L && r.getLong(2) == 2L) // span@0 == span@8
    // scale contract: with the ceiling forced to 0 (the at-scale plan),
    // the dup-set semi join and per-doc rollups are corpus-sized —
    // nothing in this plan may broadcast
    spark.conf.set(Dedup.PairCeilingKey, "0")
    try {
      val plan = Dedup.duplicatedSpanStats(
        graft.Tables.documents(spark, "/root/testdata/sf0.001"),
        "text", "doc_id", k = 8).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"broadcast in:\n$plan")
    } finally spark.conf.unset(Dedup.PairCeilingKey)
  }

  test("stripDuplicatedSpans: canonical kept, later occurrences cut, overlap unions") {
    import org.apache.spark.sql.DataFrame
    def run(d: DataFrame) = Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // within-doc repeat: second occurrence of the 8-token span removed
    val rep = run(Seq((1L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text"))
    assert(rep(1L) == (("a b c d e f g h", 8L, 8L)))
    // cross-doc: doc 1 (smaller id) is canonical and intact; doc 2's copy
    // of the shared 8-token prefix is cut, its novel tail survives
    val cross = run(Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight plus unique trailing words here")
    ).toDF("doc_id", "text"))
    assert(cross(1L) == (("one two three four five six seven eight", 8L, 0L)))
    assert(cross(2L)._3 == 8L) // exactly the shared span's 8 tokens removed
    assert(cross(2L)._1 == "plus unique trailing words here")
    // an exact-duplicate document loses everything (run exactDedup first,
    // as the scaladoc mandates)
    val dup = run(Seq((1L, "w x y z p q r s"), (2L, "w x y z p q r s"))
      .toDF("doc_id", "text"))
    assert(dup(1L) == (("w x y z p q r s", 8L, 0L)))
    assert(dup(2L) == (("", 0L, 8L)))
    // docs shorter than k pass through re-joined and untouched
    val short = run(Seq((1L, "  only   three tokens ")).toDF("doc_id", "text"))
    assert(short(1L) == (("only three tokens", 3L, 0L)))
    // scale contract: ceiling forced to 0 — the canonical-span attach and
    // removal-set frames are corpus-order, nothing may broadcast
    spark.conf.set(Dedup.PairCeilingKey, "0")
    try {
      val plan = Dedup.stripDuplicatedSpans(
        graft.Tables.documents(spark, "/root/testdata/sf0.001"),
        "text", "doc_id", k = 8).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"broadcast in:\n$plan")
    } finally spark.conf.unset(Dedup.PairCeilingKey)
  }

  test("stripDuplicatedSpans preserveNewlines: line structure kept, same cuts as default") {
    // the 8-token span sits inside otherwise-distinct lines, so the only
    // corpus-duplicated k=8 window is the span itself; the last line is
    // SHORTER than k, invisible to the span screen in both modes
    val span8 = "shared span sentence eight tokens exactly appearing twice"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta\n$span8 uniq1a uniq1b\ncopyright twenty six reserved"),
      (2L, s"iota kappa lambda mu nu xi omicron pi\n$span8 uniq2a uniq2b\ncopyright twenty six reserved"))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(docs, "text", "doc_id", k = 8,
      preserveNewlines = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 canonical: rebuilt byte-equal to its (already-normalized) input
    assert(out(1L) == ((s"alpha beta gamma delta epsilon zeta eta theta\n$span8 uniq1a uniq1b\ncopyright twenty six reserved", 22L, 0L)))
    // doc 2: the span's 8 tokens cut from line 1, line structure intact
    assert(out(2L) == ((s"iota kappa lambda mu nu xi omicron pi\nuniq2a uniq2b\ncopyright twenty six reserved", 14L, 8L)))
    // a line whose EVERY token is cut survives as an empty line (interior
    // blank preserved), and token counts match the default-mode rebuild
    val lineDocs = Seq(
      (1L, "one two three four five six seven eight\ntail line stays"),
      (2L, "prefix line stays here\none two three four five six seven eight\nsuffix line"))
      .toDF("doc_id", "text")
    val pres = Dedup.stripDuplicatedSpans(lineDocs, "text", "doc_id", k = 8,
      preserveNewlines = true).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(pres(2L) == (("prefix line stays here\n\nsuffix line", 6L, 8L)))
    // parity with the default rebuild: identical cuts, newline runs are
    // the only delta (collapse them and the strings match)
    val flat = Dedup.stripDuplicatedSpans(lineDocs, "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    for (id <- Seq(1L, 2L)) {
      assert((flat(id)._2, flat(id)._3) == ((pres(id)._2, pres(id)._3)))
      assert(flat(id)._1 == pres(id)._1.replaceAll("\n+", " ").trim
        .replaceAll(" +", " "))
    }
  }

  test("auto-planned LSH twins: planner wiring equals explicit params; " +
    "auto minhash equals the exact all-pairs oracle (driver corpus)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cosine: auto == the same call with planCosineLsh's params spelled out
    val cplan = Dedup.planCosineLsh(emb.count(), 0.45)
    assert(cplan.bits == 3 && cplan.tables == 8) // n=500 → documented plan
    assert(pairs(Dedup.cosineDupPairsAuto(emb, "embedding", "vec_id", 0.45)) ==
      pairs(Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45,
        cplan.bits, cplan.tables)))
    // minhash: auto(0.98) must equal the EXACT all-pairs definition here —
    // this is the q_dedup_minhash_lsh_auto gate's oracle claim (planted
    // dups sit far above threshold; seeded hashing keeps it deterministic)
    val auto = pairs(Dedup.minhashLshPairsAuto(docs, "text", "doc_id",
      n = 3, threshold = 0.5, targetRecall = 0.98))
    val exact = pairs(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5))
    assert(auto == exact, s"auto banding missed ${exact -- auto} / extra ${auto -- exact}")
    // semdedup: explicit targetCellSize override still pins population
    // (64 → the r6 gate's historical nCells=16 at n=500); the balanced
    // default picks √(3n)-sized cells instead
    assert(Dedup.planSemdedupCells(500, targetCellSize = 64) == 16)
    assert(Dedup.planSemdedupCells(500) == 26)
  }

  /** Mirror of the oracle SQL in CurationQueries.dedupCosineLshAuto:
    *   bits = GREATEST(1, LEAST(30, CEIL(LN(n/100.0)/LN(2))))
    *   tabs = LEAST(16, GREATEST(1, CEIL(LN(0.1) /
    *            LN(1 - POWER(1 - ACOS(0.45)/PI(), bits)))))
    * The ONE test-side copy of this arithmetic — both the gate-size test
    * and the dense sweep below pin the Scala planner to it, so the three
    * dialects (Scala log1p, DuckDB LN(1-x), this mirror's log(1-x))
    * cannot drift apart unnoticed.
    */
  private def sqlCosinePlan(n: Long): (Int, Int) = {
    val bits = math.max(1, math.min(30,
      math.ceil(math.log(n / 100.0) / math.log(2)).toInt))
    val p = 1.0 - math.acos(0.45) / math.Pi
    val tabs = math.min(16, math.max(1,
      math.ceil(math.log(0.1) / math.log(1 - math.pow(p, bits))).toInt))
    (bits, tabs)
  }

  /** Mirror of the oracle SQL in CurationQueries.dedupSemdedup:
    *   GREATEST(1, CEIL(n * 2 / GREATEST(16.0, SQRT(2.0*3*n/2.0))))
    */
  private def sqlSemdedupCells(n: Long): Int =
    math.max(1, math.ceil(
      n.toDouble * 2 / math.max(16.0, math.sqrt(2.0 * 3 * n / 2.0))).toInt)

  test("oracle plan arithmetic: the SQL-derived (bits, tables) and nCells " +
    "equal the Scala planners at every gate corpus size") {
    // the q_dedup_embed_cosine_lsh_auto oracle re-derives planCosineLsh in
    // SQL and the q_dedup_semdedup oracle re-derives planSemdedupCells —
    // if either planner's arithmetic drifts, the hash gate would fail with
    // an opaque pair diff; this pins the re-derivations to the planners
    // with a readable assertion at the sizes the gates actually run
    // (sf0.001/sf0.01 embeddings = 500, sf0.1 = 2000; 5000 = the
    // documented tables-capped point).
    for (n <- Seq(500L, 2000L, 5000L)) {
      val plan = Dedup.planCosineLsh(n, 0.45)
      assert(sqlCosinePlan(n) == ((plan.bits, plan.tables)),
        s"SQL plan ${sqlCosinePlan(n)} != planCosineLsh ($n → " +
          s"${(plan.bits, plan.tables)})")
      assert(sqlSemdedupCells(n) == Dedup.planSemdedupCells(n),
        s"SQL nCells ${sqlSemdedupCells(n)} != planSemdedupCells " +
          s"(${Dedup.planSemdedupCells(n)}) at n=$n")
    }
  }

  test("oracle plan arithmetic: dense n-sweep 100..200k — the SQL mirror " +
    "equals the Scala planners at every size, including ceil boundaries") {
    // The planner arithmetic exists in three dialects (Scala log1p, DuckDB
    // LN(1-x), the mirror above) and the gate-size test pins only three
    // n values; a ULP-level divergence adjacent to a ceil() boundary at
    // any OTHER corpus size would surface as an opaque oracle hash diff
    // in some future gate. Sweep a ~300-point log-spaced grid plus every
    // bits-formula boundary n = 100·2^k ± 1 (the exact points where
    // ceil(log2(n/100)) steps), so boundary drift fails HERE with the n
    // and both plans in the message.
    val grid = (0 to 330).map(i => math.round(100.0 * math.pow(1.0233, i)))
    val bitEdges = (0 to 11).flatMap { k =>
      val n = 100L << k; Seq(n - 1, n, n + 1)
    }
    val sweep = (grid ++ bitEdges).filter(n => n >= 100 && n <= 200000)
      .distinct.sorted
    assert(sweep.length > 300) // the sweep is actually dense
    for (n <- sweep) {
      val plan = Dedup.planCosineLsh(n, 0.45)
      assert(sqlCosinePlan(n) == ((plan.bits, plan.tables)),
        s"SQL plan ${sqlCosinePlan(n)} != planCosineLsh " +
          s"${(plan.bits, plan.tables)} at n=$n")
      assert(sqlSemdedupCells(n) == Dedup.planSemdedupCells(n),
        s"SQL nCells ${sqlSemdedupCells(n)} != planSemdedupCells " +
          s"${Dedup.planSemdedupCells(n)} at n=$n")
    }
  }

  test("embedding decontamination: exact mode flags planted paraphrase pairs, " +
    "broadcasts the benchmark, and the LSH mode is a recall-gated subset") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val train = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    def hitMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val exactDf = Dedup.contaminatedIdsEmbedding(train, bench,
      "embedding", "vec_id", threshold = 0.4)
    // exact mode: the training side must never shuffle — benchmark
    // broadcasts into a nested-loop probe, hits partial-aggregate
    assert(exactDf.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "exact mode must broadcast the benchmark side")
    val exact = hitMap(exactDf)
    assert(exact.nonEmpty, "threshold 0.4 must flag someone at sf0.001")
    // cross-check one flagged id against a direct cosine computation
    val (someId, (someMax, someHits)) = exact.head
    val direct = Dedup.cosineDupPairs(
      emb.filter(col("vec_id") === someId || col("vec_id") % 10 === 0),
      "embedding", "vec_id", threshold = 0.4, lshBits = 0)
      .filter(col("id_a") === someId || col("id_b") === someId)
      .collect().map(_.getDouble(2))
    assert(direct.length == someHits && math.abs(direct.max - someMax) < 1e-12)
    // LSH mode: subset of exact with identical (max, hits) where complete;
    // the auto-planned config reaches full recall on this corpus' planted
    // near-identical contamination (per-plane agreement ≈ 0.87 at 0.4)
    val lsh = hitMap(Dedup.contaminatedIdsEmbeddingAuto(train, bench,
      "embedding", "vec_id", threshold = 0.4, targetRecall = 0.95))
    assert(lsh.keySet.subsetOf(exact.keySet), "LSH must never invent hits")
    lsh.foreach { case (id, (mc, nh)) =>
      assert(math.abs(exact(id)._1 - mc) < 1e-12 && exact(id)._2 >= nh)
    }
    assert(lsh.size >= math.ceil(exact.size * 0.8).toInt,
      s"recall ${lsh.size}/${exact.size} below 0.8 floor")
  }

  test("MinHashSig expression is bit-identical to the HOF xxhash64 form") {
    val sh = Text.charShingles(col("text"), 5)
    val both = docs.select(
      Dedup.minhashSignature(sh, 16).as("expr"),
      DedupTwins.minhashSignatureHof(sh, 16).as("hof")).collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("MinHashSigFromHashes over sorted xxhash64 arrays equals MinHashSig over strings") {
    // the round-18 dedup-kernel contract: signatures folded from the
    // CHECKPOINTED sorted base-hash arrays must be bit-identical to the
    // string-shingle form (min is order-blind, base seed matches the
    // xxhash64 builtin) — minhashLshPairs' candidate set depends on it
    val sh = Text.charShingles(col("text"), 5)
    val both = docs.select(
      graft.functions.HashExprs.minhashSigFromHashes(
        array_sort(transform(sh, s => xxhash64(s))), 16).as("fromHashes"),
      Dedup.minhashSignature(sh, 16).as("fromStrings")).collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("SimHash64 expression is bit-identical to the HOF form") {
    val both = docs.select(
      Dedup.simhash64(col("text")).as("expr"),
      DedupTwins.simhash64Hof(col("text")).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("minhash LSH pairs equal the exact jaccard definition on near-dups") {
    val viaLsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 64, 2, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact: compute jaccard of word-3 shingle sets in plain Scala
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toSeq
      if (toks.length <= 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val local = docs.collect().map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val exact = (for {
      a <- local.keys; b <- local.keys if a < b
      j = local(a).intersect(local(b)).size.toDouble / local(a).union(local(b)).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(viaLsh == exact)
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 3L))) // non-trivial
  }

  test("simhash pairs: chunk bucketing is complete for hamming <= 3") {
    val hashes = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
      if d <= 3
    } yield (a, b, d)).toSet
    val viaBuckets = Dedup.simhashPairs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").longValue)).toSet
    assert(viaBuckets.map(t => (t._1, t._2, t._3.toInt)) == exact)
  }

  test("bloom-accelerated incremental dedup equals the plain exact path") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // null-text rows ride along: they digest to null, so the bloom probe
    // is null — an unguarded filter(!might)/filter(might) pair would drop
    // them from BOTH branches while the plain path keeps one (anti-join
    // on a null key never matches). The twin contract must cover them.
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(100001L, null, "en", "srcx", 0L),
        org.apache.spark.sql.Row(100003L, null, "en", "srcx", 0L))),
      corpus.schema)
    val incoming = corpus.filter(col("doc_id") % 2 === 1).unionByName(nulls)
    val existing = corpus.filter(col("doc_id") % 2 === 0)
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = ids(Dedup.exactDedupIncremental(incoming, existing, "text", "doc_id"))
    // default fpp, auto-sized
    val bloom = Dedup.buildDigestBloom(existing, "text")
    val viaBloom = ids(Dedup.exactDedupIncrementalBloom(
      incoming, existing, "text", "doc_id", bloom))
    assert(viaBloom == plain)
    // a deliberately tiny, collision-heavy filter (8 expected items for
    // a 250-doc history → high fpp): false positives route more rows
    // through the exact residue check, but the RESULT must not change
    val lossy = Dedup.buildDigestBloom(existing, "text", expectedItems = 8)
    assert(ids(Dedup.exactDedupIncrementalBloom(
      incoming, existing, "text", "doc_id", lossy)) == plain)
    // the residue path never shuffles the history: broadcast joins only
    spark.conf.set(Dedup.PairCeilingKey, "1000000")
    try {
      val plan = Dedup.exactDedupIncrementalBloom(
        incoming, existing, "text", "doc_id", bloom)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"residue check should broadcast:\n$plan")
    } finally spark.conf.unset(Dedup.PairCeilingKey)
    // empty history: everything bloom-misses straight through
    val none = Dedup.buildDigestBloom(existing.filter(lit(false)), "text")
    assert(ids(Dedup.exactDedupIncrementalBloom(
      incoming, existing.filter(lit(false)), "text", "doc_id", none)) ==
      ids(Dedup.exactDedup(incoming, "text", "doc_id")))
  }

  test("line-level dedup: keep-first across corpus, blanks preserved, stats consistent") {
    import org.apache.spark.sql.DataFrame
    // doc 1: header + body + footer; doc 2 repeats the header and footer
    // (different case/spacing — normalization must unify them) around its
    // own body, with a blank line that must survive untouched; doc 3 is
    // entirely lines seen before → strips to empty-ish
    val docs3: DataFrame = Seq(
      (1L, "common header line\nunique body one\ncommon footer"),
      (2L, "Common  HEADER line\n\nunique body two\ncommon footer"),
      (3L, "common header line\ncommon footer")).toDF("doc_id", "text")
    val stripped = Dedup.stripDuplicatedLines(docs3, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stripped(1L) == (("common header line\nunique body one\ncommon footer", 3L, 0L)))
    // doc 2 loses header+footer (later occurrences), keeps blank + body;
    // the ORIGINAL casing of kept lines is preserved (only matching is
    // normalized)
    assert(stripped(2L) == (("\nunique body two", 4L, 2L)))
    assert(stripped(3L) == (("", 2L, 2L)))
    val stats = Dedup.duplicatedLineStats(docs3, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // blank line in doc 2 is not a line for stats purposes
    assert(stats(1L) == ((3L, 2L)) && stats(2L) == ((3L, 2L)) && stats(3L) == ((2L, 2L)))
    // no duplication → strip is the identity
    val solo = Seq((9L, "only\nlines\nhere")).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedLines(solo, "text", "doc_id").collect().head
    assert(out.getString(1) == "only\nlines\nhere" && out.getLong(3) == 0L)
  }

  test("simhash: zero-token docs sign 0 and pair with each other (oracle contract)") {
    // the q_dedup_simhash oracle now emits sig 0 for docs that normalize
    // to zero tokens (LEFT JOIN + COALESCE); this locks the Spark side to
    // the same total function: empty and whitespace-only texts sign 0
    // (hamming-0 pair), null text signs null and never pairs
    val edge = Seq((1L, "real content document here"), (8L, ""), (9L, "   \n  "))
      .toDF("doc_id", "text")
    val sigs = edge.select(col("doc_id"), Dedup.simhash64Md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sigs(8L) == Some(0L) && sigs(9L) == Some(0L))
    val prs = Dedup.simhashPairs(edge, "text", "doc_id", maxHamming = 3, tokenHash = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prs == Set((8L, 9L)), s"expected only the empty-empty pair, got $prs")
    val withNull = edge.unionByName(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(10L, null: String))),
        edge.schema))
    val prsNull = Dedup.simhashPairs(withNull, "text", "doc_id", maxHamming = 3,
      tokenHash = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prsNull == Set((8L, 9L)), "null text must never pair")
  }

  test("md5 simhash variant is bit-identical to a JVM reference and its pairs are exact") {
    // the md5-token-hash variant backs the q_dedup_simhash oracle gate:
    // assert the Spark expression chain (conv/substring/md5 + HOF votes)
    // against an independent JVM MessageDigest reference, and the chunked
    // pair path against the all-pairs definition on those signatures
    def md5h(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) << 32) |
        java.lang.Long.parseLong(hex.substring(8, 16), 16)
    }
    def refSig(text: String): Long = {
      val toks = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").filter(_.nonEmpty)
      (0 until 64).map { j =>
        val vote = toks.map(t => if (((md5h(t) >> j) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) 1L << j else 0L
      }.sum
    }
    val sigs = docs.select(col("doc_id"), Dedup.simhash64Md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, t) <- texts)
      assert(sigs(id) == refSig(t), s"doc $id md5-simhash differs from JVM reference")
    // and the fused MessageDigest token hash is bit-identical to the
    // Spark-builtin conv/substring/md5 HOF chain
    docs.select(Dedup.simhash64Md5(col("text")).as("expr"),
        DedupTwins.simhash64Md5Hof(col("text")).as("hof")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val exact = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      if d <= 3
    } yield (a, b, d)).toSet
    val viaBuckets = Dedup.simhashPairs(docs, "text", "doc_id", 3, tokenHash = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
    assert(viaBuckets == exact)
  }

  test("cosine dup pairs: exact and LSH paths find identical-direction vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),   // same direction as 1 → cosine 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    // cos((0.9,0.1),(1,0)) ≈ 0.9939 — threshold above it isolates the 1↔2 pair
    val exact = Dedup.cosineDupPairs(vecs, "embedding", "vec_id", 0.999, lshBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    val lsh = Dedup.cosineDupPairs(vecs, "embedding", "vec_id", 0.999, lshBits = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((1L, 2L))) // identical vectors share every hyperplane bucket
    // the md5 plane family (the oracle-gated variant) behaves identically
    // on identical-direction vectors — any plane family must
    val lshMd5 = Dedup.cosineDupPairs(vecs, "embedding", "vec_id", 0.999,
      lshBits = 2, planeHash = "md5")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshMd5 == Set((1L, 2L)))
  }

  test("connected components: chains collapse to min label") {
    // 1-2, 2-7, 7-9 form one chain; 4-5 another; 8 isolated (absent)
    val pairs = Seq((1L, 2L), (2L, 7L), (7L, 9L), (4L, 5L)).toDF("id_a", "id_b")
    for ((algo, cc) <- Seq[(String, DataFrame => DataFrame)](
        "star" -> (Dedup.connectedComponentsStar(_)),
        "label" -> (DedupTwins.connectedComponentsLabel(_)))) {
      val labels = cc(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 9L -> 1L, 4L -> 4L, 5L -> 4L),
        s"algorithm=$algo")
    }
  }

  test("large-star/small-star equals label propagation on chain, star and random graphs") {
    def run(pairs: Seq[(Long, Long)], name: String): Unit = {
      val df = pairs.toDF("id_a", "id_b")
      // star's default 25 rounds is ample (O(log n)); label propagation
      // needs O(diameter) — at the default cap it returns WRONG labels on
      // the 40-chain (verified: vertex 40 stops at label 15 after 25
      // rounds), which is precisely the scale failure star exists to fix
      val star = Dedup.connectedComponentsStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val label = DedupTwins.connectedComponentsLabel(df, maxIter = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == label, s"graph=$name")
      // min-centered: every label is the minimum of its own cluster
      star.groupBy(_._2).foreach { case (l, members) =>
        assert(members.keys.min == l, s"graph=$name cluster=$l")
      }
    }
    // long chain (the label-propagation worst case: O(diameter) rounds —
    // star must agree while converging in O(log n))
    run((1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq, "chain-40")
    // star graph centered at the max id (exercises re-centering to min)
    run((1L to 15L).map(i => (100L, i)), "star-max-center")
    // descending chain given max-first (directionality shake-out)
    run((40L to 2L by -1).map(i => (i, i - 1)), "chain-desc")
    // deterministic pseudo-random graph: multiple components, cycles, dups
    val rnd = new scala.util.Random(42)
    val randomPairs = Seq.fill(120) {
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong; (a, b)
    }.filter(p => p._1 != p._2)
    run(randomPairs, "random-60v-120e")
    // binary-tree-ish component plus an isolated edge
    run(Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L), (3L, 7L), (50L, 60L)), "tree")
  }

  test("nearDupSurvivors keeps one doc per cluster plus isolated docs") {
    val out = Dedup.nearDupSurvivors(docs, "text", "doc_id", 3, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // docs 1,2,3 are one near-dup cluster → keep 1; 4 and 5 isolated
    assert(out.toSeq == Seq(1L, 4L, 5L))
  }

  test("contaminatedIds: flags only train docs sharing enough distinct shingles with the benchmark") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the capital of france is paris indeed")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "quiz answer the capital of france is paris obviously"), // 5 shared 3-shingles
      (2L, "unrelated text about deep sea creatures swimming"),     // 0 shared
      (3L, "is paris the city")).toDF("doc_id", "text")             // <2 shared
    val out = Dedup.contaminatedIds(train, bench, "text", "doc_id", 3, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) >= 2L)
  }

  test("benchmarkContainment: full quote scores 1.0 where jaccard would miss it") {
    import spark.implicits._
    val bench = Seq((100L, "what is the capital of france")).toDF("doc_id", "text")
    // long trainer quoting the whole benchmark item + unrelated filler
    val train = Seq(
      (1L, "lesson one today we ask what is the capital of france and then " +
        "we discuss rivers mountains deserts oceans islands forests etc"),
      (2L, "completely different content about something else entirely here"))
      .toDF("doc_id", "text")
    val out = Dedup.benchmarkContainment(train, bench, "text", "doc_id", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 100L, 1.0)))
    // sanity: the same pair's jaccard is far below any usable threshold
    val j = Dedup.ngramJaccardPairs(
      train.filter($"doc_id" === 1L).unionByName(bench.withColumnRenamed("doc_id", "doc_id")),
      "text", "doc_id", 3, 0.0).collect()
    assert(j.forall(_.getDouble(2) < 0.4))
  }

  test("exactDedupIncremental: novel-in-batch AND novel-vs-corpus; re-ingest is empty") {
    import spark.implicits._
    val existing = Seq(
      (1L, "the quick brown fox"),
      (2L, "já seen   DOCUMENT")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a brand new document"),
      (11L, "A  Brand   NEW document"), // in-batch dup of 10 (normalization)
      (12L, "já seen document"),        // dup of existing 2
      (13L, "another novel one")).toDF("doc_id", "text")
    val out = Dedup.exactDedupIncremental(incoming, existing, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(10L, 13L))
    // idempotence: re-ingesting the already-loaded corpus yields nothing
    assert(Dedup.exactDedupIncremental(existing, existing, "text", "doc_id").isEmpty)
  }

  test("ngram jaccard pairs with doc-frequency cutoff still finds the near-dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
  }

  test("prefix-filtered jaccard pairs are identical to the plain inverted index (real corpus)") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(prefix: Boolean): Set[(Long, Long, Double)] =
      Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2, prefixFilter = prefix)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val plain = run(prefix = false)
    val prefixed = run(prefix = true)
    assert(prefixed == plain)
    assert(plain.nonEmpty) // non-trivial corpus
  }

  test("prefix path honors maxShingleDocFreq: boilerplate-only pairs drop, real pairs keep exact jaccard") {
    // every doc carries the same boilerplate tail; docs 1/2 also share a
    // genuine body overlap. At threshold 0.15 the short unrelated docs
    // (3..8) pair up THROUGH the tail alone; cutting shingles with
    // df > 4 removes the tail (df = 8) from the index, so only the real
    // body pair survives — with its jaccard computed on the FULL shingle
    // sets (tail included), i.e. exactly the uncut value.
    import spark.implicits._
    val tail = " legal notice all rights reserved contact corp"
    val body = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta iota kappa",
      3L -> "one fish", 4L -> "two cat", 5L -> "red dog",
      6L -> "blue bird", 7L -> "old fox", 8L -> "new hen")
    val corpus = body.map { case (id, t) => (id, t + tail) }.toDF("doc_id", "text")
    def run(cutoff: Long): Set[(Long, Long, Double)] =
      Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.15,
        maxShingleDocFreq = cutoff, prefixFilter = true)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val uncut = run(0L)
    val cut = run(4L)
    // uncut: the boilerplate pairs short docs with each other
    assert(uncut.exists { case (a, b, _) => a >= 3L && b >= 3L })
    // cut: only the genuine body pair remains…
    assert(cut.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // …and its jaccard equals the uncut (full-set) value exactly
    assert(cut == uncut.filter { case (a, b, _) => (a, b) == (1L, 2L) })
  }

  test("near-dup plans above the broadcast ceiling never broadcast the corpus " +
       "and pin fan-out join parallelism") {
    // Scale contract, locked as a plan shape for ABOVE-ceiling corpora
    // (ceilings forced to 0 so sf0.001 exercises the at-scale plan):
    // (1) no BroadcastExchange anywhere — the checkpointed
    // shingled/banded frames carry pre-explosion size estimates, so
    // without hints the planner would build driver-side HashedRelations
    // of the ENTIRE corpus' shingle sets for the verify joins (driver
    // OOM at real scale); (2) the candidate self-joins consume
    // REPARTITION_BY_NUM exchanges — user-pinned partitioning AQE cannot
    // coalesce — not coalescible ENSURE_REQUIREMENTS ones (AQE's
    // size-based coalescing is blind to join fan-out and once serialized
    // a 200M-candidate stage onto 4 cores).
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    spark.conf.set(Dedup.ShingleCeilingKey, "0")
    spark.conf.set(Dedup.PairCeilingKey, "0")
    try {
      val plans = Seq(
        "minhash" -> Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 8, 4, 0.5),
        "ngram-plain" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2),
        "ngram-prefix" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2,
          prefixFilter = true),
        "simhash" -> Dedup.simhashPairs(corpus, "text", "doc_id", 3))
      for ((name, df) <- plans) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"$name plan broadcasts a corpus-sized frame")
        assert(plan.contains("REPARTITION_BY_NUM"),
          s"$name plan lost its pinned fan-out repartition")
      }
      // keep/loser attach joins: both sides Θ(corpus) (keep = one row per
      // distinct doc; losers = dup members, 30-50% of a crawl corpus)
      for ((name, df) <- Seq(
        "exactDedup" -> Dedup.exactDedup(corpus, "text", "doc_id"),
        "nearDupSurvivors" -> Dedup.nearDupSurvivors(corpus, "text", "doc_id", 3, 0.2)))
        assert(!df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
          s"$name plan broadcasts a corpus-sized frame")
    } finally {
      spark.conf.unset(Dedup.ShingleCeilingKey)
      spark.conf.unset(Dedup.PairCeilingKey)
    }
  }

  test("near-dup plans below the broadcast ceiling engage the broadcast plan " +
       "and produce identical pairs") {
    // The other side of the ceiling: at default ceilings (2M shingle
    // occurrences / 1M pairs) the sf0.001 corpus is far below both, so
    // the candidate/verify joins must drop their shuffle_hash pins and
    // let the planner broadcast — the ~3× small-corpus plan (the
    // q_curate_e2e r5 regression was exactly this ceiling missing). The
    // pair lists must be byte-identical on both sides of the boundary.
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broadcastPlans = Seq(
      "ngram-plain" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2),
      "ngram-prefix" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2,
        prefixFilter = true),
      "minhash" -> Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 8, 4, 0.5))
    for ((name, df) <- broadcastPlans)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        s"$name plan below the ceiling should engage broadcast joins")
    // result equivalence across the boundary (plan-only change)
    val below = pairs(Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2,
      prefixFilter = true))
    spark.conf.set(Dedup.ShingleCeilingKey, "0")
    spark.conf.set(Dedup.PairCeilingKey, "0")
    try {
      val above = pairs(Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2,
        prefixFilter = true))
      assert(below == above, "pair list must not depend on the join strategy")
      assert(below.nonEmpty)
    } finally {
      spark.conf.unset(Dedup.ShingleCeilingKey)
      spark.conf.unset(Dedup.PairCeilingKey)
    }
  }

  test("simhash chunk bounds are disjoint, covering and non-empty for every chunk count") {
    for (numChunks <- 1 to 64) {
      val bounds = Dedup.chunkBounds(numChunks)
      assert(bounds.length == numChunks)
      bounds.foreach { case (off, w) =>
        assert(w >= 1, s"numChunks=$numChunks: empty chunk at offset $off")
        assert(off >= 0 && off + w <= 64)
      }
      // disjoint + covering: consecutive ranges tile [0, 64) exactly
      assert(bounds.head._1 == 0 && bounds.last._1 + bounds.last._2 == 64)
      bounds.sliding(2).foreach {
        case Seq((o1, w1), (o2, _)) => assert(o1 + w1 == o2)
        case _ =>
      }
    }
  }

  test("simhash derived chunking stays complete at every allowed radius") {
    val hashes = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // radii where the old ceil-width chunking broke (zero-width constant
    // chunks at 8/16, overlapping pseudo-chunks at 11/13/14) plus the two
    // previously-tested radii
    for (mh <- Seq(3, 5, 8, 11, 13, 14, 16)) {
      val exact = (for {
        a <- hashes.keys; b <- hashes.keys if a < b
        d = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
        if d <= mh
      } yield (a, b, d)).toSet
      val viaBuckets = Dedup.simhashPairs(docs, "text", "doc_id", mh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
      assert(viaBuckets == exact, s"maxHamming=$mh")
      assert(exact.nonEmpty, s"maxHamming=$mh: vacuous corpus") // docs 1/3 differ in 0 bits
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "text", "doc_id", 17)
    }
  }

  test("simhash bucketing finds a pair whose bit diffs defeat the old ceil-width chunks") {
    // adversarial construction for maxHamming=11 (12 chunks): plant 11
    // one-bit diffs, one per even-distribution chunk boundary region, all at
    // bit >= 2 — under the old scheme (chunks 0..10 of width 6 + overlapping
    // pseudo-chunks) a diff in each of the 11 real chunks left NO matching
    // chunk. With even distribution there are 12 disjoint chunks, so 11
    // diffs always leave one chunk identical (pigeonhole).
    val base = 0x0123456789abcdefL
    val bounds = Dedup.chunkBounds(12)
    val flipped = bounds.take(11).foldLeft(base) { case (h, (off, _)) =>
      h ^ (1L << math.max(off, 2))
    }
    assert(java.lang.Long.bitCount(base ^ flipped) == 11)
    // at least one of the 12 even chunks must match between base and flipped
    val matching = bounds.count { case (off, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      ((base >>> off) & mask) == ((flipped >>> off) & mask)
    }
    assert(matching >= 1)
  }

  test("planCosineLsh: buckets sized to n (linear candidates), tables sized to recall") {
    val p1 = Dedup.planCosineLsh(20000, 0.45)
    val p2 = Dedup.planCosineLsh(2000000, 0.45)
    // bits grow with n so the candidate stream stays ~linear: 100× corpus
    // must NOT mean 10000× candidates (the fixed-bits quadratic trap)
    assert(p2.bits > p1.bits)
    assert(p2.expectedCandidates / p1.expectedCandidates < 500)
    // a high-similarity threshold needs far fewer tables than a moderate one
    val hi = Dedup.planCosineLsh(20000, 0.95)
    assert(hi.tables < p1.tables)
    assert(hi.achievedRecall >= 0.9)
    // uncapped table budget always reaches the target
    val un = Dedup.planCosineLsh(20000, 0.45, maxTables = Int.MaxValue)
    assert(un.achievedRecall >= 0.9)
    // capped: the plan reports the honest shortfall instead of exploding
    val capped = Dedup.planCosineLsh(20000, 0.45, maxTables = 4)
    assert(capped.tables == 4 && capped.achievedRecall < un.achievedRecall)
  }

  test("planMinhashLsh: rows sized to n (linear candidates), bands sized to recall") {
    val p1 = Dedup.planMinhashLsh(20000, 0.5)
    val p2 = Dedup.planMinhashLsh(2000000, 0.5)
    // rowsPerBand grows with n so the false-candidate stream stays ~linear
    assert(p2.rowsPerBand > p1.rowsPerBand)
    assert(p2.expectedFalseCandidates / p1.expectedFalseCandidates < 500)
    // a high-similarity threshold needs far fewer bands than a moderate one
    val hi = Dedup.planMinhashLsh(20000, 0.9)
    assert(hi.bands < p1.bands)
    assert(hi.achievedRecall >= 0.9)
    // uncapped band budget always reaches the target
    val un = Dedup.planMinhashLsh(20000, 0.5, maxBands = Int.MaxValue)
    assert(un.achievedRecall >= 0.9)
    // capped: the plan reports the honest shortfall instead of exploding
    val capped = Dedup.planMinhashLsh(20000, 0.5, maxBands = 2)
    assert(capped.bands == 2 && capped.achievedRecall < un.achievedRecall)
  }

  test("planMinhashLsh plan drives minhashLshPairs to its promised recall (real corpus)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val plan = Dedup.planMinhashLsh(n, 0.5)
    // exact all-pairs definition via the inverted index (no LSH loss)
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val planned = Dedup.minhashLshPairs(docs, "text", "doc_id", 3,
      bands = plan.bands, rowsPerBand = plan.rowsPerBand, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verified output → always a subset of the exact definition
    assert(planned.subsetOf(exact))
    val recall = planned.size.toDouble / exact.size
    info(s"planned (bands=${plan.bands}, rows=${plan.rowsPerBand}, " +
      s"promised=${plan.achievedRecall}) measured recall $recall")
    assert(recall >= plan.achievedRecall - 0.1,
      s"planned-config recall $recall (found ${planned.size}/${exact.size}, plan $plan)")
  }

  test("planCosineLsh plan drives cosineDupPairs to its promised recall (real corpus)") {
    // sf0.1: 2000 vectors, 144 exact pairs at the threshold — large enough
    // that the per-pair recall promise is measurable (sf0.001's 7 pairs
    // put ±14% of noise on a single missed pair)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n = emb.count()
    val plan = Dedup.planCosineLsh(n, 0.45)
    val exact = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45, lshBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planned = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45,
      lshBits = plan.bits, lshTables = plan.tables)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planned.subsetOf(exact))
    val recall = planned.size.toDouble / exact.size
    info(s"planned (bits=${plan.bits}, tables=${plan.tables}, " +
      s"promised=${plan.achievedRecall}) measured recall $recall")
    assert(recall >= plan.achievedRecall - 0.1, s"planned-config recall $recall " +
      s"(found ${planned.size}/${exact.size}, plan $plan)")
  }

  test("cosine LSH OR-amplification: quantified recall vs the exact path (real corpus)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45, lshBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val amplified = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45,
      lshBits = 4, lshTables = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH is a candidate filter over the exact verification → always a subset
    assert(amplified.subsetOf(exact))
    val recall = amplified.size.toDouble / exact.size
    assert(recall >= 0.8, s"amplified recall $recall (found ${amplified.size}/${exact.size})")
  }

  test("nearDupIncremental: batch clusters, corpus near-dups drop, re-ingest is empty") {
    val existing = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (102L, "completely different text about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the stream"), // near-dup of 100
      (3L, "the quick brown fox jumps over the lazy dog near the stream today"), // near-dup of 1
      (5L, "an entirely novel document mentioning parquet columnar formats"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDupIncremental(batch, existing, "text", "doc_id", 3, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 3 clusters into 1 within the batch; 1 then matches corpus doc 100; 5 is novel
    assert(kept == Set(5L))
    // idempotence: re-ingesting the already-loaded corpus yields nothing
    val reingest = Dedup.nearDupIncremental(existing, existing, "text", "doc_id", 3, 0.2)
    assert(reingest.count() == 0L)
    // against an empty corpus the screen reduces to within-batch keep-one
    val empty = existing.filter(col("doc_id") < 0)
    val soloIds = Dedup.nearDupIncremental(batch, empty, "text", "doc_id", 3, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(soloIds == Set(1L, 5L))
  }

  test("nearDupIncremental against a persisted shingle index equals the direct screen") {
    val existing = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val batch = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val direct = Dedup.nearDupIncremental(batch, existing, "text", "doc_id", 3, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the production shape: index persisted once, loaded per batch
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx").toString
    Dedup.shingleIndex(existing, "text", "doc_id", 3)
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.nearDupIncrementalAgainstIndex(batch,
      spark.read.parquet(dir), "text", "doc_id", 3, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("minhashIncremental: equals the inverted-index screen, survives the " +
       "persisted-index round trip, and is idempotent") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    // family equality: with 64×2 banding a true pair at j >= 0.5 escapes
    // every band with p ≈ 1e-8, so the banded screen must keep exactly
    // the same docs as the exhaustive inverted-index screen
    val viaNgram = Dedup.nearDupIncremental(batch, existing,
      "text", "doc_id", 3, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaMinhash = Dedup.minhashIncremental(batch, existing,
      "text", "doc_id", 3, 64, 2, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaMinhash == viaNgram && viaMinhash.nonEmpty)
    // production shape: both history frames persisted once, loaded per batch
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    Dedup.minhashBandIndex(existing, "text", "doc_id", 3, 64, 2)
      .write.mode("overwrite").parquet(s"$dir/bands")
    Dedup.shingleHashSets(existing, "text", "doc_id", 3)
      .write.mode("overwrite").parquet(s"$dir/sets")
    val viaIndex = Dedup.minhashIncrementalAgainstIndex(batch,
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"),
      "text", "doc_id", 3, 64, 2, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == viaMinhash)
    // idempotence: every re-ingested doc collides with its own copy in
    // all 64 bands and verifies at jaccard 1.0
    assert(Dedup.minhashIncremental(existing, existing,
      "text", "doc_id", 3, 64, 2, 0.5).count() == 0L)
    // empty history reduces to within-batch keep-one
    val empty = existing.filter(col("doc_id") < 0)
    assert(Dedup.minhashIncremental(batch, empty,
      "text", "doc_id", 3, 64, 2, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      == Dedup.minhashSurvivors(batch, "text", "doc_id", 3, 64, 2, 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("planSemdedupCells: balanced default grows cells ~ sqrt(n); override pins population") {
    val small = Dedup.planSemdedupCells(10000)
    val big = Dedup.planSemdedupCells(1000000)
    // 100× corpus → ~10× cells (balanced flat-k-means: fixed cells make
    // the PAIR stream quadratic, linear cells make the ASSIGNMENT stream
    // quadratic; the √n balance is the n^1.5 floor between them)
    assert(math.abs(big.toDouble / small - 10.0) < 1.0,
      s"small=$small big=$big")
    // assignment work (n·K·iters) and pair work (n·s·nAssign²/2) balance
    // within rounding at the planned cell count
    val n = 1000000.0; val assignW = n * big * 3
    val pairW = n * (n * 2 / big) * 2
    assert(assignW / pairW > 0.8 && assignW / pairW < 1.3,
      s"assign/pair = ${assignW / pairW}")
    // explicit targetCellSize still pins the population exactly
    val pinned = Dedup.planSemdedupCells(1000000, targetCellSize = 200)
    assert(math.abs(1000000.0 * 2 / pinned - 200.0) < 2.0)
  }

  test("semdedup: near-complete recall in its native near-identical regime") {
    import spark.implicits._
    // synthetic corpus in the regime the operator exists for: id % 10 == 1
    // is a small perturbation of id-1 (cosine ≈ 0.99); everything else is
    // independent gaussian noise (pairwise cosine ≈ 0 at 32 dims)
    def vec(id: Long): Array[Float] = {
      val rnd = new java.util.Random(id * 2654435761L + 7L)
      Array.fill(32)(rnd.nextGaussian().toFloat)
    }
    val rows = (0L until 500L).map { id =>
      val v = if (id % 10 == 1) {
        val rnd = new java.util.Random(id)
        vec(id - 1).map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      } else vec(id)
      (id, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.9, lshBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 50) // exactly the planted pairs
    val clustered = Dedup.semdedupPairs(emb, "embedding", "vec_id", 0.9,
      nCells = 16, nAssign = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustered.subsetOf(exact))
    val recall = clustered.size.toDouble / exact.size
    assert(recall >= 0.95, s"semdedup recall $recall (${clustered.size}/${exact.size})")
  }

  test("semdedup on the driver corpus: subset of exact, soft ⊇ hard assignment") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Dedup.cosineDupPairs(emb, "embedding", "vec_id", 0.45, lshBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val hard = Dedup.semdedupPairs(emb, "embedding", "vec_id", 0.45,
      nCells = 16, nAssign = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val soft = Dedup.semdedupPairs(emb, "embedding", "vec_id", 0.45,
      nCells = 16, nAssign = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair verifies with true cosine → always a subset of
    // exact; widening the probe can only add pairs
    assert(soft.subsetOf(exact) && hard.subsetOf(soft))
    info(s"hard ${hard.size}/${exact.size}, soft ${soft.size}/${exact.size} " +
      "(moderate-threshold recall is intrinsically partial — see scaladoc)")
  }

  test("native TopCells assignment equals the crossJoin+peel formulation " +
    "(real corpus, k = 1 and 2)") {
    import org.apache.spark.sql.functions.{col, explode}
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vecs = emb.select(col("vec_id").as("__id"),
      col("embedding").cast("array<double>").as("__v"))
    val cents = graft.ops.Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    val centRows = cents
      .select(col("centroid_id").cast("long"), col("centroid").cast("array<double>"))
      .collect()
    val ids = centRows.map(_.getLong(0))
    val mat = centRows.map(_.getSeq[Double](1).toArray)
    for (k <- Seq(1, 2)) {
      val native = vecs.select(col("__id"),
        explode(graft.functions.VectorExprs.topCells(col("__v"), ids, mat, k))
          .as("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val joined = Dedup.assignCellsJoin(vecs, cents, k)
        .select(col("__id"), col("centroid_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native == joined,
        s"k=$k: native ${native.size} vs join ${joined.size}; " +
          s"diff ${(native diff joined).take(3)} / ${(joined diff native).take(3)}")
    }
  }

  test("winnowCopyPairs: planted copies pair, boilerplate-only overlap does not") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val footer = "copyright footer text appended to every single document here"
    val docs = Seq(
      (0L, s"unique alpha opening words $shared closing section one $footer"),
      (1L, s"different beta preamble here $shared another ending entirely $footer"),
      (2L, s"nothing in common with the others at all whatsoever $footer"),
      (3L, s"fourth document also completely unrelated content stream $footer"))
      .toDF("doc_id", "text")
    // cap=3 < 4 docs: footer-wide fingerprints (df=4) are dropped, so
    // docs 2/3 (footer-only overlap) must NOT pair; 0/1 share the long
    // substring and must pair on >= 2 surviving fingerprints
    val pairs = Dedup.winnowCopyPairs(docs, "text", "doc_id",
      k = 5, w = 4, minShared = 2, maxFpDocFreq = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"planted copy pair missing: $pairs")
    assert(!pairs.contains((2L, 3L)), s"boilerplate-only pair leaked: $pairs")
  }

  test("editDistancePairs: long route, short route, boundary crossings, bands") {
    // lmin = q*(maxDist+1) = 9: strings under 9 chars take the
    // distinct-value route, 9+ the positional-gram route
    val rows = Seq(
      (1L, "abcdefghijkl"),     // long base (12)
      (2L, "abcdefghijkl"),     // identical long → dist 0
      (3L, "abcdefghijkX"),     // 1 substitution → dist 1
      (4L, "abcdefghijklxy"),   // +2 chars → dist 2
      (5L, "abcdefghijklxyz"),  // +3 chars → len band excludes vs 1, dist 1 vs 4
      (6L, "zyxwvutsrqpo"),     // long, unrelated (reversed alphabet)
      (7L, "cat"),              // short
      (8L, "cat"),              // identical short → dist 0
      (9L, "cap"),              // short, dist 1 from cat
      (10L, "dog"),             // short, dist 3 from cat → out
      (11L, "abcdefgh"),        // 8 chars: short side of the boundary
      (12L, "abcdefghij"))      // 10 chars: long, dist 2 from 11 → boundary pair
      .toDF("id", "s")
    val got = Dedup.editDistancePairs(rows, "s", "id", maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = Set(
      (1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1),  // identical + 1-sub longs
      (1L, 4L, 2), (2L, 4L, 2),               // 2-append longs (3 vs 4 is 3 edits)
      (4L, 5L, 1),                            // xy vs xyz
      (1L, 12L, 2), (2L, 12L, 2), (3L, 12L, 2), // 2-char truncations, both long
      (7L, 8L, 0), (7L, 9L, 1), (8L, 9L, 1),  // short values (dog is 3 away)
      (11L, 12L, 2))                          // short×long boundary pair
    assert(got == expected, s"got ${got.toSeq.sorted}")
  }

  test("editDistancePairs equals the naive all-pairs definition on mixed strings") {
    // brute-force oracle over a corpus that straddles the length split,
    // includes duplicate values on both sides, and has pairs at every
    // distance 0..4
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vals = Seq("pack", "pick", "pock", "packs", "spark catalyst rules",
      "spark catalyst rule", "spark catalyst ruled", "spark analyst rules",
      "ab", "abc", "abcd", "wholly unrelated body of text here",
      "spark catalyst rules ok")
    val rows = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, v), (i * 2L + 1, v)) } // every value twice
    val df = rows.toDF("id", "s")
    val got = Dedup.editDistancePairs(df, "s", "id", maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val naive = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib
      d = lev(va, vb)
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == naive,
      s"missing=${(naive -- got).toSeq.sorted} extra=${(got -- naive).toSeq.sorted}")
  }

  test("editDistanceSurvivors: variant chains collapse to min id, isolates survive") {
    val rows = Seq(
      (1L, "abcdefghijkl"), (2L, "abcdefghijklx"), (3L, "abcdefghijklxyz"),
      // 1-2 dist 1, 2-3 dist 2, 1-3 dist 3: one chain-connected cluster
      (4L, "zyxwvutsrqpo"),                    // isolated long
      (7L, "cat"), (8L, "cap"), (9L, "cup"),   // chain at distance 1 each
      (10L, "unrelatedstring"))
      .toDF("id", "s")
    val ids = Dedup.editDistanceSurvivors(rows, "s", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L, 7L, 10L), s"got $ids")
  }

  test("editDistancePairs above the ceilings: pinned fan-out, no corpus broadcast") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("s"))
    spark.conf.set(Dedup.ShingleCeilingKey, "0")
    spark.conf.set(Dedup.PairCeilingKey, "0")
    try {
      val plan = Dedup.editDistancePairs(corpus, "s", "doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("REPARTITION_BY_NUM"),
        "gram self-join lost its pinned fan-out repartition")
      assert(plan.contains("ShuffledHashJoin"),
        "corpus-sized sides must stay shuffle_hash above the ceiling")
      // the only tolerated broadcast is the short-route VALUE-level
      // nested-loop join (distinct micro-string values — vocabulary-sized
      // by construction, never Θ(corpus)); the gram index and the verify
      // text-attaches must not broadcast
      val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(broadcasts <= bnlj + 1,
        s"corpus-sized side broadcast above the ceiling:\n$plan")
    } finally {
      spark.conf.unset(Dedup.ShingleCeilingKey)
      spark.conf.unset(Dedup.PairCeilingKey)
    }
  }

  test("winnowCopyPairs above the ceiling pins fan-out and shuffles the index") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    spark.conf.set(Dedup.ShingleCeilingKey, "0")
    try {
      val plan = Dedup.winnowCopyPairs(corpus, "text", "doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("REPARTITION_BY_NUM"),
        "candidate self-join lost its pinned fan-out repartition")
      // nothing broadcasts above the ceiling — including the
      // hot-fingerprint anti-join side, whose row count
      // (≤ Σdf/maxFpDocFreq) is corpus-dependent and can outgrow a
      // driver broadcast on a crawl-scale corpus; the index self-join
      // itself must be a shuffle join
      assert(!plan.contains("BroadcastExchange"),
        s"above the ceiling nothing may broadcast:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        "index self-join must be shuffled above the ceiling")
    } finally spark.conf.unset(Dedup.ShingleCeilingKey)
  }

  test("above the ceiling, fan-out partition counts scale with row mass " +
       "(bounded per-task shuffled-hash builds) without changing results") {
    // The sf100 OOM contract: a shuffled-hash build does NOT spill, so
    // the per-task build row count must stay bounded as the corpus grows.
    // Force the ceilings to 0 (at-scale plan) and the per-partition build
    // budget to 10 rows — every fan-out/verify repartition must then
    // exceed the session shuffle-partition conf, proving the count is
    // derived from the measured row mass, not the fixed conf.
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def maxHashParts(df: org.apache.spark.sql.DataFrame): Int =
      "hashpartitioning\\([^()]*?(\\d+)\\)".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).max
    spark.conf.set(Dedup.ShingleCeilingKey, "0")
    spark.conf.set(Dedup.PairCeilingKey, "0")
    val baseline = pairs(Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 8, 4, 0.5))
    spark.conf.set(Dedup.BuildRowsPerPartitionKey, "10")
    try {
      for ((name, df) <- Seq(
        "minhash" -> Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 8, 4, 0.5),
        "ngram-plain" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2),
        "ngram-prefix" -> Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.2,
          prefixFilter = true),
        "simhash" -> Dedup.simhashPairs(corpus, "text", "doc_id", 3),
        "editdist" -> Dedup.editDistancePairs(corpus.limit(200), "text", "doc_id", 2)))
        assert(maxHashParts(df) > conf,
          s"$name fan-out partition count must scale past the session conf ($conf)")
      // partitioning is a plan-only change: the pair list is unaffected
      assert(pairs(Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 8, 4, 0.5))
        == baseline)
      assert(baseline.nonEmpty)
    } finally {
      spark.conf.unset(Dedup.ShingleCeilingKey)
      spark.conf.unset(Dedup.PairCeilingKey)
      spark.conf.unset(Dedup.BuildRowsPerPartitionKey)
    }
  }

  test("auto planners over a DERIVED frame execute the upstream once (sizing count trap)") {
    // the round-14 scaladoc could only WARN that the sizing count()
    // replays derived lineage; sizingInput now fork-materializes it —
    // this counts parquet scans of a marker dir to prove the upstream
    // runs exactly once for sizing + pairs together
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val marker = "graft-dedupspec-sizing"
    val dir = java.nio.file.Files.createTempDirectory(marker).toString
    (0 until 60).map(i => (i.toLong,
      (0 until 12).map(j => s"t${(i * 13 + j * 5) % 211}w$j").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val raw = spark.read.parquet(s"$dir/docs.parquet")
    // derived lineage: distinct (an aggregate) — NOT scan-shaped, so a
    // bare sizing count would replay it per consumer. Exactly ONE scan
    // node in the plan, so the scan count equals the execution count.
    val derived = raw.distinct()
    assert(!Dedup.isScanShaped(derived))
    assert(!Dedup.isScanShaped(raw.unionByName(raw)))
    assert(Dedup.isScanShaped(raw))
    assert(Dedup.isScanShaped(raw.filter(col("doc_id") > 3).select("doc_id", "text")))
    val scans = new AtomicInteger(0)
    def walk(p: SparkPlanInfo): Int =
      (if (p.nodeName.toLowerCase.contains("scan") &&
        (p.simpleString.contains(marker) ||
          p.metadata.valuesIterator.exists(_.contains(marker)))) 1 else 0) +
        p.children.map(walk).sum
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => scans.addAndGet(walk(e.sparkPlanInfo))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Dedup.minhashLshPairsAuto(derived, "text", "doc_id",
        n = 3, threshold = 0.5).collect()
      org.apache.spark.GraftTestShim.waitListenerBus(spark.sparkContext)
      assert(out != null) // pairs may be empty on this unique-vocab corpus
      assert(scans.get() == 1,
        s"derived auto-planning scanned the source ${scans.get()} times " +
          "(sizing count + pairs must share one fork materialization)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semanticIncremental: history hits (verbatim + scaled) drop, novel keep, " +
    "within-batch pair keeps min id, zero vectors are unscreenable, replay is empty") {
    val history = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("vec_id", "vec")
    val incoming = Seq(
      (10L, Seq(0.99, 0.01, 0.0, 0.0)), // ≈ history 1 → history hit
      (11L, Seq(2.0, 0.0, 0.0, 0.0)),   // scaled history 1 → cosine is scale-invariant, hit
      (12L, Seq(0.7, 0.7, 0.0, 0.0)),   // cos ≈ 0.707 vs both neighbors → novel
      (13L, Seq(0.7, 0.7, 0.0, 0.0)),   // within-batch exact dup of 12 → CC keeps 12
      (14L, Seq(0.0, 0.0, 0.0, 0.0)))   // zero norm: cosine null vs everything
      .toDF("vec_id", "vec")
    val kept = Dedup.semanticIncremental(incoming, history, "vec", "vec_id",
      threshold = 0.9, nCells = 4, probeCells = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 14L), s"survivors: $kept")
    // replay idempotence: the history screened against itself emits
    // nothing — every nonzero vector matches its own copy at cosine ≈ 1
    // (no self-exclusion BY DESIGN; same contract as the digest screens)
    assert(Dedup.semanticIncremental(history, history, "vec", "vec_id",
      threshold = 0.9, nCells = 4, probeCells = 2).isEmpty)
    // empty quantizer (bootstrap from an empty corpus): nothing to
    // screen against — incoming passes through unchanged
    val noCents = Seq.empty[(Long, Seq[Double])].toDF("centroid_id", "centroid")
    val noIdx = Dedup.semanticCellIndex(history.limit(0), "vec", "vec_id", noCents)
    assert(Dedup.semanticIncrementalAgainstCells(incoming, noIdx, noCents,
      "vec", "vec_id", threshold = 0.9).count() == incoming.count())
    // auto sizing: planSemdedupCells(4) floors at s=16 ⇒ 1 cell — every
    // vector shares it, so candidate recall is total here and the
    // decisions match the explicit-nCells run
    val keptAuto = Dedup.semanticIncrementalAuto(incoming, history,
      "vec", "vec_id", threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptAuto == Set(12L, 14L), s"auto survivors: $keptAuto")
  }

  test("semantic cell index: idCol colliding with the reserved vector column is rejected up front") {
    // the probe resolves the history vector by the literal name "vec" —
    // an idCol of "vec" would produce a duplicate/ambiguous schema (or a
    // wrong-column join) with no diagnostic anywhere near the cause
    val history = Seq((1L, Seq(1.0, 0.0))).toDF("vec", "emb") // idCol literally "vec"
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.semanticCellIndex(history, "emb", "vec", cents)
    }
    assert(e1.getMessage.contains("vec"))
    val idx = Dedup.semanticCellIndex(
      Seq((1L, Seq(1.0, 0.0))).toDF("doc_id", "emb"), "emb", "doc_id", cents)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.semanticIncrementalAgainstCells(history, idx, cents,
        "emb", "vec", threshold = 0.9)
    }
    assert(e2.getMessage.contains("vec"))
  }
}

/** Builtin-HOF and relational twins of the fused dedup kernels: the
  * references DedupSpec compares the production kernels against.
  */
object DedupTwins {

  /** HOF form of [[Dedup.minhashSignature]]: for permutation i, min over
    * shingles s of xxhash64(s, i).
    */
  def minhashSignatureHof(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingles, s => xxhash64(s, i))))

  /** Iterative min-label propagation: every vertex starts labeled with
    * itself; each round every vertex takes the min label across itself and
    * its neighbors; stop when no label changes. Converges in O(graph
    * diameter) rounds — the independent definition
    * [[Dedup.connectedComponentsStar]] is checked against.
    */
  def connectedComponentsLabel(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val p0 = pairs.select(col("id_a"), col("id_b")).forkMaterialize()
    val h = Dedup.adaptivePin(p0.count() <= Dedup.pairCeiling(p0))
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .lineageCut()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .lineageCut()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val propagated = edges.join(h(labels), edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min("label").as("label"))
        .lineageCut()
      changed = propagated.as("n")
        .join(h(labels.withColumnRenamed("label", "__old")), Seq("id"))
        .filter(col("label") =!= col("__old")).count()
      labels = propagated
      iter += 1
    }
    labels
  }

  /** HOF form of [[Dedup.simhash64]] (bit-identical by construction). */
  def simhash64Hof(textCol: Column): Column =
    simhashVote(transform(Text.tokens(textCol), t => xxhash64(t)))

  /** HOF form of [[Dedup.simhash64Md5]]: the conv/substring/md5 chain,
    * to test the fused MessageDigest token hash against Spark's own md5().
    */
  def simhash64Md5Hof(textCol: Column): Column =
    simhashVote(transform(Text.tokens(textCol), t =>
      shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast(LongType), 32)
        .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast(LongType))))

  /** Per-bit majority vote over an array of 64-bit token hashes: bit j of
    * the result is 1 iff more hashes have bit j set than clear. The sum of
    * distinct powers of two is exact in two's complement (the 1L<<63 term
    * wraps negative, which is the intended bit pattern).
    */
  private def simhashVote(hashes: Column): Column = {
    val bits: Seq[Column] = (0 until 64).map { j =>
      val vote = aggregate(hashes, lit(0), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
