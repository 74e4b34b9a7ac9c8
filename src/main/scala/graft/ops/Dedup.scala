package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize.ForkOps
import org.apache.spark.sql.types._

/** Deduplication operators for training-data curation at scale:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Design for 100 TB:
  *   - Exact dedup is a single hash-shuffle on a 128-bit digest (never on
  *     the full text — shuffling digests moves ~32 bytes/row, not pages).
  *   - Near-dup never goes all-pairs: candidates come from an inverted
  *     index (token join), LSH band buckets, or SimHash chunk buckets;
  *     only candidates pay the exact-similarity verification.
  *   - All hashing is `xxhash64` (codegen'd, deterministic across runs and
  *     executors) — no RNG, so results are reproducible and resumable.
  */
object Dedup {

  /** Hyperplane-LSH parameter planning for [[cosineDupPairs]] at a given
    * scale: pick (bits, tables) from corpus size, the cosine threshold,
    * and a target recall.
    *
    * Model (standard OR-amplified sign-random-projection analysis): a
    * pair at cosine θ-angle agrees on one hyperplane sign with
    * p = 1 - arccos(cos) / π; it collides in one b-bit table with p^b and
    * in ANY of T tables with R = 1 - (1 - p^b)^T. Candidate volume per
    * table is ~n·s/2 for bucket size s = n / 2^b, so the planner first
    * sizes bits to hold the per-table bucket near `targetBucketSize`
    * (candidate stream linear in n, the 100 TB requirement — FIXED bits
    * at growing n is the quadratic trap), then sizes tables to reach the
    * recall target at the now-smaller p^b. The returned plan carries the
    * expected candidate count so callers can sanity-check cost before
    * running; `tables` is capped (recall at moderate thresholds is
    * intrinsically expensive — the caller sees `achievedRecall` and
    * decides, rather than the library silently exploding).
    *
    * maxTables defaults to 16 — a WORK/MEMORY budget, not a recall knob:
    * every table adds a full (id, vector) copy to the bucketed self-join
    * frame, so tables multiply the checkpoint footprint and the join's
    * build side. Measured on a 20k×64-dim corpus at threshold 0.45: the
    * recall-0.9 plan (8 bits, 64 tables) ran 36 s and OOM'd the 60k
    * corpus, while 16 tables at the same bits runs in seconds and scales
    * linearly. The cap costs recall AT THE THRESHOLD (honestly reported
    * in `achievedRecall` — 0.40 at that scale) but barely touches the
    * near-identical pairs that document dedup actually hunts: at cosine
    * 0.9 the per-plane agreement is p ≈ 0.86, so 16 tables of 8 bits
    * still catch ≈ 0.995 of them. Raise the cap only with the memory to
    * back it.
    */
  final case class LshPlan(bits: Int, tables: Int, achievedRecall: Double,
                           expectedCandidates: Double)

  def planCosineLsh(n: Long, threshold: Double, targetRecall: Double = 0.9,
                    targetBucketSize: Int = 100, maxTables: Int = 16): LshPlan = {
    require(n > 0 && threshold > -1 && threshold < 1, s"n=$n threshold=$threshold")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall=$targetRecall")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val bits = math.max(1, math.min(30,
      math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2)).toInt))
    val pb = math.pow(p, bits)
    val tables = math.min(maxTables, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toInt))
    val recall = 1.0 - math.pow(1.0 - pb, tables)
    val bucket = n.toDouble / (1L << bits)
    LshPlan(bits, tables, recall, tables * n * bucket / 2.0)
  }

  /** MinHash-LSH parameter planning for [[minhashLshPairs]] at a given
    * scale: pick (bands, rowsPerBand) from corpus size, the Jaccard
    * threshold, a target recall, and the corpus' background (random-pair)
    * Jaccard.
    *
    * Model (standard banding analysis): a pair at Jaccard j matches one
    * band of r rows with j^r and ANY of b bands with R = 1-(1-j^r)^b.
    * Because the output is exactly verified, recall at the threshold is
    * the binding promise. Cost control mirrors [[planCosineLsh]]: the
    * false-candidate stream is ~b·n²/2·jBg^r for background similarity
    * jBg, so the planner first sizes r to bound per-doc false candidates
    * (n·jBg^r ≤ targetCandidatesPerDoc — candidate volume linear in n;
    * FIXED r at growing n is the quadratic trap), then sizes b to reach
    * the recall target at the now-smaller j^r. `bands` is capped: the
    * plan reports an honest `achievedRecall` shortfall instead of an
    * unbounded signature. jBg defaults to 0.05 — word-shingle overlap of
    * unrelated documents is tiny; measure it (sample pairs) when the
    * corpus is boilerplate-heavy and pass it in.
    */
  final case class MinhashPlan(bands: Int, rowsPerBand: Int,
                               achievedRecall: Double,
                               expectedFalseCandidates: Double)

  def planMinhashLsh(n: Long, threshold: Double, targetRecall: Double = 0.9,
                     jBackground: Double = 0.05,
                     targetCandidatesPerDoc: Double = 10.0,
                     maxBands: Int = 128): MinhashPlan = {
    require(n > 0 && threshold > 0 && threshold < 1, s"n=$n threshold=$threshold")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall=$targetRecall")
    require(jBackground > 0 && jBackground < threshold,
      s"jBackground=$jBackground must sit below threshold=$threshold")
    val r = math.max(1,
      math.ceil(math.log(targetCandidatesPerDoc / n) / math.log(jBackground)).toInt)
    val tr = math.pow(threshold, r)
    val b = math.min(maxBands, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-tr)).toInt))
    val recall = 1.0 - math.pow(1.0 - tr, b)
    MinhashPlan(b, r, recall, b * n.toDouble * n.toDouble / 2.0 * math.pow(jBackground, r))
  }

  /** True when `df`'s analyzed plan is scan-shaped — nothing but
    * projections/filters over leaf relations — so executing it twice
    * costs at most one extra (pushdown-pruned) scan. Anything with
    * derived lineage (joins, aggregates, explodes, unions) is NOT
    * scan-shaped: re-execution replays real work. Package-private for
    * the spec.
    */
  private[graft] def isScanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[SubqueryAlias] && !p.isInstanceOf[LeafNode] => p
    }.isEmpty
  }

  /** Input discipline for the `_auto` planners' sizing `count()`: the
    * count EXECUTES the frame's plan, and the pairs pass then executes
    * it AGAIN — on a raw scan that is one cheap extra scan, but on a
    * derived frame it replays the whole upstream lineage (the
    * double-execution trap the round-14 scaladoc could only warn
    * about). Scan-shaped inputs pass through untouched; anything else
    * is routed through [[Materialize.fork]] so sizing and consumption
    * share ONE upstream execution (DedupSpec counts the source scans).
    */
  private def sizingInput(df: DataFrame): DataFrame =
    if (isScanShaped(df)) df else Materialize.fork(df)

  /** [[minhashLshPairs]] with (bands, rowsPerBand) sized by
    * [[planMinhashLsh]] from the ACTUAL corpus size — the entry point to
    * reach for when n is not known up front. Fixed banding at a growing
    * corpus is the quadratic trap the planner scaladoc warns about; this
    * overload pays one sizing `count()` to avoid it. A derived input is
    * fork-materialized first ([[sizingInput]]) so the sizing count and
    * the pairs pass execute the upstream exactly once. Callers that
    * already know n (or plan across many batches) should call
    * [[planMinhashLsh]] once and pass explicit params.
    */
  def minhashLshPairsAuto(df: DataFrame, textCol: String, idCol: String,
                          n: Int, threshold: Double,
                          targetRecall: Double = 0.9,
                          jBackground: Double = 0.05,
                          targetCandidatesPerDoc: Double = 10.0,
                          maxBands: Int = 128): DataFrame = {
    val in = sizingInput(df)
    val plan = planMinhashLsh(in.count(), threshold, targetRecall,
      jBackground, targetCandidatesPerDoc, maxBands)
    minhashLshPairs(in, textCol, idCol, n, plan.bands, plan.rowsPerBand, threshold)
  }

  /** Explicit hash-partitioning on the keys of an upcoming fan-out
    * self-join. Load-bearing at scale: a bucket/band/chunk self-join
    * EXPLODES its input (output rows ≈ Σ bucket²/2, orders of magnitude
    * above input rows), and AQE's size-based partition coalescing — blind
    * to output cardinality — folds the small-on-the-wire join input down
    * to a handful of reduce partitions, serializing the explosion onto a
    * few cores (observed: 4 tasks grinding 200M candidates at sf1 while
    * 28 cores idled). A user-specified `repartition(n, keys)` both
    * satisfies the join's clustering requirement (so no further exchange
    * is inserted) and is exempt from AQE coalescing, pinning the fan-out
    * stage at full parallelism. The shuffle is work the join's own
    * exchange would have done anyway.
    *
    * For `localCheckpoint`ed frames this must sit AFTER the checkpoint,
    * on each join side: repartitioning before the checkpoint does NOT
    * survive it — under AQE the checkpoint captures
    * `AdaptiveSparkPlanExec.outputPartitioning` before the final plan is
    * known, so the resulting LogicalRDD advertises unknown partitioning
    * and EnsureRequirements re-inserts coalescible ENSURE_REQUIREMENTS
    * exchanges on both join sides anyway (verified on the physical plan;
    * pre-checkpoint shape = 3 shuffles with the fan-out unpinned,
    * post-checkpoint shape = 2 shuffles, pinned).
    */
  private def pinFanout(df: DataFrame, keys: Column*): DataFrame =
    pinFanoutN(df, -1, keys: _*)

  /** [[pinFanout]] with an explicit partition count (`parts <= 0` falls
    * back to the session shuffle-partition conf). Callers that know the
    * row mass of the frame pass [[scaledParts]] here so per-partition
    * build memory stays bounded as the corpus grows.
    */
  private def pinFanoutN(df: DataFrame, parts: Int, keys: Column*): DataFrame = {
    val p =
      if (parts > 0) parts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(p, keys: _*)
  }

  /** Partition count for an above-ceiling shuffle_hash join over a frame
    * of known row mass. The session shuffle-partition conf is a FIXED
    * number tuned for the typical stage, but a shuffled-hash build side
    * does NOT spill: each task materializes `rows/parts` build rows on
    * the heap, so a fixed `parts` turns corpus growth directly into
    * per-task heap growth until the build OOMs (observed: the sf100
    * memory smoke killed the MinHash verify join at 500k docs × 32
    * partitions with `SparkOutOfMemoryError: not enough memory to build
    * hash map` in a heap that handles sf30 with 4× headroom). Scaling
    * the partition count with the row mass bounds the per-task build at
    * `rowsPerPartition` rows no matter the corpus size — on a real
    * cluster this is the difference between "works at the SF it was
    * tuned at" and "works at any SF". Never shrinks below the session
    * conf (parallelism floor); capped at 65536 (Spark's shuffle
    * partition sanity bound — ~33 billion rows at the default budget,
    * past which a bigger budget beats more files).
    */
  private def scaledParts(df: DataFrame, rows: Long,
                          rowsPerPartition: Long): Int = {
    val base = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
    val budget = df.sparkSession.conf
      .get(BuildRowsPerPartitionKey, rowsPerPartition.toString).toLong
    val want = (rows + budget - 1) / math.max(1L, budget)
    math.min(math.max(base, want), 65536L).toInt
  }

  /** Override for [[scaledParts]]' per-partition build-row budget. The
    * call-site defaults (250k fixed-width rows / 500k hashed shingle
    * occurrences ≈ 10-15 MB of build per task) are sized so 32 concurrent
    * builds coexist with multi-GB checkpoint storage in an 8 GiB local
    * heap — the sf100 smoke's envelope; a real cluster with fatter
    * executors can raise it to trade shuffle files for build locality.
    */
  private[ops] val BuildRowsPerPartitionKey =
    "spark.graft.dedup.buildRowsPerPartition"

  /** Both sides of a fan-out self-join over a NON-checkpointed frame,
    * each side [[pinFanout]]-partitioned on the join keys. The shuffle is
    * work the join's own exchange would have done anyway — this just
    * makes it AQE-coalescing-exempt. `parts > 0` overrides the session
    * partition count (see [[scaledParts]]).
    */
  private def fanoutSides(df: DataFrame, keys: Seq[String],
                          aCols: Seq[Column], bCols: Seq[Column],
                          pin: Boolean = true,
                          parts: Int = -1): (DataFrame, DataFrame) =
    if (pin)
      (pinFanoutN(df.select(aCols: _*), parts, keys.map(col): _*),
       pinFanoutN(df.select(bCols: _*), parts, keys.map(col): _*))
    else
      (df.select(aCols: _*), df.select(bCols: _*))

  /** Null-tolerant `c >= t` for post-aggregation threshold filters.
    *
    * A plain null-intolerant comparison lets Catalyst infer
    * isnotnull(...) constraints on the operands and push them down to the
    * scans — SUBSTITUTING the derived expressions, so the entire
    * shingle/hash pipeline gets re-evaluated per input row inside the
    * pushed filter (observed 3× on ngram-jaccard at sf0.1). Wrapping in
    * coalesce(pred, false) keeps identical semantics (null never passes)
    * without triggering the inference.
    */
  private def atLeast(c: Column, t: Double): Column =
    coalesce(c >= t, lit(false))

  /** Adaptive broadcast policy for the near-dup candidate/verify/attach
    * joins, generalizing the connected-components pattern: every one of
    * those joins carries a frame that is Θ(corpus) AT SCALE — which is why
    * each is shuffle_hash-pinned by default (the planner's undersized
    * post-explosion/post-checkpoint estimates would otherwise build
    * driver-side broadcasts of the whole corpus' shingle sets) — but at
    * small-corpus scale the same frames are tens of MB and five pinned
    * shuffles per stage cost ~3× the broadcast plan (measured on the
    * composed curation gate: 16.6 s broadcast vs 64.1 s pinned at sf0.1).
    *
    * The deciding count runs on a frame that is already eagerly
    * localCheckpoint-ed (metadata-cheap — blocks are materialized), and
    * the ceilings are Spark confs so plan-shape tests can force either
    * side of the boundary:
    *
    *   - [[ShingleCeilingKey]] (default 2M): total shingle OCCURRENCES —
    *     the unit that bounds the byte size of broadcast shingle-array
    *     frames (~10-20 B/occurrence → worst case a few tens of MB).
    *   - [[PairCeilingKey]] (default 1M): candidate-pair / bucket-row
    *     count for frames of fixed-width numeric rows (CC round frames,
    *     SimHash chunk frames, near-dup loser lists — two or three longs
    *     per row, so 1M rows ≈ tens of MB).
    *
    * Below the ceiling joins drop their pins (and fan-out repartitions)
    * and the planner broadcasts; above it every corpus-sized side stays
    * shuffle_hash-pinned — the 100 TB contract, plan-shape-tested in
    * DedupSpec on both sides of the boundary.
    */
  private[ops] val ShingleCeilingKey = "spark.graft.dedup.broadcastShingleCeiling"
  private[ops] val PairCeilingKey = "spark.graft.dedup.broadcastPairCeiling"

  private def shingleCeiling(df: DataFrame): Long =
    df.sparkSession.conf.get(ShingleCeilingKey, "2000000").toLong

  private[ops] def pairCeiling(df: DataFrame): Long =
    df.sparkSession.conf.get(PairCeilingKey, "1000000").toLong

  /** identity below the ceiling (planner free to broadcast), shuffle_hash
    * pin above it.
    */
  private[ops] def adaptivePin(small: Boolean): DataFrame => DataFrame =
    if (small) identity else _.hint("shuffle_hash")

  /** Exact dedup: keep, per distinct normalized text, the row with the
    * smallest `idCol`. Implemented as min-id-per-digest + semi-join back so
    * the wide `textCol` never shuffles; only (digest, id) pairs do.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val digest = md5(Text.normalize(col(textCol))).as("__digest")
    val keep = df.select(digest, col(idCol))
      .groupBy("__digest").agg(min(idCol).as(idCol))
    // shuffle_hash: keep has one row per DISTINCT document — Θ(corpus).
    // The planner's undersized aggregate estimate would otherwise build
    // it as a driver-side broadcast (plan-shape-tested in DedupSpec).
    df.join(keep.hint("shuffle_hash"), Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup — the crawl-ingestion shape: keep rows of
    * `incoming` that are novel both WITHIN the batch (smallest `idCol`
    * per distinct normalized text, as [[exactDedup]]) and AGAINST the
    * already-ingested `existing` corpus.
    *
    * Scale shape: `existing` reduces to distinct 128-bit digests before
    * the anti-join, so the historical corpus contributes ~16 bytes per
    * distinct document to the shuffle — never its text. shuffle_hash on
    * that side: the digest set is Θ(existing corpus) and must never be a
    * driver-side broadcast (same contract as [[exactDedup]]'s keep
    * frame). Batch-vs-batch idempotence (re-ingesting an already-loaded
    * batch yields zero rows) is what makes retries safe at 100 TB.
    */
  def exactDedupIncremental(incoming: DataFrame, existing: DataFrame,
                            textCol: String, idCol: String): DataFrame = {
    val dig = md5(Text.normalize(col(textCol)))
    val seen = existing.select(dig.as("__digest")).distinct()
    exactDedup(incoming, textCol, idCol)
      .withColumn("__digest", dig)
      .join(seen.hint("shuffle_hash"), Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  /** Compact membership filter over an ingested corpus' normalized-text
    * digests — the probe side of [[exactDedupIncrementalBloom]]. At real
    * scale the caller builds this ONCE and persists it across ingestion
    * batches (BloomFilter.writeTo / readFrom; merge batch filters with
    * mergeInPlace), because building scans the whole history: a 10⁹-doc
    * corpus at 1% fpp is a ~1.2 GB filter vs a ~16 GB digest frame —
    * and probing it is executor-local, no shuffle at all.
    *
    * PROBE shape (round 14, measured in docs/REUSE_TWIN_ATTRIBUTION.md):
    * [[exactDedupIncrementalBloom]] ships the filter as a BROADCAST —
    * the earlier expression-embedded bytes made every task deserialize
    * a fresh bitset (~5 MB × tasks at sf1, ~1.2 GB × tasks for a
    * 10⁹-doc history). The BUILD side needs no such upgrade: the
    * per-stage profile measured the driver-side collect+merge at
    * 0.1–0.3 sys cores and ~5 s — the least sensitive stage of the
    * whole twin, refuting the r13 suspicion that it was the
    * heap-pathology hotspot.
    */
  def buildDigestBloom(existing: DataFrame, textCol: String,
                       expectedItems: Long = 0L, fpp: Double = 0.01,
                       buildPartitions: Int = 8): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    // explicit per-partition build + driver merge (the distributed shape
    // stat.bloomFilter uses internally, but total: an empty history
    // yields an empty filter instead of a null aggregate). Pass
    // expectedItems at scale to skip the sizing count's extra scan.
    // EVERY partial filter is sized for the full n (merge requires
    // identical geometry), so transient memory is buildPartitions ×
    // filter bytes — the coalesce bounds it; raise buildPartitions only
    // if the digest scan, not the bit-setting, is the bottleneck.
    require(buildPartitions >= 1, s"buildPartitions=$buildPartitions")
    // NO distinct: bloom inserts are idempotent, so deduplicating the
    // digest stream first would pay a Θ(history) SHUFFLE purely to avoid
    // re-setting already-set bits (measured: the distinct was half the
    // 3M-digest build cost). The stream stays scan-shaped end to end.
    // Sizing uses the RAW count when expectedItems is absent — an upper
    // bound on the distinct count, and oversizing only lowers the
    // realized fpp.
    val seen = existing.select(md5(Text.normalize(col(textCol))).as("__digest"))
      .na.drop()
    val n = if (expectedItems > 0L) expectedItems else math.max(seen.count(), 1L)
    val parts = seen.coalesce(buildPartitions).mapPartitions { rows =>
      val f = BloomFilter.create(n, fpp)
      rows.foreach(r => f.putString(r.getString(0)))
      val bos = new java.io.ByteArrayOutputStream()
      f.writeTo(bos)
      Iterator(bos.toByteArray)
    }(org.apache.spark.sql.Encoders.BINARY).collect()
    parts.map(b => BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
      .getOrElse(BloomFilter.create(n, fpp))
  }

  /** [[exactDedupIncremental]] with a Bloom pre-screen — same EXACT
    * result (gate-checked against the same oracle), different 100 TB
    * cost: the plain form anti-joins every batch against the FULL
    * history digest frame (a Θ(history) shuffle per batch); here the
    * batch probes `bloom` executor-locally first. A bloom MISS is
    * definitively novel (no false negatives) and never touches the
    * history; only the bloom-positive residue — true duplicates plus
    * ~fpp of the novel rows, typically ≪ batch — needs the exact digest
    * check, which runs as a broadcast-semi SCAN of the history (the
    * history is read, never shuffled) while the residue stays under the
    * pair ceiling, falling back to the plain pinned anti-join above it.
    */
  def exactDedupIncrementalBloom(incoming: DataFrame, existing: DataFrame,
                                 textCol: String, idCol: String,
                                 bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    // One broadcast per call, reclaimed only when GC lets ContextCleaner
    // find it — fine for batch gates, a slow accumulation for a
    // long-lived caller invoking this per micro-batch: such callers use
    // the Bc overload and destroy the broadcast after the batch's
    // terminal action (as bloomDedupForeachBatch does).
    exactDedupIncrementalBloomBc(incoming, existing, textCol, idCol,
      incoming.sparkSession.sparkContext.broadcast(bloom))

  /** [[exactDedupIncrementalBloom]] over a CALLER-OWNED broadcast of the
    * filter — the lifecycle-explicit form: the caller broadcasts once,
    * materializes this function's (lazy) result, and then destroys the
    * broadcast itself instead of leaving a ~filter-sized block pinned in
    * the driver/executor block managers until GC notices (per-batch
    * broadcasts in a long-running streaming query accumulate gigabytes
    * before the ContextCleaner wakes up).
    */
  def exactDedupIncrementalBloomBc(incoming: DataFrame, existing: DataFrame,
                                   textCol: String, idCol: String,
                                   bc: org.apache.spark.broadcast.Broadcast[
                                     org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    val dig = md5(Text.normalize(col(textCol)))
    // The probe rides a BROADCAST, not expression-embedded bytes (round
    // 14): the bytes form deserialized a fresh bitset PER TASK — ~5 MB ×
    // tasks here, ~1.2 GB × tasks for a 10⁹-doc history's filter — while
    // the broadcast hands every task on an executor the same object. One
    // broadcast per call = per batch, amortized across this function's
    // several probing jobs (pre-screen count, fresh/residue branches).
    // Mutation contract: this frame is lazy, so a caller that
    // mergeInPlace's the filter must materialize the result first (the
    // streaming sink checkpoints before merging — see
    // SketchExprs.BloomMightContainBroadcast).
    // Null-guard the probe: a null text digests to null, so the raw
    // might-contain is null and a branch filter pair would silently drop
    // the row — whereas the plain path keeps it (an anti-join on a null
    // key never matches). Null digests never enter the filter
    // ([[buildDigestBloom]] na.drop's them), so treating them as
    // definitively-novel is exact.
    def might(digest: Column) = coalesce(
      graft.functions.SketchExprs.bloomMightContainBc(digest, bc), lit(false))
    // Pre-screen the RAW batch: one scan with an executor-local probe —
    // no shuffle, no materialization, no history involvement. If NO raw
    // row might be in history the batch is definitively all-novel and
    // the history is NOT READ AT ALL — the bloom's actual 100 TB payoff.
    // The plain path pays a Θ(history) scan + digest-distinct + shuffle
    // for every batch including the all-novel ones (most batches of a
    // healthy crawl); here that cost is gated on a suspected duplicate
    // existing. Build the filter at a low fpp (cheap: ~2× bits per
    // decade) so novel batches actually realize an empty suspect set
    // instead of dragging ~fpp·|batch| false positives into a history
    // scan each.
    //
    // Nothing here is eagerly materialized: the caller's landing action
    // (stage-table write / checkpoint) is the ONE materialization of the
    // batch, and the exactDedup exchange shared by the fresh/residue
    // branches is de-duplicated inside it by ReuseExchange. An internal
    // checkpoint (rounds 5-6) double-materialized every batch — a second
    // eager text-frame write per batch that cost more than the history
    // work it saved at bench scale.
    val nSuspect = incoming.filter(might(dig)).count()
    if (nSuspect == 0L) exactDedup(incoming, textCol, idCol)
    else {
      val batch = exactDedup(incoming, textCol, idCol).withColumn("__digest", dig)
      val fresh = batch.filter(!might(col("__digest")))
      val residue = batch.filter(might(col("__digest")))
      val seen = existing.select(dig.as("__digest"))
      val survivors =
        if (nSuspect <= pairCeiling(incoming)) {
          // duplicate digests among the residue, via a map-side scan of
          // the history against the broadcast residue — Θ(history) READ,
          // zero history shuffle; the result is ≤ residue rows
          val dup = seen.join(broadcast(residue.select("__digest").distinct()),
              Seq("__digest"), "left_semi")
            .distinct()
          residue.join(broadcast(dup), Seq("__digest"), "left_anti")
        } else {
          // residue too big to broadcast (dup-heavy batch): the plain
          // exact path's pinned anti-join against distinct history digests
          residue.join(seen.distinct().hint("shuffle_hash"), Seq("__digest"), "left_anti")
        }
      fresh.unionByName(survivors).drop("__digest")
    }
  }

  /** Benchmark decontamination: (id, n_shared) for every `train`
    * document sharing at least `minShared` DISTINCT word n-gram shingles
    * with the `benchmark` corpus — the standard eval-leakage screen run
    * before LLM pre-training (drop or audit the flagged ids).
    *
    * Scale shape: the benchmark side collapses to its distinct shingle
    * hashes (Θ(benchmark tokens) longs — small next to the training
    * corpus but still never broadcast), the training side streams through
    * one inverted-index join on the 64-bit shingle hash, and the per-doc
    * distinct-count is a hash aggregate. Decontamination convention is
    * LONG shingles (n ≈ 8-13 words) so background collisions are ~zero
    * and `minShared = 1` is the usual setting; both are parameters.
    */
  def contaminatedIds(train: DataFrame, benchmark: DataFrame,
                      textCol: String, idCol: String,
                      n: Int, minShared: Long = 1L): DataFrame = {
    def shingleHashes(df: DataFrame) = wordShingled(df, textCol, idCol, n)
      .select(col("__id"), explode(transform(col("__sh"), s => xxhash64(s))).as("__s"))
    val bench = shingleHashes(benchmark).select("__s").distinct()
    shingleHashes(train)
      .join(bench.hint("shuffle_hash"), Seq("__s"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_shared"))
      .filter(coalesce(col("n_shared") >= minShared, lit(false)))
      .select(col("__id").as(idCol), col("n_shared"))
  }

  /** Containment decontamination: (train id, benchmark id, containment)
    * for every pair where `containment` — the fraction of the BENCHMARK
    * document's distinct word n-gram shingles that also appear in the
    * training document — reaches `minContainment`. Containment, not
    * Jaccard, is the metric real decontamination screens use: a long
    * training document quoting a short eval item wholesale has tiny
    * Jaccard (the union is dominated by the trainer) but containment 1.0.
    *
    * Scale shape: same inverted-index discipline as [[ngramJaccardPairs]]
    * — candidates only from shared shingles (never all-pairs), benchmark
    * shingle lists deduplicated per doc, one shuffle-hash join on the
    * 64-bit shingle hash, hash-aggregate per (train, bench) pair. The
    * benchmark corpus is typically orders of magnitude smaller than the
    * training corpus, so pair cardinality is bounded by benchmark hits.
    */
  def benchmarkContainment(train: DataFrame, benchmark: DataFrame,
                           textCol: String, idCol: String,
                           n: Int, minContainment: Double): DataFrame = {
    def idx(df: DataFrame) = wordShingled(df, textCol, idCol, n)
      .select(col("__id"), size(col("__sh")).as("__nsh"),
        explode(transform(col("__sh"), s => xxhash64(s))).as("__s"))
    val t = idx(train).select(col("__s"), col("__id").as("train_id"))
    val b = idx(benchmark)
      .select(col("__s"), col("__id").as("bench_id"), col("__nsh").as("__bn"))
    t.join(b.hint("shuffle_hash"), Seq("__s"))
      .groupBy("train_id", "bench_id", "__bn")
      .agg(count(lit(1)).as("__shared"))
      .withColumn("containment",
        col("__shared").cast(DoubleType) / col("__bn"))
      .filter(atLeast(col("containment"), minContainment))
      .select(col("train_id"), col("bench_id"), col("containment"))
  }

  /** Embedding-space decontamination ("semantic decontamination"):
    * (train id, max_cosine, n_bench_hits) for every `train` vector whose
    * cosine similarity to at least one `benchmark` vector reaches
    * `threshold` — the screen that catches PARAPHRASED eval leakage the
    * n-gram screens ([[contaminatedIds]], [[benchmarkContainment]])
    * structurally miss: a reworded eval item shares no 8-gram with its
    * source but still embeds next to it.
    *
    * Scale shape, exact mode (lshBits ≤ 0): the benchmark frame is
    * BROADCAST — a benchmark suite is vectors-in-the-thousands (MBs)
    * against a training corpus of billions, and that asymmetry is the
    * point: never bucket or shuffle the big side for a small screen.
    * Candidates verify in-pipeline (probe → dot product → threshold in
    * one codegen span) and the per-train aggregate partial-aggregates
    * map-side, so the training corpus is read ONCE and only the
    * Θ(contaminated) hit rows ever shuffle.
    *
    * LSH mode (lshBits > 0): both sides bucket on the SAME hyperplane
    * families ([[Similarity.hyperplaneBucket]], table t uses planes
    * [t·bits, (t+1)·bits)) and join on (table, bucket) — the bipartite
    * form of [[cosineDupPairs]]'s self-join, for the regime where the
    * screening side is itself corpus-sized (e.g. screening a new crawl
    * against all previously-shipped training data). Per-table candidate
    * volume is Θ(nTrain·nBench/2^bits); size bits for the BENCHMARK
    * side's bucket occupancy ([[contaminatedIdsEmbeddingAuto]]) and the
    * stream stays linear in the training corpus. Multi-table duplicate
    * hits collapse via distinct before the aggregate, so `n_bench_hits`
    * counts DISTINCT benchmark vectors in both modes — the two modes
    * differ only in recall (LSH may miss pairs; exact never does).
    */
  def contaminatedIdsEmbedding(train: DataFrame, benchmark: DataFrame,
                               vecCol: String, idCol: String,
                               threshold: Double, lshBits: Int = 0,
                               lshTables: Int = 8,
                               planeHash: String = "xxhash64"): DataFrame = {
    val t = train.select(col(idCol).as("__tid"),
      col(vecCol).cast("array<double>").as("__tv"))
    val b = benchmark.select(col(idCol).as("__bid"),
      col(vecCol).cast("array<double>").as("__bv"))
    val hits =
      if (lshBits <= 0)
        t.crossJoin(broadcast(b))
          .withColumn("cosine", Similarity.cosine(col("__tv"), col("__bv")))
          .filter(atLeast(col("cosine"), threshold))
          .select(col("__tid"), col("__bid"), col("cosine"))
      else {
        def bucketed(df: DataFrame, id: String, v: String) =
          df.select(col(id), col(v),
            posexplode(array((0 until lshTables).map(tb =>
              Similarity.hyperplaneBucket(col(v), lshBits, tb * lshBits, planeHash)): _*))
              .as(Seq("__table", "__bkt")))
        // pin fan-out parallelism on the train side (the corpus-sized
        // one); the bench side builds the shuffle_hash table
        pinFanout(bucketed(t, "__tid", "__tv"), col("__table"), col("__bkt"))
          .join(bucketed(b, "__bid", "__bv").hint("shuffle_hash"),
            Seq("__table", "__bkt"))
          .withColumn("cosine", Similarity.cosine(col("__tv"), col("__bv")))
          .filter(atLeast(col("cosine"), threshold))
          .select(col("__tid"), col("__bid"), col("cosine"))
          .distinct()
      }
    hits.groupBy("__tid")
      .agg(max(col("cosine")).as("max_cosine"),
        count(lit(1)).as("n_bench_hits"))
      .select(col("__tid").as(idCol), col("max_cosine"), col("n_bench_hits"))
  }

  /** [[contaminatedIdsEmbedding]] in LSH mode with (bits, tables) sized
    * by [[planCosineLsh]] from the BENCHMARK side's size — the side whose
    * bucket occupancy bounds per-train-row probe work (candidates per
    * train row ≈ tables · nBench / 2^bits). Exact mode needs no planning
    * (broadcast the benchmark); reach for this only when the screening
    * side is too big to broadcast.
    */
  def contaminatedIdsEmbeddingAuto(train: DataFrame, benchmark: DataFrame,
                                   vecCol: String, idCol: String,
                                   threshold: Double,
                                   targetRecall: Double = 0.9,
                                   targetBucketSize: Int = 100,
                                   maxTables: Int = 16,
                                   planeHash: String = "xxhash64"): DataFrame = {
    val bench = sizingInput(benchmark)
    val plan = planCosineLsh(bench.count(), threshold, targetRecall,
      targetBucketSize, maxTables)
    contaminatedIdsEmbedding(train, bench, vecCol, idCol, threshold,
      plan.bits, plan.tables, planeHash)
  }

  /** Exact duplicated-substring screen at k-token granularity: for every
    * input row, how many of its sliding k-token spans (step 1) occur MORE
    * THAN ONCE corpus-wide — the span-level analogue of the suffix-array
    * exact-substring dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022). Document-level dedup
    * misses boilerplate shared ACROSS otherwise-distinct pages (headers,
    * license blocks, templated paragraphs); this screen measures exactly
    * that. Returns one row per input row:
    * (idCol, n_spans, n_dup_spans, dup_span_fraction), where a span is
    * duplicated iff its normalized text occurs ≥2 times over all (doc,
    * position) pairs — so a within-document repeat counts too, matching
    * the suffix-array formulation over the concatenated corpus.
    *
    * Scale shape: one row per TOKEN POSITION flows through the shuffle,
    * but each row is (64-bit span hash, id) — never span text, which
    * stays inside the per-partition projection. The per-doc totals are a
    * direct partial aggregate (no join); the duplicated-SPAN set is
    * Θ(distinct duplicated spans) — far below the distinct-span count on
    * a real corpus — and attaches via an adaptive left_semi (broadcast
    * below the pair ceiling, so the span stream never shuffles for it;
    * pinned streaming shuffle_hash above — a hot boilerplate span is
    * probed linearly, never sorted on one reducer). Docs shorter than k
    * tokens surface with zero spans rather than dropping out, so the
    * screen's output is a total function of the corpus (a filter
    * downstream can rely on every id being present).
    */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String,
                          k: Int): DataFrame = {
    require(k >= 1, s"span length k=$k")
    val toks = df.select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__toks"))
    // checkpoint: the span stream feeds the total aggregate, the dup-set
    // aggregate and the semi join — and makes the adaptive count cheap
    val spans = toks.filter(size(col("__toks")) >= k)
      .select(col("__id"), explode(transform(
        sequence(lit(0), size(col("__toks")) - k),
        i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(k)), " ")))).as("__h"))
      .forkMaterialize()
    val perDocTotal = spans.groupBy("__id").agg(count(lit(1)).as("n_spans"))
    val dup = spans.groupBy("__h").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2).select("__h")
      .forkMaterialize()
    val h = adaptivePin(dup.count() <= pairCeiling(df))
    val perDocDup = spans.join(h(dup), Seq("__h"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_dup_spans"))
    // per-doc frames are corpus-sized (one row per doc): always pinned —
    // the planner's post-aggregate estimate would otherwise broadcast them
    val perDoc = perDocTotal.join(perDocDup.hint("shuffle_hash"), Seq("__id"), "left")
    df.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_fraction",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast(DoubleType) / col("n_spans"))
          .otherwise(lit(0.0)))
  }

  /** The shared bipartite join of the cross-corpus screens: both sides
    * in [[shingleIndex]] shape, output (inc_id, ex_id, jaccard) at or
    * above `threshold`.
    */
  private def bipartiteJaccard(incIdx: DataFrame, incIdCol: String,
                               exIdx: DataFrame, exIdCol: String,
                               threshold: Double): DataFrame = {
    val inc = incIdx.select(col("shingle"), col(incIdCol).as("inc_id"),
      col("n_shingles").as("__na"))
    val ex = exIdx.select(col("shingle"), col(exIdCol).as("ex_id"),
      col("n_shingles").as("__nb"))
    inc.join(ex.hint("shuffle_hash"), Seq("shingle"))
      .groupBy("inc_id", "ex_id", "__na", "__nb")
      .agg(count(lit(1)).as("__c"))
      .withColumn("jaccard", col("__c").cast(DoubleType) /
        (col("__na") + col("__nb") - col("__c")))
      .filter(atLeast(col("jaccard"), threshold))
      .select(col("inc_id"), col("ex_id"), col("jaccard"))
  }

  /** The persistable shingle index of a corpus: one row per (id,
    * distinct 64-bit shingle hash) plus the per-doc shingle count —
    * everything [[nearDupIncrementalAgainstIndex]] needs from the
    * ingested side. At ingestion scale this is the frame to SAVE
    * (StageIO, partitioned/bucketed by `shingle`) and append per batch:
    * re-deriving it from corpus text on every incoming batch re-pays
    * tokenization of the entire history, which dwarfs the screen itself.
    */
  def shingleIndex(df: DataFrame, textCol: String, idCol: String,
                   n: Int): DataFrame =
    wordShingled(df, textCol, idCol, n)
      .select(col("__id").as(idCol), size(col("__sh")).as("n_shingles"),
        explode(transform(col("__sh"), s => xxhash64(s))).as("shingle"))

  /** Incremental near-dup screen — [[exactDedupIncremental]]'s sibling
    * for the crawl-ingestion shape: keep incoming rows that survive
    * within-batch near-dup clustering ([[nearDupSurvivors]]) AND are not
    * a near-dup of ANY already-ingested document. Idempotence follows:
    * re-ingesting an already-loaded batch yields zero rows (every doc
    * jaccard-1.0-matches its own ingested copy).
    *
    * Scale shape: the batch clusters against itself (batch-sized), then
    * one bipartite inverted-index join against the corpus — the corpus
    * contributes its shingle index (one 8-byte hash per distinct shingle
    * occurrence), never text, and never joins against itself. This
    * overload re-derives that index from corpus text; production
    * ingestion should persist it once via [[shingleIndex]] and call
    * [[nearDupIncrementalAgainstIndex]].
    */
  def nearDupIncremental(incoming: DataFrame, existing: DataFrame,
                         textCol: String, idCol: String,
                         n: Int, threshold: Double): DataFrame =
    nearDupIncrementalAgainstIndex(incoming,
      shingleIndex(existing, textCol, idCol, n), textCol, idCol, n, threshold)

  /** [[nearDupIncremental]] against a PREBUILT corpus index (the
    * [[shingleIndex]] frame, typically loaded from a bucketed stage
    * table) — the shape that holds at 100 TB: each batch pays only its
    * own tokenization plus one join into the index, and the index grows
    * by appending the kept batch's own shingleIndex.
    */
  def nearDupIncrementalAgainstIndex(incoming: DataFrame, index: DataFrame,
                                     textCol: String, idCol: String,
                                     n: Int, threshold: Double): DataFrame = {
    // checkpoint: the whole within-batch clustering (pairs + connected
    // components + anti-join) feeds BOTH the index probe and the final
    // anti-join — unmaterialized it would execute twice per batch
    val batchSurvivors =
      nearDupSurvivors(incoming, textCol, idCol, n, threshold).forkMaterialize()
    val hits = bipartiteJaccard(
      shingleIndex(batchSurvivors, textCol, idCol, n), idCol,
      index, idCol, threshold)
      .select(col("inc_id").as(idCol)).distinct()
    batchSurvivors.join(hits.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Persistable MinHash BAND index: one fixed-width (idCol, band,
    * bucket) row per band. SIZE IS CORPUS-SHAPE-DEPENDENT: `bands`
    * rows/doc vs [[shingleIndex]]'s one row per shingle OCCURRENCE — on
    * long-document corpora (web pages: hundreds-to-thousands of shingles
    * vs 64 bands) this is 10-80× smaller; on the short-doc synthetic
    * gate corpus (~51 shingles/doc) it is actually slightly LARGER
    * (measured by `IncrementalProbeBench` of commit 0adf981 at sf100:
    * 132 MB vs 104 MB).
    * The bucket derivation is byte-identical to [[minhashLshPairs]]'
    * banding (same signature expression, same per-band xxhash64 fold),
    * so an index built here collides exactly like the in-memory path.
    * Persist it bucketed on (band, bucket) (StageIO's bucketed sink) and
    * each batch's candidate probe lands on co-located buckets instead of
    * reshuffling the history.
    */
  def minhashBandIndex(df: DataFrame, textCol: String, idCol: String,
                       n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    minhashBandIndexFromShingled(wordShingled(df, textCol, idCol, n),
      idCol, bands, rowsPerBand)

  /** [[minhashBandIndex]] over an already-shingled frame — callers that
    * also need [[shingleHashSetsFromShingled]] share ONE tokenize+shingle
    * pass (checkpoint the shingled frame; the batch-side signature is the
    * dominant per-batch cost, so re-deriving shingles per consumer is the
    * waste to avoid).
    */
  private[graft] def minhashBandIndexFromShingled(shingled: DataFrame,
                                                  idCol: String,
                                                  bands: Int,
                                                  rowsPerBand: Int): DataFrame =
    shingled
      .withColumn("__sig", minhashSignature(col("__sh"), bands * rowsPerBand))
      .select(col("__id").as(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_",
            slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand))
              .cast("array<string>")), b)))
          .as(Seq("band", "bucket")))

  /** Persistable per-doc SORTED xxhash64 shingle sets — the exact-verify
    * side of the banded incremental screen. Same total bytes as
    * [[shingleIndex]] but ONE row per document, so verification fetches
    * the arrays of CANDIDATE history docs by id instead of joining every
    * batch shingle occurrence against the whole inverted index. Persist
    * bucketed on idCol for a shuffle-free candidate attach.
    */
  def shingleHashSets(df: DataFrame, textCol: String, idCol: String,
                      n: Int): DataFrame =
    shingleHashSetsFromShingled(wordShingled(df, textCol, idCol, n), idCol)

  /** [[shingleHashSets]] over an already-shingled frame (see
    * [[minhashBandIndexFromShingled]] for the shared-pass rationale).
    */
  private[graft] def shingleHashSetsFromShingled(shingled: DataFrame,
                                                 idCol: String): DataFrame =
    shingled.select(col("__id").as(idCol),
      array_sort(transform(col("__sh"), s => xxhash64(s)))
        .as("shingle_hashes"))

  /** MinHash keep-one: [[nearDupSurvivors]]' banding-family sibling —
    * cluster [[minhashLshPairs]] pairs with connected components and
    * keep each cluster's minimum id. Candidate recall follows the
    * banding curve 1-(1-j^r)^b (size with [[planMinhashLsh]]); the
    * verify is exact, so false candidates never cost a keep decision.
    */
  def minhashSurvivors(df: DataFrame, textCol: String, idCol: String,
                       n: Int, bands: Int, rowsPerBand: Int,
                       threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(df, textCol, idCol, n, bands, rowsPerBand,
      threshold).select("id_a", "id_b").forkMaterialize()
    val nPairs = pairs.count()
    val losers = connectedComponentsOn(pairs, nPairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    val h = adaptivePin(nPairs <= pairCeiling(df))
    df.join(h(losers), Seq(idCol), "left_anti")
  }

  /** Incremental MinHash-banded near-dup screen — the alternative
    * ingestion design for when the HISTORY is the 100 TB object:
    * [[nearDupIncremental]]'s bipartite probe joins every batch shingle
    * occurrence against the full inverted index (the whole index
    * shuffles per batch); here the history contributes (a) a band index
    * whose candidate join touches only the buckets the batch occupies,
    * and (b) per-doc hash sets fetched by id for candidate docs only.
    * Both persist as stage tables (bucketed on their join keys →
    * batches probe co-located buckets, history never reshuffles) and
    * grow by appending the kept batch's own index rows. Bucketing must
    * cover BOTH band-index join columns — `saveBucketed(idx,
    * "bands_tbl", "band", n, "bucket")` — because co-partitioning
    * rejects subset partitionings since Spark 3.3
    * (`spark.sql.requireAllClusterKeysForCoPartition`); a bucket-only
    * bucketed index gets re-exchanged anyway. IncrementalIndexSpec pins
    * the shuffle-free arrival of both tables (and its negative control
    * shows the plain-parquet index reshuffling per batch).
    *
    * WHEN TO USE — measured, not assumed (`IncrementalProbeBench` of
    * commit 0adf981 with pre-persisted indexes, warm pass, 8 g heap;
    * round-13 sweep across the generated decades, history = half the
    * corpus):
    *
    *   | corpus | inverted probe | band probe | index bytes (sh/bands) |
    *   |--------|----------------|------------|------------------------|
    *   | 50k    | 4.9 s          | 7.4 s      | 10.4 / 13.2 MB         |
    *   | 150k   | 7.6 s          | 10.5 s     | 31.2 / 39.6 MB         |
    *   | 500k   | 13.5 s         | 21.5 s     | 104 / 132 MB           |
    *
    * On THIS corpus family (short docs, 310-word ScaleGen vocab) the
    * inverted-index probe wins at every measured decade and the gap
    * WIDENS (2.5 → 2.9 → 8.0 s): the band path's fixed per-doc
    * signature (128 hashes) never pays for itself when docs are short
    * (~doc-length shingle hashes would be probed anyway), and the
    * FIXED 64×2 banding meets growing background similarity (tiny
    * vocab ⇒ shingle collisions compound with corpus size), inflating
    * verify candidates superlinearly. No crossover is in extrapolation
    * range on this corpus — an honest negative; the short-doc regime
    * belongs to the inverted-index probe.
    *
    * The band screen's claim is therefore structural, not throughput at
    * these sizes: (a) per-batch history-side WORK is bucket-local — the
    * persisted index is probed by (band,bucket) equality and arrives
    * shuffle-free when bucketed, while the inverted probe reshuffles
    * Σ-shingle-rows of history per batch (104 MB here, ~TBs at a
    * 100 TB history — the regime the table cannot reach on this host);
    * (b) the index is a fixed `bands` rows/doc regardless of doc
    * length, so LONG docs (shingles/doc ≫ bands: book-length pages vs
    * these ~100-token synthetics) shrink it 10-80× below the shingle
    * index. Deploy it when history-side shuffle mass is the binding
    * constraint or docs are long; size banding with [[planMinhashLsh]]
    * (the fixed 64×2 here is the gates' oracle-determinism config and
    * is exactly what inflates candidates at scale).
    *
    * Semantics mirror [[nearDupIncrementalAgainstIndex]]: keep incoming
    * rows that survive within-batch keep-one AND verify below
    * `threshold` against every banding candidate in the history. Exact
    * verify on the hashed shingle sets ([[graft.functions.HashExprs.JaccardSortedLong]];
    * collision odds as documented there); candidate completeness is the
    * banding curve — size (bands, rowsPerBand) for the target recall
    * with [[planMinhashLsh]]. Idempotence: re-ingesting a loaded batch
    * emits zero rows (every doc's own copy collides in all bands and
    * verifies at jaccard 1.0).
    */
  def minhashIncrementalAgainstIndex(incoming: DataFrame,
                                     bandIndex: DataFrame,
                                     hashSets: DataFrame,
                                     textCol: String, idCol: String,
                                     n: Int, bands: Int, rowsPerBand: Int,
                                     threshold: Double): DataFrame = {
    // checkpoint: within-batch keep-one feeds the band probe, the set
    // attach AND the final anti-join — unmaterialized it would run the
    // whole LSH clustering three times per batch
    val batchSurvivors = minhashSurvivors(incoming, textCol, idCol,
      n, bands, rowsPerBand, threshold).forkMaterialize()
    // ONE tokenize+shingle pass over the survivors feeds both the band
    // probe and the verify sets (the signature is the dominant batch
    // cost — see the probe-bench numbers in the scaladoc)
    val survShingled = wordShingled(batchSurvivors, textCol, idCol, n)
      .forkMaterialize()
    // candidate probe: batch side built (Θ(batch × bands) fixed-width
    // rows), history side streams — and arrives shuffle-free when the
    // persisted index is bucketed on the join key
    val bBands = minhashBandIndexFromShingled(survShingled, idCol,
      bands, rowsPerBand)
      .select(col(idCol).as("inc_id"), col("band"), col("bucket"))
    val cand = bandIndex
      .select(col("band"), col("bucket"), col(idCol).as("ex_id"))
      .join(bBands.hint("shuffle_hash"), Seq("band", "bucket"))
      .select("inc_id", "ex_id").distinct()
    val bSets = shingleHashSetsFromShingled(survShingled, idCol)
      .select(col(idCol).as("inc_id"), col("shingle_hashes").as("__ha"))
    // both verify attaches build the candidate-derived side (bounded by
    // batch × banding collisions), never the history
    val withInc = cand.join(bSets.hint("shuffle_hash"), Seq("inc_id"))
    val hits = hashSets
      .select(col(idCol).as("ex_id"), col("shingle_hashes").as("__hb"))
      .join(withInc.hint("shuffle_hash"), Seq("ex_id"))
      .withColumn("__j",
        graft.functions.HashExprs.jaccardSortedLong(col("__ha"), col("__hb")))
      .filter(atLeast(col("__j"), threshold))
      .select(col("inc_id").as(idCol)).distinct()
    batchSurvivors.join(hits.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** [[minhashIncrementalAgainstIndex]] with both history frames derived
    * in-query — the convenience overload for one-shot use; production
    * ingestion persists [[minhashBandIndex]] and [[shingleHashSets]]
    * once and appends per batch.
    */
  def minhashIncremental(incoming: DataFrame, existing: DataFrame,
                         textCol: String, idCol: String,
                         n: Int, bands: Int, rowsPerBand: Int,
                         threshold: Double): DataFrame =
    minhashIncrementalAgainstIndex(incoming,
      minhashBandIndex(existing, textCol, idCol, n, bands, rowsPerBand),
      shingleHashSets(existing, textCol, idCol, n),
      textCol, idCol, n, bands, rowsPerBand, threshold)

  /** Collect an `ivfCentroids`-shaped frame — bounded model state, the
    * same object [[semdedupPairs]] collects (√n-sized by the planner,
    * K rows for a fixed-K screen) — into the (ids, matrix) pair the
    * native TopCells assignment rides on.
    */
  private def collectCentroids(centroids: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = centroids
      .select(col("centroid_id").cast("long"), col("centroid").cast("array<double>"))
      .collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** The persisted-history half of the incremental SEMANTIC screen: one
    * row per document per assigned cell — `(centroid_id, idCol, vec)`,
    * cells = the document's top-`indexAssign` centroids by (cosine desc,
    * centroid_id asc), the same native TopCells rule every SemDeDup/IVF
    * op uses. This is the embedding family's analogue of
    * [[minhashBandIndex]]+[[shingleHashSets]] in ONE table: the cell id
    * is the candidate key and the vector rides along for the exact
    * verify, so the per-batch probe needs a single history join.
    * Persist it bucketed on `centroid_id`
    * (`StageIO.saveBucketed(idx, tbl, "centroid_id", n)`) and the
    * history side of every probe join arrives with zero exchange.
    *
    * `centroids` must be the SAME frame (or persisted copy) used by
    * every probe against this index — cell ids are meaningless across
    * centroid fits. Vectors that cannot be scored against any centroid
    * (zero norm) still assign deterministically (uncomputable cosines
    * rank last, ties to the smallest centroid_id), so every document
    * lands in the index.
    */
  def semanticCellIndex(df: DataFrame, vecCol: String, idCol: String,
                        centroids: DataFrame, indexAssign: Int = 1): DataFrame = {
    require(indexAssign >= 1 && indexAssign <= 4,
      s"indexAssign=$indexAssign out of [1,4]")
    // the index's vector column is named "vec" BY CONTRACT — the probe
    // ([[semanticIncrementalAgainstCells]]) resolves it by that literal
    // name; an idCol that is itself "vec" would emit a duplicate column
    // and the probe would join on whichever resolves, with no diagnostic
    require(idCol != "vec",
      s"""idCol "$idCol" collides with the index's reserved vector column "vec"""")
    val (ids, mat) = collectCentroids(centroids)
    val vecs = df.select(col(idCol), col(vecCol).cast("array<double>").as("vec"))
    val eff = math.min(indexAssign, ids.length)
    if (eff == 0)
      return vecs.limit(0)
        .select(lit(0L).as("centroid_id"), col(idCol), col("vec"))
    vecs.select(
      explode(graft.functions.VectorExprs.topCells(col("vec"), ids, mat, eff))
        .as("centroid_id"),
      col(idCol), col("vec"))
  }

  /** Incremental EMBEDDING-cosine near-dup screen against a persisted
    * cell index — the semantic sibling of
    * [[minhashIncrementalAgainstIndex]], completing the incremental
    * family (exact digest / n-gram Jaccard / minhash banding /
    * embedding cosine) for the ingestion design where the HISTORY is
    * the 100 TB object. History contributes [[semanticCellIndex]] —
    * probed by `centroid_id` equality only, so a `centroid_id`-bucketed
    * table arrives at the join with zero exchange and per-batch cost is
    * batch-sized forever — and `centroids`, the fixed coarse quantizer
    * both sides must share (bounded model state, collected like every
    * centroid consumer here).
    *
    * Semantics mirror the minhash sibling: keep incoming rows that
    * survive within-batch keep-one (cells-confined pairs at cosine ≥
    * `threshold`, connected components, min id wins — [[semdedupPairs]]'
    * candidate shape against the SAME fixed centroids) AND whose exact
    * cosine stays below `threshold` against every history candidate
    * sharing a probed cell. Candidate completeness is cell co-residence:
    * a true near-dup pair straddling cells that neither side probes is
    * missed — the SemDeDup trade ([[semdedupPairs]]' scaladoc derives
    * it); raise `probeCells` (incoming side) or the index's
    * `indexAssign` to widen the net. The verify is exact, so false
    * candidates never cost a keep decision.
    *
    * Idempotence: re-ingesting a loaded batch emits zero rows for every
    * NONZERO vector — the replayed copy shares its original's cells by
    * determinism of the assignment and verifies at cosine ≈ 1 ≥ any
    * sane threshold. Zero-norm vectors are unscreenable (cosine is null
    * against everything, never ≥ threshold) and re-emit on replay —
    * filter them upstream where exactly-once matters, or compose after
    * the exact-digest screen, which catches byte-identical replays of
    * any vector.
    *
    * Empty `centroids` (bootstrap from an empty corpus) returns
    * `incoming` unchanged: with no quantizer there are no cells, no
    * candidates, and nothing to screen against — callers bootstrap
    * centroids from the first non-empty batch
    * ([[graft.ops.Similarity.ivfCentroids]], deterministic) before any
    * screening claim holds.
    */
  def semanticIncrementalAgainstCells(incoming: DataFrame, cellIndex: DataFrame,
                                      centroids: DataFrame,
                                      vecCol: String, idCol: String,
                                      threshold: Double,
                                      probeCells: Int = 2): DataFrame = {
    require(probeCells >= 1 && probeCells <= 4,
      s"probeCells=$probeCells out of [1,4]")
    // mirror of [[semanticCellIndex]]'s reserved-name guard: the probe
    // reads the history vector via the contract name col("vec"), so an
    // idCol literally named "vec" would silently join the wrong column
    require(idCol != "vec",
      s"""idCol "$idCol" collides with the cell index's reserved vector column "vec"""")
    val (ids, mat) = collectCentroids(centroids)
    val eff = math.min(probeCells, ids.length)
    if (eff == 0) return incoming
    val vecs = incoming.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    // one assignment pass feeds the within-batch pairs AND the history
    // probe (the TopCells scan is the dominant batch-side cost —
    // same shared-pass rule as the minhash sibling's shingling)
    val cells = vecs.select(col("__id"),
      explode(graft.functions.VectorExprs.topCells(col("__v"), ids, mat, eff))
        .as("centroid_id"),
      col("__v")).forkMaterialize()
    // within-batch keep-one: cells-confined pairs, exact cosine verify,
    // CC min-id — semdedupPairs' shape with the screen's FIXED centroids
    // (a per-batch refit would put batch and history in different cell
    // spaces). Vector-carrying fan-out rows: 25k-row per-task budget,
    // same as semdedupPairs.
    val (a, b) = fanoutSides(cells, Seq("centroid_id"),
      Seq(col("centroid_id"), col("__id").as("id_a"), col("__v").as("__va")),
      Seq(col("centroid_id"), col("__id").as("id_b"), col("__v").as("__vb")),
      parts = scaledParts(vecs, cells.count(), 25000L))
    val pairs = a.join(b.hint("shuffle_hash"), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(atLeast(Similarity.cosine(col("__va"), col("__vb")), threshold))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .forkMaterialize()
    val nPairs = pairs.count()
    val losers = connectedComponentsOn(pairs, nPairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    val h = adaptivePin(nPairs <= pairCeiling(incoming))
    val batchSurvivors = incoming.join(h(losers), Seq(idCol), "left_anti")
      .forkMaterialize()
    // history probe: survivors' probe cells against the persisted index.
    // The index is the LEFT/stream side and is joined on centroid_id
    // alone — bucketed state arrives with ZERO exchange
    // (TrackStreamSpec pins the executed plan); the batch-derived side
    // is the build. No self-exclusion: a replayed doc MUST match its
    // own ingested copy (same id, cosine ≈ 1) — that is the idempotence
    // contract, exactly as the digest/jaccard screens match their own
    // copies.
    val survCells = cells.join(
      batchSurvivors.select(col(idCol).as("__id")).hint("shuffle_hash"),
      Seq("__id"), "left_semi")
    val hits = cellIndex
      .select(col("centroid_id"), col("vec").as("__hv"))
      .join(survCells.hint("shuffle_hash"), Seq("centroid_id"))
      .filter(atLeast(Similarity.cosine(col("__v"), col("__hv")), threshold))
      .select(col("__id").as(idCol)).distinct()
    batchSurvivors.join(hits.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** [[semanticIncrementalAgainstCells]] with the quantizer fit and the
    * index derived in-query from `existing` — the convenience overload
    * for one-shot use (and the oracle gate's form); production ingestion
    * persists the centroids once and appends [[semanticCellIndex]] rows
    * per batch ([[graft.streaming.TrackStream
    * .semanticNearDupForeachBatchBucketed]]).
    */
  def semanticIncremental(incoming: DataFrame, existing: DataFrame,
                          vecCol: String, idCol: String,
                          threshold: Double, nCells: Int,
                          probeCells: Int = 2, indexAssign: Int = 1,
                          iters: Int = 3): DataFrame = {
    val cents = Similarity.ivfCentroids(existing, idCol, vecCol, nCells, iters)
    semanticIncrementalAgainstCells(incoming,
      semanticCellIndex(existing, vecCol, idCol, cents, indexAssign),
      cents, vecCol, idCol, threshold, probeCells)
  }

  /** [[semanticIncremental]] with `nCells` sized by [[planSemdedupCells]]
    * from the ACTUAL history — the family's `_auto` discipline: fixed
    * cells against a growing corpus is the quadratic trap (per-cell
    * population, and with it the probe's verify term, grows linearly —
    * the measured rule in docs/SCALING.md §5b). The sizing `count()`
    * rides [[sizingInput]], so a derived history is fork-materialized
    * once for sizing + index together, and `existing` should be sized
    * at the INGEST HORIZON when known (pass `nCells` explicitly via
    * [[semanticIncremental]] for that — a screen quantizer is fit once
    * and fixed, so the horizon, not the bootstrap corpus, is the n
    * that matters; see the streaming sink's scaladoc).
    */
  def semanticIncrementalAuto(incoming: DataFrame, existing: DataFrame,
                              vecCol: String, idCol: String,
                              threshold: Double,
                              probeCells: Int = 2, indexAssign: Int = 1,
                              iters: Int = 3): DataFrame = {
    val ex = sizingInput(existing)
    semanticIncremental(incoming, ex, vecCol, idCol, threshold,
      planSemdedupCells(math.max(1L, ex.count()), 0, probeCells, iters),
      probeCells, indexAssign, iters)
  }

  /** Duplicated-substring REMOVAL at k-token granularity — the transform
    * half of [[duplicatedSpanStats]] (Lee et al.'s ExactSubstr dedup):
    * every k-token span occurring ≥2 times corpus-wide keeps only its
    * canonical occurrence (the lexicographically smallest (id, start));
    * token positions covered by any non-canonical occurrence are cut and
    * the remaining tokens re-joined. Overlapping removals union, so a
    * canonical span's tokens can still be cut when a DIFFERENT span's
    * non-canonical occurrence covers them — the deterministic resolution
    * of the overlap ambiguity (documented, not incidental: any
    * occurrence-level choice has it; this one needs no second pass).
    * An exact-duplicate document keeps nothing (its every span is
    * non-canonical) — run document-level [[exactDedup]] first, as the
    * paper does.
    *
    * Scale shape: the span stream is one row per token position carrying
    * (64-bit hash, id, start) — text never shuffles. Canonical marking is
    * a partial-aggregatable min-struct per span hash + an adaptive
    * join-back of the Θ(distinct duplicated spans) canonical frame
    * (broadcast under the pair ceiling, streaming shuffle_hash above) —
    * NOT a row_number window, whose per-hash sort would serialize a hot
    * boilerplate span's whole occurrence stream onto one reducer;
    * removal positions explode ≤ k rows per non-canonical occurrence
    * (bounded by k × duplicated positions, not corpus size); the rebuild
    * is a per-doc position filter with collected removal sets, which are
    * bounded by document length.
    *
    * Output: (idCol, clean_text, n_kept, n_removed) for every input row.
    *
    * `preserveNewlines = true` rebuilds clean_text with the ORIGINAL line
    * structure: each kept token re-joins with " " inside its source line
    * and with the original "\n" run between lines (interior blank lines
    * survive; lines whose every token was cut become empty lines; lines
    * after the last kept token are dropped, mirroring the default mode's
    * trailing-whitespace collapse). Span HASHING is identical in both
    * modes — "\n" is whitespace to [[Text.tokens]], so the flattened
    * per-line token sequence is byte-equal to the default tokenization
    * and spans still cross line boundaries (Lee et al.'s ExactSubstr
    * operates on the flat token stream) — only the re-join differs. This
    * is what makes the span strip COMPOSABLE with the line-granularity
    * screens ([[stripDuplicatedLines]]): the default token re-join
    * collapses every document to one line, which turns a downstream line
    * screen into a no-op. Default false: the oracle gates pin the
    * original byte-exact rebuild.
    */
  def stripDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                           k: Int, preserveNewlines: Boolean = false): DataFrame = {
    require(k >= 1, s"span length k=$k")
    val toks =
      if (!preserveNewlines)
        df.select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__toks"))
      else
        // per-line tokens, flattened: __toks is byte-equal to the default
        // mode's token sequence; __lineIdx parallels it with each token's
        // 0-based source line for the line-aware re-join
        df.select(col(idCol).as("__id"),
            transform(split(col(textCol), "\n", -1), l => Text.tokens(l)).as("__tpl"))
          .select(col("__id"), flatten(col("__tpl")).as("__toks"),
            flatten(transform(col("__tpl"),
              (arr, li) => transform(arr, _ => li))).as("__lineIdx"))
    // checkpoint: the span stream feeds the canonical aggregate and the
    // attach join, and the adaptive count reads the materialized blocks
    val spans = toks.filter(size(col("__toks")) >= k)
      .select(col("__id"), explode(transform(
        sequence(lit(0), size(col("__toks")) - k),
        i => struct(i.cast(IntegerType).as("s"),
          xxhash64(array_join(slice(col("__toks"), i + 1, lit(k)), " ")).as("h")))).as("sp"))
      .select(col("__id"), col("sp.s").as("__s"), col("sp.h").as("__h"))
      .forkMaterialize()
    // canonical = min (id, start) per DUPLICATED span, via a
    // partial-aggregatable min-struct — NOT a row_number window, whose
    // per-hash sort serializes a hot boilerplate span's entire occurrence
    // stream onto one reducer (hot spans are this op's target workload).
    // The frame is Θ(distinct duplicated spans): adaptive attach —
    // broadcast below the pair ceiling (the span stream never shuffles),
    // pinned streaming shuffle_hash above.
    val dupCanon = spans.groupBy("__h").agg(
        count(lit(1)).as("__c"),
        min(struct(col("__id"), col("__s"))).as("__first"))
      .filter(col("__c") >= 2)
      .select(col("__h"), col("__first"))
      .forkMaterialize()
    val h = adaptivePin(dupCanon.count() <= pairCeiling(df))
    val nonCanon = spans.join(h(dupCanon), Seq("__h"))
      .filter(col("__id") =!= col("__first.__id") ||
        col("__s") =!= col("__first.__s"))
    // collect_set deduplicates overlapping spans' positions itself — a
    // distinct() here would add a second full shuffle of the position
    // stream (k rows per non-canonical occurrence, the op's largest)
    val removed = nonCanon
      .select(col("__id"),
        explode(sequence(col("__s"), col("__s") + lit(k - 1))).as("__pos"))
      .groupBy("__id").agg(collect_set(col("__pos")).as("__rm"))
    // shuffle_hash: the removal-set frame is Θ(docs with duplication) —
    // corpus-order, never a driver broadcast
    //
    // Rebuild via array_except over the position sequence, NOT a
    // per-position array_contains membership test: array_except hashes
    // its right argument once (O(tokens + removed)), while
    // filter(toks, (_, i) => !array_contains(rm, i)) scans the removal
    // set per token — O(tokens × removed), quadratic in doc length for
    // the heavily-duplicated long documents this op targets (~10^10
    // comparisons on a mostly-duplicated 100k-token doc). Kept positions
    // come back in original order, and get() is O(1) per element.
    val rebuilt =
      if (!preserveNewlines)
        array_join(transform(col("__kept"), p => get(col("__toks"), p)), " ")
      else {
        // line-aware re-join: the separator BEFORE kept token j is the
        // leading "\n" run for the first piece (preserving blank lines
        // before the first kept token), " " within a line, and the
        // original-height "\n" run across lines. Pieces are built by a
        // positional transform (get() is O(1)), then one array_join —
        // linear in kept tokens, never a string-accumulator fold
        // (quadratic in document length).
        def li(j: Column) = get(col("__lineIdx"), get(col("__kept"), j))
        val nl = (n: Column) => array_join(array_repeat(lit("\n"), n), "")
        val pieces = transform(sequence(lit(0), size(col("__kept")) - 1), j =>
          concat(
            when(j === 0, nl(li(j)))
              .otherwise(when(li(j) === li(j - 1), lit(" "))
                .otherwise(nl(li(j) - li(j - 1)))),
            get(col("__toks"), get(col("__kept"), j))))
        when(size(col("__kept")) === 0, lit(""))
          .otherwise(array_join(pieces, ""))
      }
    toks.join(removed.hint("shuffle_hash"), Seq("__id"), "left")
      .withColumn("__rmset", coalesce(col("__rm"), array().cast(ArrayType(IntegerType))))
      .withColumn("__kept",
        when(size(col("__toks")) === 0, array().cast(ArrayType(IntegerType)))
          .otherwise(array_except(
            sequence(lit(0), size(col("__toks")) - 1), col("__rmset"))))
      .select(col("__id").as(idCol),
        rebuilt.as("clean_text"),
        (size(col("__toks")) - size(col("__rmset"))).cast(LongType).as("n_kept"),
        size(col("__rmset")).cast(LongType).as("n_removed"))
  }

  /** The exploded line frame shared by the line-granularity screens:
    * one row per (id, 0-based line position, line), lines split on
    * '\n' with trailing empties preserved, plus the 64-bit hash of the
    * NORMALIZED line — null for lines that normalize to empty (blank
    * lines are layout, not content: they never count as duplicated).
    */
  private def lineFrame(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = Text.normalize(col("__line"))
    df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .withColumn("__h", when(length(norm) > 0, xxhash64(norm)))
  }

  /** Line-granularity duplication screen — the CCNet/RefinedWeb
    * paragraph-dedup diagnostic: for every input row, how many of its
    * non-blank lines (normalized) occur at least `minOccurs` times
    * corpus-wide, over all (doc, position) occurrences. Boilerplate
    * headers/footers/nav text repeat at LINE granularity across
    * otherwise-distinct pages — document-level dedup never sees them,
    * and the k-token span screen ([[duplicatedSpanStats]]) dilutes them
    * across span windows; this is the screen that measures them
    * directly. Returns one row per input row:
    * (idCol, n_lines, n_dup_lines, dup_line_fraction), n_lines counting
    * non-blank lines only.
    *
    * Scale shape: one shuffle row per non-blank LINE — (64-bit hash,
    * id) — line text never shuffles; per-doc totals partial-aggregate
    * directly, and the Θ(distinct duplicated lines) set attaches via an
    * adaptive left_semi — the [[duplicatedSpanStats]] discipline at
    * coarser granularity.
    */
  def duplicatedLineStats(df: DataFrame, textCol: String, idCol: String,
                          minOccurs: Long = 2L): DataFrame = {
    require(minOccurs >= 2, s"minOccurs=$minOccurs (< 2 marks every line)")
    // the exploded line stream feeds two aggregates (total + dup counts);
    // checkpoint so the split/normalize/hash pipeline runs once, and so
    // the adaptive count below is metadata-cheap
    val lines = lineFrame(df, textCol, idCol).filter(col("__h").isNotNull)
      .forkMaterialize()
    // total per doc: direct partial aggregate — no join at all
    val perDocTotal = lines.groupBy("__id").agg(count(lit(1)).as("n_lines"))
    // the duplicated-line SET is Θ(distinct duplicated lines) — far
    // smaller than the corpus; its count is cheap (derived from the
    // checkpointed stream), and below the pair ceiling the semi join
    // broadcasts, so the line stream never shuffles. Above it: pinned
    // shuffle_hash — a hot boilerplate hash is processed by a streaming
    // probe, not a sort.
    val dup = lines.groupBy("__h").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOccurs).select("__h")
      .forkMaterialize()
    val h = adaptivePin(dup.count() <= pairCeiling(df))
    val perDocDup = lines.join(h(dup), Seq("__h"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_dup_lines"))
    // per-doc frames are corpus-sized (one row per doc): always pinned
    val perDoc = perDocTotal.join(perDocDup.hint("shuffle_hash"), Seq("__id"), "left")
    df.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"))
      .withColumn("dup_line_fraction",
        when(col("n_lines") > 0,
          col("n_dup_lines").cast(DoubleType) / col("n_lines"))
          .otherwise(lit(0.0)))
  }

  /** Keep-first line-level dedup — the removal half of the CCNet
    * paragraph screen: every non-blank line keeps exactly its FIRST
    * corpus occurrence (global (doc_id, position) order) and loses the
    * rest; blank lines and line order are preserved. Returns one row
    * per input row: (idCol, clean_text, n_lines [total split segments],
    * n_removed_lines).
    *
    * Scale shape: canonical marking is a partial-aggregatable min-struct
    * per line hash — NOT a row_number window, which would sort every
    * occurrence of a hash in ONE partition (a boilerplate line in half
    * the corpus is exactly the op's target workload, and its occurrence
    * stream must not serialize onto one reducer). The aggregate crushes
    * hot hashes map-side to one row per (hash, map partition); the
    * canonical frame is Θ(distinct duplicated lines) and joins back
    * adaptively (broadcast below the pair ceiling — the line stream then
    * never shuffles — pinned streaming shuffle_hash above). The rebuild
    * is the same hashed array_except position filter as
    * [[stripDuplicatedSpans]] (O(lines + removed) per doc).
    */
  def stripDuplicatedLines(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val linesArr = df.select(col(idCol).as("__id"),
      split(col(textCol), "\n", -1).as("__lines"))
    val lines = lineFrame(df, textCol, idCol).filter(col("__h").isNotNull)
      .forkMaterialize()
    // first corpus occurrence per DUPLICATED line, in (id, pos) order —
    // min over a (id, pos) struct is order-equivalent and partial-aggregates
    val dupCanon = lines.groupBy("__h").agg(
        count(lit(1)).as("__c"),
        min(struct(col("__id"), col("__pos"))).as("__first"))
      .filter(col("__c") >= 2)
      .select(col("__h"), col("__first"))
      .forkMaterialize()
    val h = adaptivePin(dupCanon.count() <= pairCeiling(df))
    val removed = lines.join(h(dupCanon), Seq("__h"))
      .filter(col("__id") =!= col("__first.__id") ||
        col("__pos") =!= col("__first.__pos"))
      .groupBy("__id")
      .agg(collect_set(col("__pos")).as("__rm"))
    // the removal-set frame is Θ(docs with duplicated lines) — NOT
    // bounded by the dupCanon count that sized `h` (one hot footer
    // shared corpus-wide = tiny dupCanon, corpus-sized removed), so it
    // is unconditionally pinned. Rebuild via the hashed array_except
    // position filter (see stripDuplicatedSpans for why not
    // per-position array_contains).
    linesArr.join(removed.hint("shuffle_hash"), Seq("__id"), "left")
      .withColumn("__rmset", coalesce(col("__rm"), array().cast(ArrayType(IntegerType))))
      .withColumn("__kept",
        array_except(sequence(lit(0), size(col("__lines")) - 1), col("__rmset")))
      .select(col("__id").as(idCol),
        array_join(transform(col("__kept"), p => get(col("__lines"), p)), "\n")
          .as("clean_text"),
        size(col("__lines")).cast(LongType).as("n_lines"),
        size(col("__rmset")).cast(LongType).as("n_removed_lines"))
  }

  /** N-gram (word-shingle) Jaccard near-dup pairs via an inverted index:
    * explode distinct shingles → self-join on shingle → count common →
    * Jaccard = common / (|A| + |B| - common) ≥ `threshold`.
    *
    * Emits (idA, idB, jaccard) with idA < idB. `maxShingleDocFreq` drops
    * stop-shingles from the index (a shingle in >N docs generates N² join
    * rows — the classic skew bomb at scale); 0 disables the cutoff, which
    * keeps results exactly equal to the all-pairs definition.
    *
    * `prefixFilter = true` routes through [[ngramJaccardPairsPrefix]] —
    * still exactly equal to the all-pairs definition, but the self-join is
    * cut by the PPJoin-style prefix bound (rare shingles only on one side).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        maxShingleDocFreq: Long = 0L,
                        prefixFilter: Boolean = false): DataFrame = {
    if (prefixFilter)
      return ngramJaccardPairsPrefix(df, textCol, idCol, n, threshold,
        maxShingleDocFreq)
    val shingled = wordShingled(df, textCol, idCol, n)
      .withColumn("__size", size(col("__sh")))
    // index on 64-bit shingle hashes, not the strings: long join keys keep
    // the self-join shuffle ~5× smaller (collisions across the shingle
    // universe are ~|U|²/2⁶⁴ — immaterial). Eager checkpoint: BOTH sides of
    // the self-join read the index, so without it the whole tokenize→
    // shingle→explode pipeline runs twice (measured 0.5 s/pass at sf0.1 —
    // and the regex tokenizer dominates the query).
    val index0 = shingled
      .select(col("__id"), col("__size"),
        explode(transform(col("__sh"), s => xxhash64(s))).as("__s"))
      .forkMaterialize()
    // adaptive broadcast (see the ceiling scaladoc): index0 is checkpointed
    // so the occurrence count is metadata-cheap; a small corpus gets the
    // broadcast plan, a big one keeps the pinned shape below
    val indexRows = index0.count()
    val small = indexRows <= shingleCeiling(df)
    val index =
      if (maxShingleDocFreq <= 0) index0
      else {
        val hot = index0.groupBy("__s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDocFreq).select("__s")
        // The stop-shingle exclusion side holds ≤ Σdf/maxShingleDocFreq
        // rows — small on curated corpora, but corpus-dependent: on a
        // 100 TB crawl it can outgrow a driver broadcast. So it follows
        // the same ceiling as every other index-derived side: planner's
        // choice below, shuffle_hash pin above. The above-ceiling
        // checkpoint keeps the fan-out REPARTITION_BY_NUM from being
        // pruned as redundant against the anti-join's output
        // partitioning (see winnowCopyPairs) and runs the doc-frequency
        // aggregate once, not once per self-join side.
        val capped = index0.join(adaptivePin(small)(hot), Seq("__s"), "left_anti")
        if (small) capped else capped.forkMaterialize()
      }
    val h = adaptivePin(small)
    // fixed-width index rows; scaledParts bounds the per-task shuffled-hash
    // build as the corpus grows (see the scaledParts scaladoc)
    val (a, b) = fanoutSides(index, Seq("__s"),
      Seq(col("__s"), col("__id").as("id_a"), col("__size").as("__na")),
      Seq(col("__s"), col("__id").as("id_b"), col("__size").as("__nb")),
      pin = !small,
      parts = if (small) -1 else scaledParts(df, indexRows, 250000L))
    // Above the ceiling: shuffle_hash, NOT broadcast — Catalyst's static
    // size estimate of a Generate-exploded frame is far below its real
    // size, so the planner would broadcast the entire index — a
    // single-threaded 260k-row (at sf0.1) hashed-relation build on the
    // driver, measured 3 s vs 0.5 s for the distributed per-partition
    // build; at real scale the broadcast would simply OOM the driver.
    // Hash beats sort-merge here because the index is unsorted and
    // per-key groups are small (doc-frequency-bounded).
    a.join(h(b), Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      // PPJoin length filter (round 18): J ≥ t forces min/max ≥ t, so a
      // size-incompatible pair can never survive the jaccard filter
      // below — dropping it HERE removes its rows from the common-count
      // aggregation's shuffle. Division form for float-safety (see the
      // prefix path's note: the rounded min/max is an upper bound of
      // the rounded c/(na+nb−c), so nothing the final filter keeps is
      // dropped).
      .filter(least(col("__na"), col("__nb")).cast(DoubleType) /
        greatest(col("__na"), col("__nb")).cast(DoubleType) >= lit(threshold))
      .groupBy("id_a", "id_b", "__na", "__nb")
      .agg(count(lit(1)).as("__common"))
      .withColumn("jaccard",
        col("__common").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__common")))
      .filter(atLeast(col("jaccard"), threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard pairs with PPJoin-style prefix filtering (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.
    * PPJoin): shingles are globally ordered by document frequency
    * (rarest first); each doc indexes only its first
    * `|d| - ceil(t*|d|) + 1` shingles. Candidates come from a PREFIX ×
    * PREFIX self-join (round 18; formerly full × prefix) — complete
    * because J(A,B) ≥ t forces the smallest common shingle into BOTH
    * prefixes (the in-line proof at the candidate join). Hot
    * stop-shingles sit at the END of the df-order and thus almost never
    * in a prefix — the df² skew bomb deflates to df_prefix² without any
    * lossy cutoff.
    * Verification computes exact Jaccard on the full shingle sets, so the
    * output is identical to the all-pairs definition (equality-tested
    * against the plain index in DedupSpec).
    *
    * WHEN TO USE: this pays 3 extra index shuffles (df count, df join,
    * per-doc regroup) to deflate hot-shingle skew. Measured at sf0.1 on
    * the synthetic corpus (no hot shingles): 2.7× SLOWER than the plain
    * index — so the plain path stays the default; switch this on when
    * shingle document frequencies are heavy-tailed (web-crawl boilerplate),
    * where the plain index's df² term explodes and this stays linear.
    *
    * Every join here is shuffle_hash by design: the df attach, the
    * candidate join's full-index side, and both verify joins all carry
    * Θ(corpus)- or Θ(vocab)-sized frames whose undersized static
    * estimates the planner would otherwise driver-broadcast. At toy
    * scale (a few thousand docs) those broadcasts happen to be cheap and
    * forbidding them costs ~2× on candidate-dense corpora — the price of
    * a plan that cannot OOM the driver at real corpus scale
    * (plan-shape-tested in DedupSpec).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
                              n: Int, threshold: Double,
                              maxShingleDocFreq: Long = 0L): DataFrame = {
    // shingled feeds four consumers (df count, prefix regroup, both verify
    // joins): eager localCheckpoint materializes it once and — unlike a bare
    // persist, which nothing here could ever unpersist (the result is lazy)
    // — its blocks are reclaimed by the ContextCleaner once the returned
    // frame is dropped, so long-lived sessions don't accumulate cache.
    // HASH + SORT ONCE (round 18, guide §2.3/§4): the checkpoint carries
    // the per-doc SORTED xxhash64 shingle array (`__shs`), not the string
    // shingles — every downstream consumer (the exploded index, the df
    // attach, the prefix regroup, BOTH verify sides) operates on the hash
    // multiset, so the strings never need to survive the fork. This
    // removes two array_sort(transform(xxhash64)) re-derivations (one per
    // verify side), one explode-side transform, and shrinks the
    // checkpointed bytes to 8 B/shingle — at sf100's DISK_ONLY checkpoint
    // level that mass is written to disk, so the cut is IO, not just CPU.
    // Value-identical: explode order never matters (dfreq counts, prefix
    // re-sorts by (df, hash)), and the verify kernel consumed sorted hash
    // arrays already.
    val shingled = wordShingled(df, textCol, idCol, n)
      .select(col("__id"), size(col("__sh")).as("__size"),
        array_sort(transform(col("__sh"), s => xxhash64(s))).as("__shs"))
      .forkMaterialize()
    // adaptive broadcast (see the ceiling scaladoc): the checkpointed
    // shingled frame makes the occurrence count cheap; below the ceiling
    // the five joins of this path drop their pins and the planner's
    // broadcast plan wins ~3× at gate scale, above it every corpus-sized
    // side stays shuffle_hash-pinned. One agg serves both the ceiling
    // test here and the verify-side partition scaling below.
    val occ = shingled.agg(coalesce(sum(col("__size")), lit(0L)))
      .head().getLong(0)
    val small = occ <= shingleCeiling(df)
    val h = adaptivePin(small)
    val hashes0 = shingled
      .select(col("__id"), col("__size"), explode(col("__shs")).as("__s"))
    val dfreq = hashes0.groupBy("__s").agg(count(lit(1)).as("__df"))
    // Optional lossy cutoff, same contract as the plain path's
    // maxShingleDocFreq: drop corpus-wide stop-shingles from the INDEX.
    // The prefix bound alone deflates hot shingles only when prefixes are
    // short (high threshold); at low thresholds (prefix ≈ 0.8·|d|) a
    // boilerplate tail shared by every document still floods the
    // candidate join — and when the boilerplate makes short docs GENUINE
    // near-dups, the true pair list itself is corpus²-shaped and a cutoff
    // is the only sub-quadratic option. Unlike the plain path (which
    // undercounts jaccard for dropped shingles), verification here runs
    // on the FULL shingle sets, so emitted jaccard values stay exact —
    // only pairs connected SOLELY through dropped shingles are missed.
    val hashes =
      if (maxShingleDocFreq <= 0) hashes0
      else hashes0.join(
        broadcast(dfreq.filter(col("__df") > maxShingleDocFreq).select("__s")),
        Seq("__s"), "left_anti")
    // per-doc shingles sorted by (global df asc, hash asc); prefix length
    // |d| - ceil(t*|d|) + 1 (struct sort: array_sort on (df, s) structs).
    // shuffle_hash on the df attach: dfreq is SHINGLE-VOCABULARY-sized —
    // the same cardinality class as the index itself (it grows with the
    // corpus under Heaps' law) — so the planner's broadcast pick here is
    // the same driver-OOM-at-scale trap as the verify joins below
    val prefix = hashes.join(h(dfreq), Seq("__s"))
      .groupBy("__id", "__size")
      .agg(array_sort(collect_list(struct(col("__df"), col("__s")))).as("__ds"))
      .withColumn("__plen",
        (col("__size") - ceil(lit(threshold) * col("__size")) + 1).cast("int"))
      .select(col("__id"), col("__size").as("__szp"),
        explode(transform(slice(col("__ds"), lit(1), col("__plen")), x => x.getField("__s")))
          .as("__s"))
    // same AQE fan-out-blindness guard as fanoutSides: pin the candidate
    // join's parallelism (full × prefix on the shingle hash) — skipped
    // below the ceiling, where the broadcast plan has no fan-out shuffle
    val pinned: DataFrame => DataFrame =
      if (small) identity
      else {
        val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        _.repartition(parts, col("__s"))
      }
    // PREFIX × PREFIX candidates (round 18, guide §2.3/§3 — replaces
    // the FULL × PREFIX join): the prefix-filtering principle holds on
    // BOTH sides (PPJoin Lemma 1), so the candidate join's big side
    // shrinks from every shingle occurrence (occ rows) to the prefix
    // postings (≈ (1−t)·occ + |docs|), and a moderately-hot shingle's
    // flood deflates from df_full × df_prefix to df_prefix².
    // COMPLETENESS under the multiset semantics this kernel verifies
    // (arrays keep duplicate shingles): let J(A,B) ≥ t and c be the
    // SMALLEST common value under the global (df, hash) order. If c
    // were absent from prefix(A), every prefix entry would be a value
    // < c — strictly below every common value — so ALL of A's common
    // occurrences would sit among the ⌈t·|A|⌉ − 1 suffix slots, giving
    // |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ t·|A∪B| ≤ |A∩B| — contradiction
    // (|A∪B| ≥ |A| because |A∩B| ≤ |B|). Hence c ∈ prefix(A) and, by
    // the same argument, c ∈ prefix(B): the join on __s finds every
    // qualifying pair through c, in both orientations — `<` keeps one.
    // Both sides read ONE pinned prefix frame, so above the ceiling a
    // single repartition exchange feeds the join twice (ReuseExchange);
    // shuffle_hash on the right side for the usual anti-broadcast
    // reason (a Generate-fed frame's static size estimate).
    // PPJoin LENGTH FILTER (round 18, guide §2.3): J(A,B) ≥ t forces
    // min(|A|,|B|)/max(|A|,|B|) ≥ t (the intersection is at most the
    // smaller set, the union at least the larger), so size-incompatible
    // candidates are dropped BEFORE the distinct and the verify joins —
    // they could never pass exact verification, so the pair list is
    // identical; what changes is the volume the distinct shuffles and
    // the verify arrays attach to.
    // FLOAT DISCIPLINE: the test is the DIVISION form min/max ≥ t, not
    // min ≥ t·max — IEEE division rounds monotonically, so
    // c/(na+nb−c) ≤ min/max as reals implies the same for the rounded
    // doubles, and any pair the exact jaccard filter would keep passes
    // here too; the multiplication form can round t·max up past an
    // exactly-at-threshold pair and drop it (e.g. |A|=9 ⊆ |B|=45 at
    // t=0.2).
    val pp = pinned(prefix)
    val candidates = pp
      .select(col("__s"), col("__id").as("__ida"), col("__szp").as("__sza"))
      .join(h(pp.select(col("__s"), col("__id").as("__idb"),
        col("__szp").as("__szb"))), Seq("__s"))
      .filter(col("__ida") < col("__idb"))
      .filter(least(col("__sza"), col("__szb")).cast(DoubleType) /
        greatest(col("__sza"), col("__szb")).cast(DoubleType) >= lit(threshold))
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
      .distinct()
    // shuffle_hash above the ceiling: same anti-broadcast reasoning as
    // minhashLshPairs' verify joins — never ship the whole corpus'
    // shingle arrays. Verification runs the sorted-merge Jaccard kernel
    // over once-per-document-sorted xxhash64 arrays — same two scale
    // bounds as the minhash verify (hashed 8 B elements + occurrence-
    // scaled partitioning keep the non-spilling shuffled-hash build flat
    // in corpus size; value-identical up to within-pair 64-bit
    // collisions, the odds this path's candidate index already accepts).
    val vParts =
      if (small) -1
      else scaledParts(df, occ, 500000L)
    def verifySide(renamedId: String, renamedSh: String): DataFrame = {
      // `__shs` is already the sorted hash array — a pure rename
      val s = shingled.select(col("__id").as(renamedId),
        col("__shs").as(renamedSh))
      if (small) s else pinFanoutN(s, vParts, col(renamedId))
    }
    val withA = candidates.join(h(verifySide("id_a", "__sha")), Seq("id_a"))
    val withB = withA.join(h(verifySide("id_b", "__shb")), Seq("id_b"))
    withB
      .withColumn("jaccard",
        graft.functions.HashExprs.jaccardSortedLong(col("__sha"), col("__shb")))
      .filter(atLeast(col("jaccard"), threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id, word-n-gram shingles) frame with the token array materialized in
    * its own projection — CollapseProject leaves it alone (multiple refs),
    * so the shingle lambdas slice an attribute instead of re-running the
    * tokenizer per shingle (see Text.wordShingles scaladoc).
    */
  def wordShingled(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("__id"), Text.wordShinglesFromTokens(col("__toks"), n).as("__sh"))

  /** MinHash signature as an array column: for permutation i,
    * min over shingles s of xxhash64(s, i). Evaluated by the fused
    * [[graft.functions.HashExprs.MinHashSig]] expression (one eval/row);
    * DedupSpec property-tests it against the equivalent HOF form over
    * Spark builtins.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.HashExprs.minhashSig(shingles, numHashes)

  /** MinHash + LSH banding near-dup candidate pairs, verified with exact
    * shingle Jaccard. `bands` × `rowsPerBand` hashes; two docs collide if
    * any band signature matches (P[collide] = 1-(1-j^r)^b). Candidates are
    * generated per band bucket (never all-pairs), deduped across bands,
    * then verified by joining back the shingle sets.
    * Emits (id_a, id_b, jaccard) with jaccard ≥ `threshold`, idA < idB.
    *
    * Documents are represented as word n-gram shingles — char shingles on
    * a small-vocabulary corpus push background Jaccard so high that every
    * pair collides in some band, degenerating LSH to all-pairs.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    // the tokenize→shingle pipeline feeds three consumers (signatures +
    // both verify joins) — eager localCheckpoint runs the regex work once,
    // and its blocks are ContextCleaner-reclaimable when the frame drops
    // (a bare persist here is never unpersisted: the result is lazy).
    // HASH + SORT ONCE (round 18, guide §2.3/§4): like the prefix-join
    // kernel, the checkpoint carries the per-doc SORTED xxhash64 shingle
    // array, not the strings — the signature folds from the base hashes
    // ([[graft.functions.HashExprs.MinHashSigFromHashes]], bit-parity-
    // pinned against MinHashSig(strings) in HashExprsSpec: min is
    // order-blind) and both verify sides read the array as-is, so the
    // string shingles never survive the fork and the verify re-hash/
    // re-sort passes disappear. 8 B/shingle checkpoint bytes — at
    // sf100's DISK_ONLY level this mass hits the disk.
    val shingled = wordShingled(df, textCol, idCol, n)
      .select(col("__id"), size(col("__sh")).as("__size"),
        array_sort(transform(col("__sh"), s => xxhash64(s))).as("__shs"))
      .forkMaterialize()
    // adaptive broadcast (see the ceiling scaladoc): checkpointed frame →
    // cheap occurrence count; small corpora broadcast, big ones stay pinned
    val occ = shingled.agg(coalesce(sum(col("__size")), lit(0L)))
      .head().getLong(0)
    val small = occ <= shingleCeiling(df)
    val h = adaptivePin(small)
    val sig = shingled.withColumn("__sig",
      graft.functions.HashExprs.minhashSigFromHashes(col("__shs"),
        bands * rowsPerBand))
    // one row per (band, bucket-hash-of-r-minhashes, id). Eager checkpoint:
    // both self-join sides read this frame, and recomputing it means a
    // second full MinHash pass (bands×rowsPerBand hashes over every
    // shingle — the dominant cost of the whole query).
    val banded = sig.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>")), b)))
        .as(Seq("__band", "__bucket")))
      .forkMaterialize()
    // band-join build mass = docs × bands fixed-width rows; checkpointed,
    // so the count is metadata-cheap. scaledParts bounds the per-task
    // shuffled-hash build no matter the corpus size.
    val bandParts = if (small) -1 else scaledParts(df, banded.count(), 250000L)
    val (l, r) = fanoutSides(banded, Seq("__band", "__bucket"),
      Seq(col("__band"), col("__bucket"), col("__id").as("id_a")),
      Seq(col("__band"), col("__bucket"), col("__id").as("id_b")),
      pin = !small, parts = bandParts)
    // shuffle_hash above the ceiling, for the same reason as
    // ngramJaccardPairs: the static estimate of an exploded frame
    // undersizes it and the planner would build a driver-side broadcast
    // of the whole banded index
    val candidates = l.join(h(r), Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact verification on the candidate set only. shuffle_hash on the
    // shingled side above the ceiling: its checkpoint stats come from the
    // PRE-explosion scan estimate, so the planner would BROADCAST the
    // entire corpus' shingle arrays — a single-threaded driver-side
    // HashedRelation build of the whole dataset, twice (observed at sf1),
    // and a guaranteed driver OOM at real scale. A hash join partitioned
    // on id keeps both sides distributed; candidates are id-uniform so
    // there is no skew.
    // verify via the sorted-merge Jaccard expression: shingle arrays are
    // sorted ONCE per document on the (checkpointed) join sides, then
    // each candidate pair is a zero-allocation merge scan — the builtin
    // array_intersect/array_union pair built a per-candidate hash set
    // whose throughput proved JIT-profile-hostage at sf30 (7 s vs 120 s
    // across identical runs; see VectorExprs.TopCells for the same
    // disease in the centroid assign)
    // The verify build sides are the heaviest rows in the query — and a
    // shuffled-hash build does not spill, so at corpus scale their
    // per-task footprint is the first thing to OOM (the sf100 memory
    // smoke killed exactly this join at the session-fixed partition
    // count). Two bounds keep it flat in corpus size: (1) verify on
    // xxhash64 SHINGLE HASHES, not strings — 8 B/element, ~7× less
    // shuffle and build mass, value-identical up to 64-bit collisions
    // WITHIN a compared pair (the same odds the candidate index already
    // accepts); (2) above the ceiling, repartition each side to a count
    // scaled by total occurrences, bounding the per-task build at ~500k
    // elements whatever the corpus size (see scaledParts).
    val sortedShingles = shingled.select(col("__id"), col("__shs").as("__sh"))
    val vParts = if (small) -1 else scaledParts(df, occ, 500000L)
    def verifySide(renamedId: String, renamedSh: String): DataFrame = {
      val s = sortedShingles.withColumnRenamed("__id", renamedId)
        .withColumnRenamed("__sh", renamedSh)
      if (small) s else pinFanoutN(s, vParts, col(renamedId))
    }
    val withA = candidates.join(h(verifySide("id_a", "__sha")), Seq("id_a"))
    val withB = withA.join(h(verifySide("id_b", "__shb")), Seq("id_b"))
    withB.withColumn("jaccard",
        graft.functions.HashExprs.jaccardSortedLong(col("__sha"), col("__shb")))
      .filter(atLeast(col("jaccard"), threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-dup pair list. Returns (id, label)
    * for every vertex that appears in `pairs`; the label is the cluster's
    * minimum id.
    *
    * Large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds
    * regardless of graph shape, the planet-scale guarantee when a near-dup
    * graph hides a long chain (e.g. documents A≈B≈C≈… drifting gradually).
    * DedupSpec checks it equal to iterative min-label propagation (O(diameter)
    * rounds) on chain, star and random graphs. Each round:
    *
    *   - LARGE-STAR: for every vertex u (symmetric neighborhoods), link
    *     each strictly-larger neighbor v to m = min(N(u) ∪ {u}).
    *   - SMALL-STAR: direct edges to (larger, smaller); for every vertex u,
    *     link u and each smaller neighbor to m = min of the group.
    *
    * Both steps preserve connectivity and never raise a vertex's minimum
    * reachable label; the fixpoint is one star per component centered at
    * the component minimum, reached in O(log n) rounds (vs O(diameter)
    * for label propagation — the difference between 2 and ~40 shuffle
    * rounds on a million-document drift chain). Convergence test: since
    * every edge keeps the (larger u, smaller v) invariant, the set is a
    * min-centered star forest iff each u carries exactly one edge AND no
    * vertex appears on both sides (a u with two distinct v's, or a v that
    * is some other edge's u, both witness an uncontracted path) — two
    * short-circuited isEmpty probes per round, cheaper than diffing
    * successive label frames. Lineage is cut per round with an eager
    * localCheckpoint (plans would otherwise grow exponentially).
    */
  // CC round joins use the shared pair ceiling ([[PairCeilingKey]],
  // default 1M): every round frame is bounded by 2×pairs rows of two
  // longs, so below the ceiling the biggest possible broadcast is ~tens
  // of MB — safe — and letting the planner broadcast saves ~5 shuffles ×
  // rounds on the tiny graphs typical after near-dup verification. Above
  // it the round joins are shuffle_hash-pinned (the frames are
  // Θ(dup-graph vertices) — corpus-scale on a 30-50%-dup crawl — and
  // their post-checkpoint size estimates are unreliable). The pair frame
  // is eagerly checkpointed, so the deciding count() is metadata-cheap.

  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Materialize the incoming pair frame ONCE before fanning out into
    // verts + edges: `pairs` is typically the expensive end of a near-dup
    // candidate+verify join, and the two eager checkpoints below would
    // otherwise each re-run that whole plan (measured: the composed
    // curation pipeline spent 2× its pair-generation time right here).
    val p0 = pairs.select(col("id_a"), col("id_b")).forkMaterialize()
    connectedComponentsOn(p0, p0.count(), maxIter)
  }

  /** [[connectedComponentsStar]] over a pair frame the CALLER has already
    * materialized and counted (round 18): every keep-one site in this
    * file checkpoints its pair list (the adaptive-broadcast decision
    * needs the count anyway), so the public entry's fork + count here
    * re-wrote identical blocks and re-ran an identical count — two
    * wasted jobs per keep-one, and at sf100's DISK_ONLY checkpoint level
    * the duplicate fork wrote the whole pair list to disk twice.
    * Caller contract: `p0` is exactly (id_a, id_b), eagerly materialized;
    * `nPairs` its row count.
    */
  private[graft] def connectedComponentsOn(p0: DataFrame, nPairs: Long,
                                           maxIter: Int = 25): DataFrame = {
    // One-aggregation star-forest test (round 18; was one groupBy probe
    // PLUS a short-circuited self-semi-join probe — two jobs per round
    // on the non-converged path's final round, and the semi join
    // shuffles the edge frame a second time at scale). The directed
    // edge set is a min-centered star forest iff no u carries two edges
    // (du > 1) and no vertex appears on both sides (du ≥ 1 ∧ tot > du);
    // one union + groupBy witnesses both in a single pass over 2×edges
    // skinny rows. Same boolean, so iteration counts — and therefore
    // results — are unchanged (DedupSpec's CC equality suite pins it).
    def notStarForest(e: DataFrame): Boolean =
      !e.select(col("u").as("__k"), lit(1L).as("__c"))
        .union(e.select(col("v").as("__k"), lit(0L).as("__c")))
        .groupBy("__k").agg(sum(col("__c")).as("__du"), count(lit(1)).as("__t"))
        .filter(col("__du") > 1 || (col("__du") >= 1 && col("__t") > col("__du")))
        .isEmpty
    // small graphs: let the planner broadcast the round frames; big
    // graphs: pin every round join to shuffle_hash (see the pair-ceiling
    // note above)
    val h = adaptivePin(nPairs <= pairCeiling(p0))
    val verts = p0.select(col("id_a").as("id"))
      .union(p0.select(col("id_b").as("id")))
      .distinct()
    // canonical (larger u, smaller v), self-loops dropped
    var edges = p0
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .lineageCut()
    var iter = 0
    while (notStarForest(edges) && iter < maxIter) {
      // large-star over symmetric neighborhoods: m(u) = min(u, min N(u))
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("__m"))
      // emitted (v, m) has v > u >= m, so it is already (larger, smaller)
      val large = sym.join(h(largeMin), Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on the directed form: every group member links to its min
      val smallMin = large.groupBy("u").agg(min("v").as("__m"))
      val small = large.join(h(smallMin), Seq("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .union(smallMin.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .lineageCut()
      edges = small
      iter += 1
    }
    // star forest: leaves point at the center; centers label themselves.
    // (groupBy-min instead of distinct so a maxIter bailout still yields
    // one row per vertex, like label propagation's cap.)
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .groupBy("id").agg(min("label").as("label"))
    verts.join(labels.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Keep-one-per-near-dup-cluster: documents whose id is not the minimum
    * of its cluster are dropped (isolated documents always survive).
    */
  def nearDupSurvivors(df: DataFrame, textCol: String, idCol: String,
                       n: Int, threshold: Double,
                       prefixFilter: Boolean = false,
                       maxShingleDocFreq: Long = 0L): DataFrame = {
    // checkpoint the pair list ONCE: the adaptive decision below counts
    // it, and connectedComponentsOn consumes these blocks directly
    // (round 18: the public CC entry used to fork + count AGAIN — two
    // redundant jobs per keep-one)
    val pairs = ngramJaccardPairs(df, textCol, idCol, n, threshold,
      maxShingleDocFreq = maxShingleDocFreq, prefixFilter = prefixFilter)
      .select("id_a", "id_b").forkMaterialize()
    val nPairs = pairs.count()
    val losers = connectedComponentsOn(pairs, nPairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    // losers is bounded by 2×pairs rows of one long each, so the pair
    // ceiling applies: broadcast below it, shuffle_hash above — losers is
    // Θ(duplicate docs) on a dup-heavy corpus (web crawls run 30-50%
    // near-dup), corpus-scale, and must never be a driver-side broadcast
    // at real scale
    val h = adaptivePin(nPairs <= pairCeiling(df))
    df.join(h(losers), Seq(idCol), "left_anti")
  }

  /** Keep-one for the edit-distance family ([[editDistancePairs]] →
    * connected components → drop non-minimum cluster members) — the
    * [[nearDupSurvivors]] composition at character granularity: collapse
    * typo/OCR/slug variant clusters to their minimum id. Same ceiling
    * discipline for the loser anti-join.
    */
  def editDistanceSurvivors(df: DataFrame, strCol: String, idCol: String,
                            maxDist: Int = 2, q: Int = 3): DataFrame = {
    val pairs = editDistancePairs(df, strCol, idCol, maxDist, q)
      .select("id_a", "id_b").forkMaterialize()
    val nPairs = pairs.count()
    val losers = connectedComponentsOn(pairs, nPairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    val h = adaptivePin(nPairs <= pairCeiling(df))
    df.join(h(losers), Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: bit j of the output is 1 iff
    * the sum over tokens of sign(bit j of xxhash64(token)) is positive.
    * Pure expressions: per-bit vote via aggregate HOF.
    */
  def simhash64(textCol: Column): Column =
    graft.functions.HashExprs.simhash64(Text.tokens(textCol))

  /** [[simhash64]] variant whose per-token 64-bit hash is the first 16
    * hex digits of md5 (bytes 0-7 big-endian). md5 is the one
    * 64-bit-capable hash Spark and DuckDB both expose with identical
    * semantics, so THIS variant's pair list is fully SQL-oracle-able
    * (the `q_dedup_simhash` gate). Same fused one-eval-per-row
    * expression as the xxhash64 form — see
    * [[graft.functions.HashExprs.SimHash64]] for why the HOF shape is
    * 60× slower here.
    */
  def simhash64Md5(textCol: Column): Column =
    graft.functions.HashExprs.simhash64(Text.tokens(textCol), "md5")

  /** Bit ranges `(offset, width)` splitting a 64-bit word into `numChunks`
    * disjoint, covering, NON-EMPTY chunks: chunk i spans
    * `[i*64/numChunks, (i+1)*64/numChunks)`. Floor division distributes the
    * remainder evenly (widths differ by at most 1), so every chunk is
    * non-empty for any `numChunks ≤ 64` — unlike ceil-width packing, whose
    * tail chunks collapse to zero width (numChunks ∈ {9,17}) or, combined
    * with Java's mod-64 shifts, become wide overlapping pseudo-chunks
    * (numChunks ∈ {12,14,15}), silently breaking the pigeonhole guarantee.
    * Exposed for the DedupSpec disjoint/cover/non-empty property test.
    */
  private[ops] def chunkBounds(numChunks: Int): Seq[(Int, Int)] =
    (0 until numChunks).map { ci =>
      val off = ci * 64 / numChunks
      (off, (ci + 1) * 64 / numChunks - off)
    }

  /** SimHash near-dup pairs: bucket by `maxHamming + 1` disjoint bit
    * chunks (pigeonhole — a pair differing in ≤ maxHamming bits has all
    * its differences in at most maxHamming chunks, so at least one chunk
    * matches exactly), verify with exact `bit_count(xor)`. The chunk count
    * is DERIVED from maxHamming and the 64 bits are distributed evenly
    * across chunks (see [[chunkBounds]]), so candidate generation is
    * recall-complete for every requested radius (maxHamming=3 gives the
    * classic 4×16-bit split); wider radii mean more/narrower chunks →
    * bigger buckets, the inherent LSH recall/cost trade.
    * Emits (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming.
    *
    * `tokenHash` picks the per-token hash feeding the bit votes:
    * `"xxhash64"` (default — the fused codegen'd expression, the scale
    * path) or `"md5"` ([[simhash64Md5]] — cross-engine reproducible, the
    * oracle-gated path; same bucketing, same completeness guarantee).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int, tokenHash: String = "xxhash64"): DataFrame = {
    val sigExpr = tokenHash match {
      case "xxhash64" => simhash64(col(textCol))
      case "md5"      => simhash64Md5(col(textCol))
      case other => throw new IllegalArgumentException(
        s"unknown simhash token hash '$other' (xxhash64 | md5)")
    }
    hammingPairs(df.select(col(idCol), sigExpr.as("__sig")), "__sig", idCol, maxHamming)
  }

  /** Hamming-radius pairs over PRECOMPUTED 64-bit signatures — the
    * chunk-pigeonhole core of [[simhashPairs]], exposed for any other
    * 64-bit perceptual signature (e.g. image dHash from
    * graft.ops.Multimodal.imageDHash). Same guarantee: candidate
    * generation is recall-complete for the requested radius, verify is
    * exact `bit_count(xor)`, never all-pairs. Null signatures
    * (undecodable payloads upstream) drop out of the pairing.
    * Emits (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming.
    */
  def hammingPairs(sigs: DataFrame, sigCol: String, idCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming=$maxHamming: beyond 16 the ${maxHamming + 1} chunks degenerate " +
        "(<4-bit buckets collide constantly); use minhash/ngram dedup instead")
    val chunkExprs = chunkBounds(maxHamming + 1).map { case (off, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      shiftright(col("__h"), off).bitwiseAND(lit(mask))
    }
    val hashed = sigs
      .filter(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).cast(LongType).as("__h"))
    // checkpoint: both self-join sides read the chunked frame; recomputing
    // it re-runs the upstream signature (e.g. the 64-bit-vote simhash
    // over every token of the corpus) twice
    val chunked = hashed.select(col("__id"), col("__h"),
      posexplode(array(chunkExprs: _*)).as(Seq("__chunk", "__ckey")))
      .forkMaterialize()
    // adaptive broadcast (see the ceiling scaladoc): chunked rows are
    // fixed-width (4 numeric cols), so the pair ceiling applies
    val chunkRows = chunked.count()
    val small = chunkRows <= pairCeiling(sigs)
    val (l, r) = fanoutSides(chunked, Seq("__chunk", "__ckey"),
      Seq(col("__chunk"), col("__ckey"), col("__id").as("id_a"), col("__h").as("__ha")),
      Seq(col("__chunk"), col("__ckey"), col("__id").as("id_b"), col("__h").as("__hb")),
      pin = !small,
      parts = if (small) -1 else scaledParts(sigs, chunkRows, 250000L))
    l.join(adaptivePin(small)(r), Seq("__chunk", "__ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .distinct()
      .filter(coalesce(col("hamming") <= maxHamming, lit(false)))
  }

  /** Embedding-cosine near-dup pairs. Candidates via OR-amplified
    * hyperplane-LSH when `lshBits > 0` (scale path): `lshTables`
    * independent plane families, a pair is a candidate if it collides in
    * ANY table — P[candidate] = 1-(1-p^bits)^tables for per-plane
    * agreement p = 1-θ/π, so recall amplifies with tables where a single
    * signature (tables=1) finds almost nothing at moderate thresholds
    * (p^8 ≈ 3% at cosine 0.45). `lshBits <= 0` is the exact all-pairs
    * small-scale/oracle path. Both verify with exact cosine ≥ threshold.
    * Emits (id_a, id_b, cosine).
    */
  def cosineDupPairs(df: DataFrame, vecCol: String, idCol: String,
                     threshold: Double, lshBits: Int = 0,
                     lshTables: Int = 8,
                     planeHash: String = "xxhash64"): DataFrame = {
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    def verified(candidates: DataFrame): DataFrame = candidates
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(atLeast(col("cosine"), threshold))
      .select(col("id_a"), col("id_b"), col("cosine"))
    if (lshBits <= 0) {
      val a = vecs.select(col("__id").as("id_a"), col("__v").as("__va"))
      val b = vecs.select(col("__id").as("id_b"), col("__v").as("__vb"))
      verified(a.crossJoin(b).filter(col("id_a") < col("id_b")))
    } else {
      // One row per (table, bucket, id, vec); table t uses plane family
      // [t*bits, (t+1)*bits) so signatures are independent. Checkpoint:
      // both self-join sides read it, and recomputing means a second
      // lshTables×lshBits hyperplane-projection pass over every vector.
      //
      // The bucketed frame CARRIES the vector so the self-join verifies
      // cosine inside the join stage. The previous shape — emit candidate
      // id pairs, distinct() them, then re-attach both vectors with two
      // more joins — shuffled the full candidate stream three times; the
      // candidate stream is the quadratic-in-bucket-size object (n·s/2
      // rows per table, ~200M at 20k vectors with 4-bit buckets), and at
      // sf1 those shuffles were a 157 s wall. Verifying in-pipeline keeps
      // the candidates inside one whole-stage-codegen span (probe hash
      // table -> dot product -> threshold filter) and only the few
      // surviving pairs — bounded by the true near-dup count — are
      // shuffled, by the final distinct that collapses multi-table
      // collisions. Duplicate occurrences cost a redundant dot product
      // each but never touch disk or network; cosine is computed by the
      // identical expression on identical inputs, so distinct over
      // (id_a, id_b, cosine) collapses them exactly.
      val bucketed = vecs.select(col("__id"), col("__v"),
        posexplode(array((0 until lshTables).map(t =>
          Similarity.hyperplaneBucket(col("__v"), lshBits, t * lshBits, planeHash)): _*))
          .as(Seq("__table", "__bkt")))
        .forkMaterialize()
      // fanoutSides: this join explodes ~1000× (200M candidates from a
      // 170 MB input at 20k vectors); without the pinned repartition AQE
      // coalesced it to 4 tasks — 57 s on 4 threads while 28 cores idled.
      // Rows CARRY the embedding (the heaviest row class in the module),
      // so the per-task shuffled-hash build budget is 25k rows (~25 MB
      // at 128 double dims) — see scaledParts for why a fixed count OOMs
      // at corpus scale.
      val (a, b) = fanoutSides(bucketed, Seq("__table", "__bkt"),
        Seq(col("__table"), col("__bkt"), col("__id").as("id_a"), col("__v").as("__va")),
        Seq(col("__table"), col("__bkt"), col("__id").as("id_b"), col("__v").as("__vb")),
        parts = scaledParts(vecs, bucketed.count(), 25000L))
      verified(
        a.join(b.hint("shuffle_hash"), Seq("__table", "__bkt"))
          .filter(col("id_a") < col("id_b")))
        .distinct()
    }
  }

  /** [[cosineDupPairs]] with (bits, tables) sized by [[planCosineLsh]]
    * from the ACTUAL corpus size — the entry point to reach for when n is
    * not known up front. Fixed bits at a growing corpus is the quadratic
    * trap (bucket occupancy n/2^bits makes the verify stream Θ(n²/2^bits);
    * measured 8.5× time on 3× data at sf30 with bits pinned at 4); this
    * overload pays one sizing `count()` to size the buckets instead
    * (derived inputs are fork-materialized first — see [[sizingInput]]).
    * Callers that already know n should call [[planCosineLsh]] once and
    * pass explicit params.
    */
  def cosineDupPairsAuto(df: DataFrame, vecCol: String, idCol: String,
                         threshold: Double, targetRecall: Double = 0.9,
                         targetBucketSize: Int = 100, maxTables: Int = 16,
                         planeHash: String = "xxhash64"): DataFrame = {
    val in = sizingInput(df)
    val plan = planCosineLsh(in.count(), threshold, targetRecall,
      targetBucketSize, maxTables)
    cosineDupPairs(in, vecCol, idCol, threshold, plan.bits, plan.tables, planeHash)
  }

  /** Cell-count planning for [[semdedupPairs]] at a given corpus size.
    * Two quadratic traps bracket the choice: FIXED cells make the
    * within-cell pair stream Σ|cell|²/2 ≈ nAssign²·n²/(2·nCells)
    * quadratic, while cells LINEAR in n (holding cell population
    * constant) make the centroid ASSIGNMENT stream n × nCells quadratic
    * instead — at 60k vectors a linear-cells plan spent 44× more on
    * assignment than on pairs (measured). The balanced optimum for flat
    * k-means sets cell population s* where assignment and pair work
    * match: iters·n·(nAssign·n/s) = nAssign²·n·s/2 ⇒ s* =
    * √(2·iters·n/nAssign) — cells ∝ √n, total work ∝ n^1.5 (the flat-
    * assignment floor; sub-n^1.5 needs hierarchical assignment, which is
    * a different operator). `targetCellSize > 0` overrides s* for
    * callers that know their regime.
    */
  def planSemdedupCells(n: Long, targetCellSize: Int = 0,
                        nAssign: Int = 2, iters: Int = 3): Int = {
    require(n > 0 && targetCellSize >= 0, s"n=$n targetCellSize=$targetCellSize")
    val s =
      if (targetCellSize > 0) targetCellSize.toDouble
      else math.max(16.0, math.sqrt(2.0 * iters * n / nAssign))
    math.max(1, math.ceil(n.toDouble * nAssign / s).toInt)
  }

  /** Clustered semantic dedup ("SemDeDup", Abbas et al. 2023): assign
    * every embedding to its `nAssign` nearest IVF centroid cells, then
    * emit pairs sharing any cell with cosine ≥ `threshold`. Versus
    * [[cosineDupPairs]]' hyperplane LSH, cells ADAPT to the corpus
    * distribution (dense regions get split where fixed hyperplanes
    * wouldn't). The paper assigns each vector to exactly one cluster and
    * accepts boundary misses; `nAssign = 2` (soft assignment, the
    * multi-probe idea transplanted to clustering) recovers boundary
    * pairs for 2× candidate volume. Know the regime: near-identical
    * embeddings (cosine ≳ 0.9 — the paper's semantic duplicates) share a
    * nearest centroid almost surely, so recall there is ≈ 1 (gated in
    * DedupSpec on planted duplicates); at MODERATE thresholds (~0.45,
    * ~63° apart) clustered candidates recall poorly by construction
    * (measured 0.43 hard / 0.57 soft on the test corpus) and
    * [[cosineDupPairs]]' OR-amplified LSH is the right tool.
    *
    * Scale shape: centroids collect to the driver and ride into the
    * plan as a referenced matrix (nCells × dim doubles — planner-sized
    * ∝ √n, the same object the pre-r10 formulation broadcast; beyond
    * ~10⁵ cells shard the assignment). The top-`nAssign` assignment is
    * ONE [[graft.functions.VectorExprs.TopCells]] evaluation per vector
    * — a tight JVM loop, n output rows, nothing n × nCells ever
    * materialized (the crossJoin + peeled max-struct formulation it
    * replaced survives as [[assignCellsJoin]] for the parity spec).
    * The within-cell self-join shuffles on the cell id with the same
    * pinned fan-out + shuffle-hash discipline as every candidate join
    * here. A pathologically hot cell is the quadratic object; at corpus
    * scale cap cell population by raising `nCells` (the paper's
    * cluster-size cap plays the same role).
    */
  def semdedupPairs(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, nCells: Int,
                    nAssign: Int = 2, iters: Int = 3): DataFrame = {
    require(nCells >= 1, s"nCells=$nCells must be >= 1")
    require(nAssign >= 1 && nAssign <= 4, s"nAssign=$nAssign out of [1,4]")
    require(nAssign <= nCells,
      s"nAssign=$nAssign > nCells=$nCells: a vector cannot take more " +
        "distinct cells than exist")
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val cents = Similarity.ivfCentroids(df, idCol, vecCol, nCells, iters)
    // Assign via the native [[graft.functions.VectorExprs.TopCells]]
    // expression: centroids collect to the driver (they are √n-sized by
    // the planner — the same object the previous formulation BROADCAST,
    // so no new memory class) and ride into the plan as a referenced
    // matrix; each vector's best-k cells are one tight JVM loop. The
    // n × nCells crossJoin+max-struct peel this replaces pushed ~930M
    // rows through join/aggregate machinery at sf30 and its throughput
    // proved hostage to JIT profile state (19 s vs 483 s across
    // identical runs, clean calibration brackets both times); ordering
    // semantics are bit-identical — (cosine desc, centroid_id asc),
    // uncomputable cosines ranked last — and DedupSpec pins this
    // against the retained join formulation on the real corpus.
    val centRows = cents
      .select(col("centroid_id").cast("long"), col("centroid").cast("array<double>"))
      .collect()
    val ids = centRows.map(_.getLong(0))
    val mat = centRows.map(_.getSeq[Double](1).toArray)
    // ivfCentroids can return FEWER centroids than requested (empty
    // clusters drop); cap the assign depth at the realized count
    val effAssign = math.min(nAssign, ids.length)
    if (effAssign == 0) // empty corpus → no cells, no pairs
      return vecs.limit(0).select(col("__id").as("id_a"), col("__id").as("id_b"),
        lit(null).cast("double").as("cosine"))
    val cells = vecs.select(col("__id"),
      explode(graft.functions.VectorExprs.topCells(col("__v"), ids, mat, effAssign))
        .as("centroid_id"),
      col("__v")).forkMaterialize()
    // vector-carrying rows: 25k-row per-task build budget, same as the
    // LSH fan-out above (see scaledParts)
    val (a, b) = fanoutSides(cells, Seq("centroid_id"),
      Seq(col("centroid_id"), col("__id").as("id_a"), col("__v").as("__va")),
      Seq(col("centroid_id"), col("__id").as("id_b"), col("__v").as("__vb")),
      parts = scaledParts(vecs, cells.count(), 25000L))
    a.join(b.hint("shuffle_hash"), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(atLeast(col("cosine"), threshold))
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** [[semdedupPairs]] with nCells sized by [[planSemdedupCells]] from
    * the ACTUAL corpus size — the default balances the two quadratic
    * traps (fixed cells ⇒ n² pairs; linear cells ⇒ n² assignment) at the
    * flat-k-means optimum, cells ∝ √n. Pays one sizing `count()` that
    * EXECUTES the upstream plan of `df` (metadata-cheap on a raw scan, a
    * full lineage replay on a derived frame — cache or localCheckpoint
    * `df` first); callers that know n should call [[planSemdedupCells]]
    * directly.
    */
  /** The crossJoin + peel-argmax formulation of the SemDeDup/IVF cell
    * assignment, retained as the reference twin for
    * [[graft.functions.VectorExprs.TopCells]] (DedupSpec asserts set
    * equality on the real corpus — same contract as the hash/vector
    * expressions vs their HOF forms). Pass m re-scores with the m−1
    * already-chosen cells excluded; each pass's max-struct agg
    * partial-aggregates map-side, so only n rows per pass reach the
    * shuffle. Output: (__id, centroid_id, __v), one row per assignment.
    */
  private[ops] def assignCellsJoin(vecs: DataFrame, cents: DataFrame,
                                   effAssign: Int): DataFrame = {
    val scored = vecs.crossJoin(broadcast(cents))
      .withColumn("__cos", Similarity.cosine(col("__v"), col("centroid")))
    var chosen = vecs.select(col("__id"))
    val parts = Seq.newBuilder[DataFrame]
    for (m <- 1 to effAssign) {
      val prior = (1 until m).map(i => col(s"__c$i"))
      // checkpoint each pass: `best` feeds BOTH the cells union and the
      // next pass's exclusion list — unmaterialized, pass m's full
      // score+aggregate subtree would re-execute inside every later pass
      val best = scored.join(chosen.hint("shuffle_hash"), Seq("__id"))
        .filter(prior.foldLeft(lit(true))((p, c) => p && col("centroid_id") =!= c))
        .groupBy("__id")
        .agg(max(struct(col("__cos"), (-col("centroid_id")).as("__nid"),
          col("centroid_id"), col("__v"))).as("__best"))
        .select(col("__id"), col("__best.centroid_id").as(s"__c$m"),
          col("__best.__v").as("__v"))
        .lineageCut()
      parts += best.select(col("__id"), col(s"__c$m").as("centroid_id"), col("__v"))
      chosen = chosen.join(
        best.select(col("__id"), col(s"__c$m")).hint("shuffle_hash"), Seq("__id"))
    }
    parts.result().reduce(_ unionByName _)
  }

  def semdedupPairsAuto(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, targetCellSize: Int = 0,
                        nAssign: Int = 2, iters: Int = 3): DataFrame = {
    val in = sizingInput(df)
    val nCells = planSemdedupCells(in.count(), targetCellSize, nAssign, iters)
    semdedupPairs(in, vecCol, idCol, threshold, nCells, nAssign, iters)
  }

  /** Copy-detection pair screen over winnowing fingerprints
    * ([[Text.winnowingFingerprints]]): document pairs sharing at least
    * `minShared` distinct fingerprints, with the winnowing guarantee that
    * any verbatim overlap of ≥ w+k−1 chars contributes at least one — the
    * plagiarism/citation-overlap shape MinHash (whole-document
    * similarity) and ExactSubstr (fixed k-token granularity) both miss.
    *
    * Scale shape: the inverted index carries (fingerprint, id) longs
    * only; `maxFpDocFreq` drops boilerplate fingerprints (a fingerprint
    * in >maxFpDocFreq docs is chrome, not copying — and it is the
    * candidate-blowup term, Σ df² — so the cap is both precision and the
    * quadratic guard); the self-join inherits the counted
    * adaptive-broadcast ceilings and the AQE-exempt fan-out pinning every
    * other candidate join uses. Emits (id_a, id_b, shared_fps), id_a <
    * id_b.
    */
  def winnowCopyPairs(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 5, w: Int = 4, minShared: Int = 2,
                      maxFpDocFreq: Long = 64L): DataFrame = {
    require(minShared >= 1 && maxFpDocFreq >= 2,
      s"minShared=$minShared maxFpDocFreq=$maxFpDocFreq out of range")
    // positions dropped: the pair screen keys on WHICH fingerprints are
    // shared, not where. Checkpoint: the index feeds the doc-freq count
    // and both self-join sides — unmaterialized, the whole winnowing
    // kernel would run three times.
    val index0 = Text.winnowingFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fingerprint").as("__fp"))
      .distinct()
      .forkMaterialize()
    val small = index0.count() <= shingleCeiling(df)
    val hot = index0.groupBy("__fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxFpDocFreq).select("__fp")
    // The hot-fingerprint exclusion side holds ≤ Σdf/maxFpDocFreq rows —
    // bounded, but corpus-dependent: on a 100 TB crawl the capped-df tail
    // can outgrow a driver broadcast. No forced broadcast hint; below the
    // shingle ceiling the planner is free to broadcast it, above it the
    // side stays shuffle_hash-pinned like every other index-derived side.
    val index1 = index0.join(adaptivePin(small)(hot), Seq("__fp"), "left_anti")
    // Above the ceiling the shuffled anti-join's output arrives
    // partitioned on __fp, which EnsureRequirements treats as already
    // satisfying the fan-out pin and PRUNES the REPARTITION_BY_NUM —
    // feeding the pair self-join from AQE-coalescible
    // ENSURE_REQUIREMENTS exchanges, the exact serialization hazard the
    // pin exists to prevent (coalescing is blind to join fan-out).
    // Checkpointing the capped index resets the advertised partitioning
    // so the pin survives — and runs the doc-frequency aggregate once
    // instead of once per self-join side.
    val index = if (small) index1 else index1.forkMaterialize()
    val h = adaptivePin(small)
    // fixed-width (fp, id) rows; the checkpointed count is metadata-cheap
    // and bounds the per-task shuffled-hash build (see scaledParts)
    val (a, b) = fanoutSides(index, Seq("__fp"),
      Seq(col("__fp"), col("__id").as("id_a")),
      Seq(col("__fp"), col("__id").as("id_b")),
      pin = !small,
      parts = if (small) -1 else scaledParts(df, index.count(), 250000L))
    a.join(h(b), Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(coalesce(col("shared_fps") >= minShared, lit(false)))
  }

  /** Bounded edit-distance near-dup pairs: every unordered pair of rows
    * whose strings are within Levenshtein distance `maxDist` — the fuzzy
    * record-matching family member (typo'd titles, OCR'd lines, URL
    * slugs) the token-level families can't see: one character edit
    * changes q whole shingles, so a Jaccard threshold high enough to be
    * meaningful misses a 1-edit pair on short strings entirely.
    *
    * Never all-pairs (the 100 TB contract), via two complete, disjoint
    * candidate routes split at `lmin = q·(maxDist+1)` chars:
    *
    *   - LONG strings (len ≥ lmin) go through an Ed-Join-style
    *     RARITY-PREFIX q-gram index (Xiao/Wang/Lin, "Ed-Join", VLDB'08;
    *     gram count filtering per Gravano et al., VLDB'01): grams order
    *     globally by document frequency (rarest first) and each doc
    *     indexes only its first maxDist·q + 1 DISTINCT grams in that
    *     order. Complete by pigeonhole: one edit destroys at most q
    *     positional grams, so maxDist edits leave at most maxDist·q
    *     DISTINCT grams of either side absent from the other — and the
    *     candidates come from a PREFIX × PREFIX self-join (round 18,
    *     formerly full × prefix): the globally smallest common gram
    *     provably sits in BOTH dq+1-prefixes (in-line proof at the
    *     join — the same smallest-common-element argument as
    *     [[ngramJaccardPairsPrefix]]). The len ≥ lmin floor guarantees
    *     ≥ dq+1 positional grams exist, so a common gram always
    *     survives and the pigeonhole is never vacuous. Candidates
    *     verify with
    *     Spark's banded `levenshtein(a, b, maxDist)` — O(maxDist·len)
    *     per pair, not O(len²). The rarity order is also the skew
    *     defense: corpus-wide boilerplate ("http://www.", a shared
    *     template head) has maximal df, sorts LAST, and never enters any
    *     doc's prefix — measured 11 s → 3 s on the gate's planted corpus
    *     (every long string shares a constant 4-char head whose grams
    *     hit df≈corpus) with zero recall loss, where a plain positional
    *     inverted index needs a LOSSY hot-gram cutoff to survive the
    *     same shape.
    *   - SHORT strings dedup to DISTINCT VALUES first: micro-strings
    *     draw from a vocabulary (ids, codes, tokens), so the value set
    *     is vocabulary-sized while the row set is corpus-sized. Distinct
    *     shorts × distinct near-shorts (len < lmin + maxDist — the
    *     boundary longs a short can reach within the length band) join
    *     all-pairs AT THE VALUE LEVEL under the length filter, verify
    *     once per value pair, then expand back to id pairs through two
    *     equi-joins — the expansion is output-sized by definition.
    *
    * Both routes length-band first (|lenA − lenB| ≤ maxDist is necessary
    * for ed ≤ maxDist). EXACT: output equals the all-pairs definition —
    * no lossy cutoffs (the rarity prefix makes ngramJaccard-style
    * doc-frequency caps unnecessary here).
    * Emits (id_a, id_b, dist) with id_a < id_b over non-null strings.
    */
  def editDistancePairs(df: DataFrame, strCol: String, idCol: String,
                        maxDist: Int = 2, q: Int = 3): DataFrame = {
    require(maxDist >= 1, s"maxDist=$maxDist must be >= 1 (use exactDedup for 0)")
    require(q >= 2, s"q=$q must be >= 2")
    val lmin = q * (maxDist + 1)
    // base feeds the gram index, both verify text-attaches, and the short
    // route — materialize once; (id, string, len) only, text never wider
    val base = df
      .filter(col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"),
        length(col(strCol)).as("__len"))
      .forkMaterialize()
    val baseRows = base.count()
    val smallCorpus = baseRows <= pairCeiling(df)
    val hc = adaptivePin(smallCorpus)
    // string-carrying verify attaches: above the ceiling, bound the
    // per-task shuffled-hash build by repartitioning the build side to a
    // row-mass-scaled count (see scaledParts)
    def attachSide(renamedId: String, renamedS: String): DataFrame = {
      val s = base.select(col("__id").as(renamedId), col("__s").as(renamedS))
      if (smallCorpus) s
      else pinFanoutN(s, scaledParts(df, baseRows, 250000L), col(renamedId))
    }

    // ---- long route: rarity-prefix index → full×prefix join → verify
    val longs = base.filter(col("__len") >= lmin)
    // distinct grams per doc (set semantics — the pigeonhole above is on
    // distinct grams); Θ(total chars) rows of two longs + an int
    val gset = longs.select(col("__id"), col("__len"),
      explode(array_distinct(transform(sequence(lit(0), col("__len") - q),
        i => xxhash64(col("__s").substr(i + lit(1), lit(q)))))).as("__g"))
      .forkMaterialize()
    val gsetRows = gset.count()
    val small = gsetRows <= shingleCeiling(df)
    val h = adaptivePin(small)
    // global gram rarity attach (Θ(index) ⋈ Θ(gram vocab), pinned above
    // the ceiling), then the dq+1 rarest per doc — row_number under a
    // WindowGroupLimit-prunable spec, deterministic (df, gram) tiebreak
    val dfreq = gset.groupBy("__g").agg(count(lit(1)).as("__df"))
    val wspec = Window.partitionBy("__id").orderBy(col("__df"), col("__g"))
    // PREFIX × PREFIX candidates (round 18, guide §2.3/§3 — formerly
    // full × prefix): the rarity-prefix principle holds on BOTH sides.
    // ed(x,y) ≤ d alters at most d·q positional grams of x, so at most
    // d·q DISTINCT grams of x are absent from y's gram set (an absent
    // gram needs EVERY occurrence altered) — and symmetrically. The
    // length floor gives ≥ d·q+1 positional grams, so at least one
    // survives intact: a common gram always exists. Let c be the
    // globally smallest (df, gram) common value. If c were outside
    // prefix(x), the prefix would be d·q+1 grams all rarer-ordered
    // below c — all non-common, i.e. d·q+1 grams of x absent from y:
    // contradiction (docs with ≤ d·q+1 distinct grams index them all,
    // so c is in trivially). Hence c sits in BOTH prefixes and the
    // self-join finds every qualifying pair in both orientations —
    // `<` keeps one. The join side shrinks from every distinct gram
    // occurrence (Θ(total chars)) to d·q+1 rows per doc, and hot
    // boilerplate grams (maximal df, sorted last) stay out of BOTH
    // sides instead of one.
    val prefix = gset.join(h(dfreq), Seq("__g"))
      .withColumn("__rn", row_number().over(wspec))
      .filter(col("__rn") <= maxDist * q + 1)
      .select(col("__g"), col("__id"), col("__len"))
    val sideA = prefix.select(col("__g"), col("__id").as("id_a"),
      col("__len").as("__la"))
    val sideB = prefix.select(col("__g"), col("__id").as("id_b"),
      col("__len").as("__lb"))
    val (fa, pb) =
      if (small) (sideA, sideB)
      else {
        // fixed-width gram rows; bound the per-task build (see scaledParts)
        val p = scaledParts(df, gsetRows, 250000L)
        (pinFanoutN(sideA, p, col("__g")), pinFanoutN(sideB, p, col("__g")))
      }
    val candLong = fa.join(h(pb), Seq("__g"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("id_a"), col("id_b"))
      .distinct()
    val longPairs = candLong
      .join(hc(attachSide("id_a", "__sa")), Seq("id_a"))
      .join(hc(attachSide("id_b", "__sb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast(IntegerType))

    // ---- short route: distinct-value all-pairs + output-sized expansion
    val dShort = base.filter(col("__len") < lmin)
      .select(col("__s").as("__v1"), col("__len").as("__l1")).distinct()
    val dNear = base.filter(col("__len") < lmin + maxDist)
      .select(col("__s").as("__v2"), col("__len").as("__l2")).distinct()
    // unordered-once condition: a (short, boundary-long) value pair only
    // ever materializes in this orientation (the long side is absent from
    // dShort); a (short, short) pair appears both ways — keep v1 <= v2
    val valPairs = dShort.join(dNear,
        abs(col("__l1") - col("__l2")) <= maxDist &&
          (col("__l2") >= lmin || col("__v1") <= col("__v2")))
      .withColumn("dist", levenshtein(col("__v1"), col("__v2"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    val shortPairs = valPairs
      .join(hc(base.select(col("__s").as("__v1"), col("__id").as("__ia"))), Seq("__v1"))
      .join(hc(base.select(col("__s").as("__v2"), col("__id").as("__ib"))), Seq("__v2"))
      // same-value pairs expand over one id set: order the ids; distinct
      // value pairs expand over disjoint id sets: orient with least/greatest
      .filter(col("__v1") =!= col("__v2") || col("__ia") < col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("dist").cast(IntegerType))

    longPairs.unionByName(shortPairs)
  }
}
