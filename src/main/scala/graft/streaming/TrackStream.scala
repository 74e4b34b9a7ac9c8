package graft.streaming

import graft.ops.Materialize.ForkOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming variant of the 10-minute track aggregation
  * (SURVEY.md O-STREAM; batch form at reference R/export.R:165-174).
  *
  * The reference is batch-only (cron every 2 days); the GPS-point stream
  * is the natural streaming candidate: event-time tumbling window +
  * watermark. Policy per SURVEY.md §7: 10-minute tumbling windows,
  * 1-hour watermark (late points beyond it dropped), update output mode.
  *
  * The SAME transform serves batch and streaming — pass a readStream
  * DataFrame and it plans an event-time stateful aggregation; pass a batch
  * frame and it's exactly the export aggregation.
  */
object TrackStream {

  /** points: (Trip, Time, Lat, Lng, ...) → per (Trip, 10-min window) mean
    * position + point count.
    */
  def aggregate(points: DataFrame,
                watermark: String = "1 hour",
                window10: String = "10 minutes"): DataFrame = {
    val withWm =
      if (points.isStreaming) points.withWatermark("Time", watermark) else points
    withWm
      .groupBy(col("Trip"), window(col("Time"), window10).as("w"))
      .agg(
        avg(col("Lat")).as("lat"),
        avg(col("Lng")).as("lon"),
        count(lit(1)).as("n_points"))
      .select(col("Trip"), col("w.start").as("time"), col("lat"), col("lon"), col("n_points"))
  }

  /** Gap-based trip sessionization: consecutive points of a device belong
    * to one session while the inter-point gap stays under `gap` — the
    * op that SEGMENTS a raw point stream into trips (the reference gets
    * trip boundaries from the PDS API; this derives them from points).
    * Same transform batch and streaming (`session_window` is stateful
    * under a watermark; batch twin oracled by q_session_window_gap).
    */
  def sessionize(points: DataFrame,
                 gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (points.isStreaming) points.withWatermark("Time", watermark) else points
    withWm
      .groupBy(col("Trip"), session_window(col("Time"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_points"),
        avg(col("Lat")).as("lat"),
        avg(col("Lng")).as("lon"))
      .select(col("Trip"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_points"), col("lat"), col("lon"))
  }

  /** Stream-stream time-bounded equi-join — the enrichment shape where
    * BOTH sides arrive continuously (e.g. a landings stream matched to a
    * tracker-event stream per device, or a crawl stream matched to a
    * fetch-log stream per URL): rows join when keys match and the right
    * event time falls within [left − lookback, left + lookahead].
    *
    * The time bound is what makes unbounded-state streaming joins
    * possible at all: with both sides watermarked AND the join condition
    * constraining the two event times, Spark derives a state watermark
    * per side and EVICTS buffered rows that can no longer match — state
    * is (input rate × (watermark + bound)) rather than the whole stream.
    * An unconstrained stream-stream inner join would buffer both streams
    * forever; this operator makes the constraint impossible to forget by
    * taking the bound as parameters and building the condition itself.
    *
    * Same transform batch and streaming (the batch twin is the identical
    * join expression, oracle-able as a plain range join); columns from
    * the right side are prefixed `r_` to keep the output schema
    * collision-free.
    */
  def intervalJoinStreamStream(left: DataFrame, right: DataFrame,
                               key: String, timeCol: String,
                               lookback: String = "10 minutes",
                               lookahead: String = "10 minutes",
                               watermark: String = "1 hour"): DataFrame = {
    val l =
      if (left.isStreaming) left.withWatermark(timeCol, watermark) else left
    val rRenamed = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c")
    }
    val r =
      if (rRenamed.isStreaming) rRenamed.withWatermark(s"r_$timeCol", watermark)
      else rRenamed
    l.join(r,
      col(key) === col(s"r_$key") &&
        col(s"r_$timeCol") >= col(timeCol) - expr(s"interval $lookback") &&
        col(s"r_$timeCol") <= col(timeCol) + expr(s"interval $lookahead"))
  }

  /** Streaming exact dedup — the crawl-ingestion screen as a continuous
    * query: keep the first arrival per normalized-content digest, drop
    * every later duplicate. State is the digest set, bounded by the
    * event-time watermark via `dropDuplicatesWithinWatermark`: two
    * arrivals of the same document within the watermark horizon dedup
    * exactly; beyond it the state has been reclaimed (the standard
    * bounded-state trade — a crawl's re-fetches cluster in time, and
    * history-scale dedup belongs to the batch
    * [[graft.ops.Dedup.exactDedupIncremental]] against the ingested
    * corpus).
    *
    * Same transform batch and streaming: the batch path keeps the
    * EARLIEST `timeCol` row per digest (matching the stream's
    * first-arrival semantics), with a content-keyed hash of the full row
    * breaking time ties — plain dropDuplicates would keep a
    * partition-order-dependent survivor, and its id/time columns would
    * then differ run to run, violating the repo's determinism contract.
    *
    * `timeCol` is the event-time column; output carries the input
    * columns plus the digest (so a downstream sink can build the
    * batch-side digest index from the same stream).
    */
  def dedupStream(docs: DataFrame, textCol: String, timeCol: String,
                  watermark: String = "1 hour"): DataFrame = {
    val withDigest = docs.withColumn("__digest",
      md5(graft.ops.Text.normalize(col(textCol))))
    if (docs.isStreaming)
      withDigest
        .withWatermark(timeCol, watermark)
        .dropDuplicatesWithinWatermark("__digest")
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("__digest"))
        .orderBy(col(timeCol).asc,
          xxhash64(struct(docs.columns.map(col): _*)).asc)
      withDigest
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** Read a parquet state table, distinguishing ABSENT (first batch /
    * pre-bootstrap — `None`) from FAILED (transient FS error, corrupt
    * footer — the read exception PROPAGATES, failing the micro-batch so
    * the source retries it). A broad catch here would silently
    * substitute an EMPTY history for a read failure, let every
    * historical duplicate in the batch pass as novel, and append the
    * divergence permanently — unrepairable and undetectable. A swap
    * that a crashed [[graft.sources.StageIO.replace]] left half done is
    * repaired first, so that window reads as the previous state, not as
    * ABSENT (which would restart a sketch from empty).
    */
  private def readState(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.StageIO.recover(fs, dir)) Some(spark.read.parquet(dir)) else None
  }

  /** History-scale incremental dedup as a `foreachBatch` sink — the
    * complement of [[dedupStream]]'s watermark-bounded screen: state is
    * UNBOUNDED history, held as the natural pair a production ingester
    * persists anyway — the appended corpus table (`historyDir`, parquet)
    * plus one Bloom filter over its digests (the cross-batch state the
    * bloom was designed to be: built once, `mergeInPlace`-updated with
    * each kept batch, persistable via `BloomFilter.writeTo`). Each
    * micro-batch runs [[graft.ops.Dedup.exactDedupIncrementalBloom]]
    * against them, appends its survivors to both, and hands them to
    * `sink`. A RE-PLAYED batch (crash-retry, at-least-once source)
    * appends and emits ZERO rows — every row bloom-hits and the exact
    * residue check confirms it against the corpus — which is what makes
    * retries idempotent at 100 TB.
    *
    * `expectedItems`/`fpp` size the state filter AND every per-batch
    * merge filter — `mergeInPlace` requires identical geometry, so they
    * are fixed for the query's lifetime (size for the corpus you expect
    * to ingest, not the corpus you have).
    *
    * CRASH-ORDERING INVARIANT: the kept digests are merged into `state`
    * BEFORE the parquet append. The bloom's only safety contract is "no
    * false negatives vs the corpus" — a bloom that is AHEAD of the
    * corpus (merge landed, append didn't) merely turns the replayed
    * rows into suspects that the exact residue check resolves against
    * the real corpus (they're absent → correctly re-emitted and
    * re-appended); a bloom BEHIND the corpus (append landed, merge
    * didn't) makes replayed rows bloom-miss, the all-novel
    * short-circuit skips the history check, and the batch is
    * re-emitted as duplicates.
    *
    * RESTART CONTRACT: `state` is in-memory; on process restart it must
    * be rebuilt from (or at minimum be a superset of) the persisted
    * corpus before the query resumes — [[bloomFromHistory]] does
    * exactly this. Resuming with a fresh empty filter silently breaks
    * the same no-false-negative invariant as the ordering above.
    */
  def bloomDedupForeachBatch(textCol: String, idCol: String,
                             historyDir: String,
                             state: org.apache.spark.util.sketch.BloomFilter,
                             expectedItems: Long, fpp: Double = 0.01,
                             sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    val history = readState(spark, historyDir)
      .getOrElse(batch.limit(0)) // first batch: no corpus yet
    // caller-owned broadcast (round 15, advisor item): one per
    // micro-batch is necessary (the filter mutates via mergeInPlace
    // below, so a cached broadcast would go stale and re-emit
    // duplicates) — but it must not OUTLIVE the batch: left to the
    // ContextCleaner, a long-running query pins one ~filter-sized block
    // per batch until GC happens to notice. The eager localCheckpoint
    // truncates the lineage, so nothing references the broadcast after
    // it and the destroy is safe; on a failed batch the destroy still
    // runs and the source retries.
    val bc = spark.sparkContext.broadcast(state)
    val kept =
      try graft.ops.Dedup.exactDedupIncrementalBloomBc(
        batch, history, textCol, idCol, bc).lineageCut()
      finally bc.destroy()
    // fold the kept digests into the state filter FIRST (same (n, fpp) ⇒
    // same geometry, so the merge is a bitset OR): bloom-ahead-of-corpus
    // is safe (false positives resolved by the exact residue check);
    // bloom-behind-corpus would re-emit a replayed batch as novel.
    state.mergeInPlace(graft.ops.Dedup.buildDigestBloom(
      kept, textCol, expectedItems = expectedItems, fpp = fpp))
    kept.write.mode("append").parquet(historyDir)
    sink(kept)
  }

  /** Rebuild [[bloomDedupForeachBatch]]'s state filter from the
    * persisted corpus — the RESTART step: call this before resuming the
    * query so the in-memory bloom is a superset of `historyDir`'s
    * digests (the no-false-negative invariant). Same (expectedItems,
    * fpp) as the running query, so per-batch merges keep identical
    * geometry. An empty/absent corpus yields an empty filter.
    */
  def bloomFromHistory(spark: org.apache.spark.sql.SparkSession,
                       historyDir: String, textCol: String,
                       expectedItems: Long, fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter = {
    val history = readState(spark, historyDir).getOrElse(
      return org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp))
    graft.ops.Dedup.buildDigestBloom(
      history, textCol, expectedItems = expectedItems, fpp = fpp)
  }

  /** The SEMANTIC sibling of [[bloomDedupForeachBatch]] /
    * [[nearDupForeachBatchBucketed]]: streaming benchmark decontamination as a
    * `foreachBatch` sink. State is the STATIC benchmark embedding set
    * (decontamination screens against a fixed eval suite, not against
    * ingested history — no cross-batch mutation at all), so unlike the
    * other two sinks there is no crash-ordering hazard: each micro-batch
    * runs [[graft.ops.Dedup.contaminatedIdsEmbedding]] against the
    * benchmark, drops every row whose embedding cosine-matches any
    * benchmark item at `threshold` (paraphrased contamination — the
    * n-gram screens can't see it), appends the clean rows to
    * `corpusDir`, and hands them to `sink`. A batch consisting entirely
    * of benchmark paraphrases emits zero rows.
    *
    * Exact mode broadcasts the benchmark into a nested-loop probe (the
    * plan DedupSpec asserts): right for benchmark suites that fit a
    * broadcast, i.e. almost all of them. For an outsized screening set,
    * pass `useLsh = true` to route through
    * [[graft.ops.Dedup.contaminatedIdsEmbeddingAuto]] — bucketed
    * candidates, planner-sized from the benchmark, recall-gated.
    *
    * Replay idempotence differs from the dedup sinks BY DESIGN: the
    * screen is stateless, so a replayed batch re-emits its clean rows
    * (and re-appends them — at-least-once, exactly like any
    * append-mode parquet sink); compose AFTER [[bloomDedupForeachBatch]]
    * (or under `dropDuplicatesWithinWatermark`) when exactly-once
    * survivors are required. Screens compose in any order; dedup-first
    * is cheaper (digest compare ≪ 64-dim cosine per row).
    */
  def semanticScreenForeachBatch(vecCol: String, idCol: String,
                                 benchmark: DataFrame,
                                 threshold: Double,
                                 corpusDir: String,
                                 useLsh: Boolean = false,
                                 sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val flagged =
      if (useLsh)
        graft.ops.Dedup.contaminatedIdsEmbeddingAuto(
          batch, benchmark, vecCol, idCol, threshold)
      else
        graft.ops.Dedup.contaminatedIdsEmbedding(
          batch, benchmark, vecCol, idCol, threshold)
    val kept = batch.join(flagged.select(col(idCol)), Seq(idCol), "left_anti")
      .lineageCut()
    kept.write.mode("append").parquet(corpusDir)
    sink(kept)
  }

  /** [[bloomDedupForeachBatch]]'s NEAR-dup sibling: incremental n-gram
    * Jaccard screening as a `foreachBatch` sink. Cross-batch state is
    * the appended corpus (`corpusDir`, parquet) plus the
    * [[graft.ops.Dedup.shingleIndex]] — one (id, n_shingles, 64-bit
    * shingle hash) row per distinct shingle occurrence — held as a
    * catalog table bucketed on `shingle`, the probe join's one key. Each
    * micro-batch clusters against itself, probes the index bipartite
    * (the history is never re-tokenized), appends its survivors' rows
    * AND shingles, and hands survivors to `sink`. The bucketed index
    * reaches the probe join with ZERO exchange, so the per-batch shuffle
    * stays batch-sized however large the history grows (TrackStreamSpec
    * pins the executed plan). A replayed batch emits zero rows — every
    * doc jaccard-1.0-matches its own ingested copy — so at-least-once
    * retries stay idempotent.
    *
    * RECOVERY CONTRACT: the corpus and index appends are two
    * non-atomic writes, corpus DELIBERATELY first — a crash between
    * them leaves index ⊆ corpus, which a restart repairs by rebuilding
    * the index from the corpus ([[shingleIndexFromCorpusBucketed]], also
    * the periodic compaction) before resuming; the replayed batch then
    * matches its own ingested copy and emits zero rows. The reverse
    * order would be unrepairable: an index ahead of the corpus makes the
    * replay emit zero rows for documents that were never persisted —
    * silent data loss. State is named by table, and each append adds one
    * file per non-empty bucket, as for
    * [[minhashNearDupForeachBatchBucketed]]; size `buckets` to the
    * probe's core budget (StageIO.saveBucketed's sizing rule).
    */
  def nearDupForeachBatchBucketed(textCol: String, idCol: String,
                                  corpusDir: String, indexTable: String,
                                  buckets: Int = 8,
                                  n: Int = 3, threshold: Double = 0.2,
                                  sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    val index =
      if (spark.catalog.tableExists(indexTable)) spark.table(indexTable)
      else graft.ops.Dedup.shingleIndex(batch.limit(0), textCol, idCol, n)
    val kept = graft.ops.Dedup.nearDupIncrementalAgainstIndex(
      batch, index, textCol, idCol, n, threshold).lineageCut()
    kept.write.mode("append").parquet(corpusDir)
    // append-bucketed with the identical spec, repartitioned to one
    // file per non-empty bucket per batch — same mechanics and
    // rationale as the minhash sibling's index appends
    import org.apache.spark.sql.functions.col
    graft.ops.Dedup.shingleIndex(kept, textCol, idCol, n)
      .repartition(buckets, col("shingle"))
      .write.mode("append")
      .bucketBy(buckets, "shingle").sortBy("shingle")
      .saveAsTable(indexTable)
    sink(kept)
  }

  /** Rebuild [[nearDupForeachBatchBucketed]]'s index table from the
    * persisted corpus — crash recovery AND the periodic compaction (an
    * overwrite collapses one-file-per-bucket-per-batch accumulation
    * back to `buckets` files). No-op if the corpus is absent.
    */
  def shingleIndexFromCorpusBucketed(spark: org.apache.spark.sql.SparkSession,
                                     corpusDir: String, indexTable: String,
                                     textCol: String, idCol: String,
                                     buckets: Int = 8, n: Int = 3): Unit = {
    val corpus = readState(spark, corpusDir).getOrElse(return)
    graft.sources.StageIO.saveBucketed(
      graft.ops.Dedup.shingleIndex(corpus, textCol, idCol, n),
      indexTable, "shingle", buckets)
  }

  /** The MINHASH-BANDED near-dup screen: the
    * [[graft.ops.Dedup.minhashIncrementalAgainstIndex]] screen as a
    * `foreachBatch` sink. Cross-batch state is the appended corpus plus
    * TWO catalog tables — the band index bucketed on (band, bucket) and
    * the per-doc hashed shingle sets bucketed on idCol — each growing by
    * appending the kept batch's own rows, so the history is never
    * re-tokenized OR re-signed. When to prefer this over the n-gram sink
    * is measured and documented on the batch operator (long-doc corpora
    * + large history). The buckets are the exact join keys, all of them,
    * per the requireAllClusterKeysForCoPartition contract
    * StageIO.saveBucketed documents, so the history scans arrive at
    * their joins with ZERO exchange and the per-batch shuffle stays
    * batch-sized however large the history grows (TrackStreamSpec pins
    * the executed plan, mirroring IncrementalIndexSpec's batch-side
    * assertion).
    *
    * Bucket metadata is catalog state, so state is named by TABLE, not
    * directory, and append-bucketed writes add one file per bucket per
    * batch — compact periodically ([[graft.sources.StageIO.compact]]
    * does not preserve bucketing; rebuild via
    * [[minhashIndexFromCorpusBucketed]] instead).
    *
    * RECOVERY CONTRACT: three non-atomic appends, corpus DELIBERATELY
    * first (same reasoning as [[nearDupForeachBatchBucketed]]) — any
    * crash window leaves index ⊆ corpus, repaired by rebuilding both
    * tables from the corpus via [[minhashIndexFromCorpusBucketed]]
    * before the query resumes. A replayed batch emits zero rows: every
    * doc collides with its own ingested copy in all bands and verifies
    * at jaccard 1.0.
    *
    * SIZING `buckets` (measured, SCALING.md §5b): a bucketed scan runs
    * one task per bucket, so the probe join's parallelism IS the bucket
    * count — size it to the core budget the probe should use (the
    * default 8 suits small sessions; a 32-core ingestion executor wants
    * 32). Each append writes one file per non-empty bucket per batch,
    * so more buckets also means faster file accumulation between
    * rebuild-compactions.
    */
  def minhashNearDupForeachBatchBucketed(textCol: String, idCol: String,
                                         corpusDir: String,
                                         bandTable: String,
                                         setsTable: String,
                                         buckets: Int = 8,
                                         n: Int = 3, bands: Int = 64,
                                         rowsPerBand: Int = 2,
                                         threshold: Double = 0.5,
                                         sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    def tableOr(table: String, empty: => DataFrame): DataFrame =
      if (spark.catalog.tableExists(table)) spark.table(table) else empty
    val bandIdx = tableOr(bandTable,
      graft.ops.Dedup.minhashBandIndex(batch.limit(0), textCol, idCol,
        n, bands, rowsPerBand))
    val hashSets = tableOr(setsTable,
      graft.ops.Dedup.shingleHashSets(batch.limit(0), textCol, idCol, n))
    val kept = graft.ops.Dedup.minhashIncrementalAgainstIndex(
      batch, bandIdx, hashSets, textCol, idCol, n, bands, rowsPerBand,
      threshold).lineageCut()
    kept.write.mode("append").parquet(corpusDir)
    val keptShingled = graft.ops.Dedup.wordShingled(kept, textCol, idCol, n)
      .lineageCut()
    // append-bucketed: Spark appends to a bucketed table only with an
    // IDENTICAL bucket spec, so the layout invariant the probe relies on
    // cannot drift batch-to-batch. repartition on the bucket key first
    // (same rationale as StageIO.saveBucketed): a bucketed writer emits
    // one file per (task × bucket), so an unrepartitioned append adds up
    // to tasks×buckets files per batch — with it, exactly one file per
    // non-empty bucket per batch, which is the append floor
    import org.apache.spark.sql.functions.col
    graft.ops.Dedup.shingleHashSetsFromShingled(keptShingled, idCol)
      .repartition(buckets, col(idCol))
      .write.mode("append")
      .bucketBy(buckets, idCol).sortBy(idCol)
      .saveAsTable(setsTable)
    graft.ops.Dedup.minhashBandIndexFromShingled(keptShingled, idCol,
      bands, rowsPerBand)
      .repartition(buckets, col("band"), col("bucket"))
      .write.mode("append")
      .bucketBy(buckets, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(bandTable)
    sink(kept)
  }

  /** Rebuild [[minhashNearDupForeachBatchBucketed]]'s state tables from
    * the persisted corpus: the crash-recovery step AND the periodic
    * compaction (an overwrite collapses the one-file-per-bucket-per-batch
    * accumulation back to `buckets` files). No-op if the corpus is
    * absent.
    */
  def minhashIndexFromCorpusBucketed(spark: org.apache.spark.sql.SparkSession,
                                     corpusDir: String, bandTable: String,
                                     setsTable: String,
                                     textCol: String, idCol: String,
                                     buckets: Int = 8,
                                     n: Int = 3, bands: Int = 64,
                                     rowsPerBand: Int = 2): Unit = {
    val corpus = readState(spark, corpusDir).getOrElse(return)
    graft.sources.StageIO.saveBucketed(
      graft.ops.Dedup.minhashBandIndex(corpus, textCol, idCol, n, bands, rowsPerBand),
      bandTable, "band", buckets, "bucket")
    graft.sources.StageIO.saveBucketed(
      graft.ops.Dedup.shingleHashSets(corpus, textCol, idCol, n),
      setsTable, idCol, buckets)
  }

  /** The SEMANTIC member of the history-probing screen family —
    * incremental embedding-cosine near-dup as a `foreachBatch` sink,
    * completing the set (exact digest → bloom; n-gram Jaccard →
    * shingle index; minhash banding → band index; embedding cosine →
    * THIS). Unlike [[semanticScreenForeachBatch]], whose state is a
    * static benchmark set, this screens each batch against the
    * ACCUMULATED INGESTED HISTORY — the paraphrase-dedup analogue of
    * [[minhashNearDupForeachBatchBucketed]], and like it built
    * bucketed-state-first: cross-batch state is
    *
    *   - `centroidsDir` (plain parquet, K rows): the coarse quantizer,
    *     fit ONCE on the first non-empty batch
    *     ([[graft.ops.Similarity.ivfCentroids]] — deterministic, so a
    *     replayed bootstrap batch refits the identical centroids) and
    *     FIXED for the query's lifetime: cell ids are meaningless
    *     across fits, so re-fitting per batch would orphan the index.
    *   - `cellsTable` ([[graft.ops.Dedup.semanticCellIndex]] rows,
    *     bucketed on `centroid_id`): the history's cell-resident
    *     vectors. The per-batch probe joins it on `centroid_id` alone,
    *     so the history side arrives with ZERO exchange
    *     (TrackStreamSpec pins the executed plan) and per-batch cost is
    *     batch-sized no matter how large the history grows — the same
    *     scale contract as the minhash screen's band index.
    *
    * Each micro-batch runs [[graft.ops.Dedup
    * .semanticIncrementalAgainstCells]] (within-batch keep-one, then
    * the history-cell probe at exact cosine ≥ `threshold`), appends its
    * survivors to the corpus AND their cell rows to the index, and
    * hands survivors to `sink`. Replay idempotence holds for every
    * nonzero vector (the replayed copy matches its own ingested copy at
    * cosine ≈ 1); zero-norm vectors are unscreenable and re-emit —
    * compose after [[bloomDedupForeachBatch]] when byte-identical
    * replays must die exactly.
    *
    * RECOVERY CONTRACT (same shape as the minhash sibling): corpus
    * append FIRST, then the index append — a crash between them leaves
    * index ⊆ corpus, repaired by [[semanticIndexFromCorpusBucketed]]
    * before resume. Candidate recall is cell co-residence (the SemDeDup
    * trade): size `nCells` for the expected corpus
    * ([[graft.ops.Dedup.planSemdedupCells]] at the ingest horizon, not
    * the bootstrap batch) and widen `probeCells`/`indexAssign` for
    * recall; the verify is exact, so precision is never at stake.
    * `buckets` sizing follows StageIO.saveBucketed's rule: the probe
    * join runs one task per bucket.
    */
  def semanticNearDupForeachBatchBucketed(vecCol: String, idCol: String,
                                          corpusDir: String,
                                          centroidsDir: String,
                                          cellsTable: String,
                                          buckets: Int = 8,
                                          nCells: Int = 16,
                                          probeCells: Int = 2,
                                          indexAssign: Int = 1,
                                          iters: Int = 3,
                                          threshold: Double = 0.9,
                                          sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    // a persisted EMPTY quantizer is treated as absent: zero centroids
    // make semanticIncrementalAgainstCells pass everything through
    // (eff == 0), so honoring one would make the screen a permanent
    // silent no-op — the exact state a pre-guard crash window could
    // have left behind (see the bootstrap guard below)
    val persisted = readState(spark, centroidsDir).filter(_.head(1).nonEmpty)
    if (persisted.isEmpty && batch.isEmpty) {
      // bootstrap guard (round 16, ADVICE): streaming retries and idle
      // triggers legitimately deliver EMPTY batches, and fitting the
      // quantizer on one persists zero centroids — every later batch
      // then reads the empty quantizer and the screen silently screens
      // nothing, forever (the rebuild reuses surviving centroids, so
      // even recovery would not repair it). An empty batch before the
      // first fit keeps nothing and teaches nothing: emit its (empty)
      // novel set and defer the fit to the first non-empty batch.
      sink(batch)
    } else {
      val cents = persisted.getOrElse {
        // bootstrap: fit on the first NON-EMPTY batch and persist BEFORE
        // any index write — centroids-without-index is recoverable
        // (rebuild assigns against them); index-without-centroids would
        // be orphaned state
        val fit = graft.ops.Similarity.ivfCentroids(
          batch, idCol, vecCol, nCells, iters)
        graft.sources.StageIO.save(fit, centroidsDir)
        spark.read.parquet(centroidsDir)
      }
      val cellIdx =
        if (spark.catalog.tableExists(cellsTable)) spark.table(cellsTable)
        else graft.ops.Dedup.semanticCellIndex(
          batch.limit(0), vecCol, idCol, cents, indexAssign)
      val kept = graft.ops.Dedup.semanticIncrementalAgainstCells(
        batch, cellIdx, cents, vecCol, idCol, threshold, probeCells)
        .lineageCut()
      kept.write.mode("append").parquet(corpusDir)
      import org.apache.spark.sql.functions.col
      // append-bucketed with the identical spec, one file per non-empty
      // bucket per batch (same writer discipline as the minhash screen)
      graft.ops.Dedup.semanticCellIndex(kept, vecCol, idCol, cents, indexAssign)
        .repartition(buckets, col("centroid_id"))
        .write.mode("append")
        .bucketBy(buckets, "centroid_id").sortBy("centroid_id")
        .saveAsTable(cellsTable)
      sink(kept)
    }
  }

  /** Rebuild [[semanticNearDupForeachBatchBucketed]]'s cell index from
    * the persisted corpus — the crash-recovery step AND the periodic
    * compaction (the overwrite collapses one-file-per-bucket-per-batch
    * accumulation back to `buckets` files). Reuses the persisted
    * centroids when they survived (cell ids stay stable across the
    * rebuild); a lost quantizer is refit deterministically from the
    * corpus and re-persisted — a NEW cell space, consistent because
    * index and every future probe derive from it together. No-op if the
    * corpus is absent.
    */
  def semanticIndexFromCorpusBucketed(spark: org.apache.spark.sql.SparkSession,
                                      corpusDir: String, centroidsDir: String,
                                      cellsTable: String,
                                      vecCol: String, idCol: String,
                                      buckets: Int = 8, nCells: Int = 16,
                                      indexAssign: Int = 1,
                                      iters: Int = 3): Unit = {
    val corpus = readState(spark, corpusDir).getOrElse(return)
    // an EMPTY persisted quantizer is refit like an absent one (the
    // other half of the sink's bootstrap guard): zero centroids can
    // only be damage, never a fit, and rebuilding the index against
    // them would re-commit the no-op state instead of repairing it
    val cents = readState(spark, centroidsDir).filter(_.head(1).nonEmpty)
      .getOrElse {
        val fit = graft.ops.Similarity.ivfCentroids(
          corpus, idCol, vecCol, nCells, iters)
        graft.sources.StageIO.save(fit, centroidsDir)
        spark.read.parquet(centroidsDir)
      }
    graft.sources.StageIO.saveBucketed(
      graft.ops.Dedup.semanticCellIndex(corpus, vecCol, idCol, cents, indexAssign),
      cellsTable, "centroid_id", buckets)
  }

  /** The quality-classifier family's streaming member (round 18,
    * verdict item 4) — every dedup screen family has its foreachBatch
    * twin; this is the trained-LR screen's ([[graft.pipeline.Curate]]'s
    * `lrQualityMinScore` mode riding a stream). The honest streaming
    * posture is SCORE-ONLY: the trained weight vector is bounded model
    * state (F+1 doubles) that rides each batch's scoring scan as plan
    * literals ([[graft.ops.Classifier.lrScore]] — zero exchange,
    * batch-sized cost no matter how large the history), while TRAINING
    * stays a batch-shaped fit over durable state, re-run periodically,
    * never incrementally nudged per micro-batch (per-batch gradient
    * steps would make every decision depend on arrival order — the
    * exact nondeterminism the quantized trainer exists to exclude).
    *
    * State, and the crash contract (the minhash screens' corpus-first
    * ordering):
    *
    *   - `refDir`: the reference-positive corpus (`textCol` rows),
    *     persisted once by the caller — the CCNet "reference vs crawl"
    *     posture's fixed side.
    *   - `corpusDir`: the screen's survivor history (idCol + textCol),
    *     appended per batch — the durable negatives for every fit.
    *   - `weightsDir`: the current coefficient vector
    *     (idx, feature, weight, fit_n) — DERIVED state, overwritten
    *     after a fit. `fit_n` records the corpus size the fit saw, so
    *     the refit trigger (`corpusCount − fit_n ≥ refitEveryRows`)
    *     needs no separate counter state.
    *
    * Per batch: (1) fit if needed — bootstrap when no weights exist
    *   (negatives = the corpus if present, else this first batch), or
    *   refit-on-history when `refitEveryRows > 0` and the corpus grew
    *   enough; (2) score the batch with the current weights; (3) append
    *   survivors (`score ≥ minScore`) to the corpus FIRST; (4) persist
    *   the weights (only if fit this batch); (5) hand the full DECISION
    *   frame `(idCol, score, kept)` to `sink` — unlike the dedup
    *   screens this sink sees every decision, not just survivors
    *   (quality screens are audited by their drops).
    *
    * Crash windows: weights are derivable from (ref, corpus), so
    * corpus-first ordering makes every window safe — a crash between
    * (3) and (4) leaves stale-or-absent weights beside a complete
    * corpus, and the next batch's bootstrap (or [[lrWeightsFromCorpus]]
    * run eagerly at ops time) refits from exactly that durable state.
    * The reverse ordering would lose survivor history irrecoverably.
    * REPLAY caveat, stated where the semantic screen states its own:
    * the screen is score-only, not a dedup — a crash-replayed batch
    * re-emits its decisions and re-appends its survivors (duplicating
    * them in the fit negatives); compose AFTER
    * [[bloomDedupForeachBatch]] (or any exact screen) when replays
    * must die exactly.
    *
    * Features are the [[graft.ops.Text.qualityStruct]] ratios — the
    * same 4 the curate screen trains on; `nIters`/`minScore` follow
    * the curate defaults. Pick `minScore` from the calibration table
    * ([[graft.ops.Classifier.lrCalibration]]), not a priori.
    */
  def lrQualityScreenForeachBatch(textCol: String, idCol: String,
                                  refDir: String, corpusDir: String,
                                  weightsDir: String,
                                  minScore: Double,
                                  nIters: Int = 6,
                                  refitEveryRows: Long = 0L,
                                  sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    val corpus = readState(spark, corpusDir).filter(_.head(1).nonEmpty)
    val persisted = readState(spark, weightsDir).filter(_.head(1).nonEmpty)
    if (persisted.isEmpty && corpus.isEmpty && batch.isEmpty) {
      // bootstrap guard (the semantic screen's): an empty batch before
      // the first fit teaches nothing — fitting on it would throw, and
      // persisting a degenerate fit would poison every later batch
      sink(batch.select(col(idCol), lit(0.0).as("score"),
        lit(false).as("kept")).limit(0))
    } else {
      val fitted: Option[(Seq[Double], Long)] = persisted match {
        case None =>
          // bootstrap: negatives = the durable corpus when it exists
          // (which is ALSO the post-crash resume path — a lost weights
          // write repairs itself here), else this first batch
          val (negatives, fitN) = corpus match {
            case Some(c) => (c.select(col(textCol)), c.count())
            case None    => (batch.select(col(textCol)), 0L)
          }
          Some((lrFit(spark, refDir, negatives, textCol, nIters), fitN))
        case Some(w) if refitEveryRows > 0 =>
          val fitN = w.select(col("fit_n")).head().getLong(0)
          val n = corpus.map(_.count()).getOrElse(0L)
          if (n - fitN >= refitEveryRows)
            Some((lrFit(spark, refDir,
              corpus.get.select(col(textCol)), textCol, nIters), n))
          else None
        case _ => None
      }
      val w = fitted.map(_._1).getOrElse {
        persisted.get.orderBy(col("idx"))
          .select(col("weight")).collect().map(_.getDouble(0)).toSeq
      }
      // materialize the scored frame ONCE (round 18): the decision sink
      // and the survivor append both consume it, and unmaterialized the
      // second consumer re-ran the regex-heavy qualityStruct features
      // over the whole batch (one full extra scoring pass per batch)
      val scored = graft.ops.Classifier.lrScore(
        lrFeats(batch, textCol), lrFeatureCols, w, idCol,
        carry = Seq(textCol)).lineageCut()
      val decisions = scored.select(col(idCol), col("score"),
        (col("score") >= minScore).as("kept"))
      // corpus append FIRST (survivor history is the irreplaceable
      // state), then the derived weights
      scored.filter(col("score") >= minScore)
        .select(col(idCol), col(textCol))
        .write.mode("append").parquet(corpusDir)
      fitted.foreach { case (weights, fitN) =>
        writeWeights(spark, weightsDir, weights, fitN)
      }
      sink(decisions)
    }
  }

  /** Rebuild [[lrQualityScreenForeachBatch]]'s weight vector from the
    * durable state — the eager form of the resume path (weights are
    * DERIVED from ref + corpus, so "rebuild" is just the fit the next
    * bootstrap would run; this makes it available at ops time, and as
    * periodic refit for the score-only configuration). No-op if the
    * corpus is absent or empty.
    */
  def lrWeightsFromCorpus(spark: org.apache.spark.sql.SparkSession,
                          refDir: String, corpusDir: String,
                          weightsDir: String, textCol: String,
                          nIters: Int = 6): Unit = {
    val corpus = readState(spark, corpusDir).filter(_.head(1).nonEmpty)
      .getOrElse(return)
    val w = lrFit(spark, refDir, corpus.select(col(textCol)), textCol, nIters)
    writeWeights(spark, weightsDir, w, corpus.count())
  }

  private val lrFeatureCols = Seq("__mtl", "__punct", "__upper", "__stop")

  private def lrFeats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__q", graft.ops.Text.qualityStruct(col(textCol)))
      .withColumn("__mtl", col("__q.mean_token_len"))
      .withColumn("__punct", col("__q.punct_ratio"))
      .withColumn("__upper", col("__q.upper_ratio"))
      .withColumn("__stop", col("__q.stopword_hit_ratio"))

  private def lrFit(spark: org.apache.spark.sql.SparkSession,
                    refDir: String, negatives: DataFrame,
                    textCol: String, nIters: Int): Seq[Double] = {
    val ref = spark.read.parquet(refDir)
    val train = lrFeats(ref.select(col(textCol)), textCol)
      .withColumn("__y", lit(1.0))
      .select((lrFeatureCols.map(col) :+ col("__y")): _*)
      .unionByName(lrFeats(negatives, textCol).withColumn("__y", lit(0.0))
        .select((lrFeatureCols.map(col) :+ col("__y")): _*))
    graft.ops.Classifier.lrTrain(train, lrFeatureCols, "__y", nIters)
      .last.weights
  }

  private def writeWeights(spark: org.apache.spark.sql.SparkSession,
                           weightsDir: String, weights: Seq[Double],
                           fitN: Long): Unit = {
    import spark.implicits._
    val names = "_intercept" +: lrFeatureCols
    graft.sources.StageIO.save(
      weights.zipWithIndex.map { case (wj, i) => (i, names(i), wj, fitN) }
        .toDF("idx", "feature", "weight", "fit_n").coalesce(1),
      weightsDir)
  }

  /** The `_batchid` watermark the sum-merged sketch sinks keep inside
    * their state dir (underscore-prefixed, so parquet readers skip it):
    * the last applied batch id, or -1 when there is none.
    */
  private def readBatchId(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String): Long = {
    val marker = new org.apache.hadoop.fs.Path(stateDir, "_batchid")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) -1L
    else {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def writeBatchId(spark: org.apache.spark.sql.SparkSession,
                           dir: String, batchId: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_batchid")
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true)
    try out.write(s"$batchId\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Streaming heavy-hitter counting: the count-min counter frame
    * ([[graft.ops.Corpus.cmsCounters]]) as `foreachBatch` state. Unlike
    * the HLL sink, counter SUM-merge is NOT idempotent — a replayed
    * batch would double-count — so this sink demonstrates the OTHER
    * streaming consistency pattern: a transactional batch-id watermark.
    * The applied batch id is committed ATOMICALLY with the state (the
    * `_batchid` marker is written inside the staging dir BEFORE the
    * publish, so marker and counters always travel together), and the
    * publish itself is [[graft.sources.StageIO.replace]]'s rename-aside
    * swap, so every crash window leaves either the old state+old marker
    * or the new state+new marker — never a torn pair, never zero
    * copies. A replayed batch id ≤ the marker is skipped (its counts are
    * already in the state) and the sink just re-emits the current
    * counters.
    */
  def cmsCountersForeachBatch(keyCol: String, stateDir: String,
                              sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.sum
    // no catch: a state that exists but cannot be read is corruption or
    // an FS outage — advancing the watermark past silently-dropped
    // history would make the loss permanent and undetectable
    val prev = readState(spark, stateDir)
    if (batchId <= readBatchId(spark, stateDir)) {
      sink(prev.get) // replay: already applied
    } else {
      val batchCounters = graft.ops.Corpus.cmsCounters(batch, keyCol)
      val merged = prev.fold(batchCounters)(p =>
        p.union(batchCounters).groupBy("__j", "__b").agg(sum("c").as("c")))
        .lineageCut()
      graft.sources.StageIO.replace(spark, stateDir) { tmp =>
        merged.write.parquet(tmp)
        writeBatchId(spark, tmp, batchId)
      }
      sink(spark.read.parquet(stateDir))
    }
  }

  /** Streaming distinct-count: per-group HyperLogLog registers
    * ([[graft.ops.Corpus.hllRegisters]]) as `foreachBatch` state. Each
    * micro-batch's registers max-merge into the persisted frame
    * (`stateDir`, ≤ groups × m tiny rows — the state NEVER grows with
    * key cardinality, which is the whole point at crawl scale), and the
    * sink receives the updated per-group estimates.
    *
    * Unlike the bloom sink there is NO crash-ordering invariant to keep:
    * register max-merge is IDEMPOTENT, so a replayed batch (at-least-once
    * source, crash retry) merges to exactly the same frame and the
    * estimates never double-count — the replay-safety the count-style
    * alternative (`sum` state) structurally cannot have. The state
    * publishes through [[graft.sources.StageIO.replace]], so every crash
    * window leaves a readable frame; on restart the state on disk IS
    * the sketch (no rebuild step needed — contrast [[bloomFromHistory]]).
    */
  def hllDistinctForeachBatch(groupCol: String, keyCol: String,
                              stateDir: String,
                              sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.max
    val batchRegs = graft.ops.Corpus.hllRegisters(batch, groupCol, keyCol)
    // no catch: readState distinguishes "first batch" from "state
    // unreadable" — the latter must surface, not restart the sketch
    val merged = readState(spark, stateDir).fold(batchRegs)(_.union(batchRegs))
      .groupBy("__g", "__reg").agg(max("__mr").as("__mr"))
      .lineageCut() // materialize BEFORE the swap drops what it read
    graft.sources.StageIO.replace(spark, stateDir)(merged.write.parquet(_))
    sink(graft.ops.Corpus.hllEstimate(merged, groupCol))
  }

  /** Streaming KMV sink: per-group k-minimum-values sketches as
    * foreachBatch state — the composable distinct/overlap sketch
    * maintained continuously (downstream, [[graft.ops.Corpus
    * .kmvOverlapReport]]-style estimates come straight off the state
    * table). State is ≤ groups × k longs forever; the cross-batch merge
    * (union hashes, keep the k smallest per group) is IDEMPOTENT like
    * the HLL sink's max — an at-least-once replay re-contributes hashes
    * the sketch already holds and nothing moves, so no batch-id
    * watermark is needed (contrast [[cmsCountersForeachBatch]], whose
    * sum-merge is not idempotent and carries one). Same
    * [[graft.sources.StageIO.replace]] state publish.
    */
  def kmvSketchForeachBatch(groupCol: String, keyCol: String, k: Int,
                            stateDir: String,
                            sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.{col, explode, row_number}
    // (group, hash) rows: batch sketch exploded so it unions with state
    val batchHashes = graft.ops.Corpus.kmvSketch(batch, groupCol, keyCol, k)
      .select(col(groupCol), explode(col("kmv")).as("__kh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("__kh"))
    val merged = readState(spark, stateDir).fold(batchHashes)(_.union(batchHashes))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(groupCol), col("__kh"))
      .lineageCut() // materialize BEFORE the swap drops what it read
    graft.sources.StageIO.replace(spark, stateDir)(merged.write.parquet(_))
    sink(merged)
  }

  /** Streaming quantile-sketch sink: per-group log-bucket counter
    * frames ([[graft.ops.Corpus.quantileSketch]]) as foreachBatch state
    * — percentiles over an unbounded stream, the one summary the
    * HLL/CMS/KMV sinks couldn't maintain. State is bucket-bounded
    * forever (≲ 7.5k rows per group at subBits=7, independent of how
    * much data has streamed); the cross-batch merge is a SUM by
    * (group, bucket), which — like the CMS sink and unlike the
    * idempotent HLL max / KMV union — would double-count a replayed
    * batch, so it carries the same `_batchid` watermark inside the
    * state dir: marker and counters swap in together through
    * [[graft.sources.StageIO.replace]], and a batch id ≤ the marker just
    * re-emits current state. Estimates come straight off the state
    * table via [[graft.ops.Corpus.quantileSketchEstimate]].
    */
  def quantileSketchForeachBatch(groupCol: String, valueCol: String,
                                 subBits: Int, stateDir: String,
                                 sink: DataFrame => Unit = _ => ())
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.sum
    // no catch: as in the CMS sink, an unreadable state must surface
    val prev = readState(spark, stateDir)
    if (batchId <= readBatchId(spark, stateDir)) {
      sink(prev.get) // replay: already applied
    } else {
      val batchCounters =
        graft.ops.Corpus.quantileSketch(batch, groupCol, valueCol, subBits)
      val merged = prev.fold(batchCounters)(p =>
        p.union(batchCounters).groupBy(groupCol, "bucket").agg(sum("c").as("c")))
        .lineageCut()
      graft.sources.StageIO.replace(spark, stateDir) { tmp =>
        merged.write.parquet(tmp)
        writeBatchId(spark, tmp, batchId)
      }
      sink(spark.read.parquet(stateDir))
    }
  }
}
