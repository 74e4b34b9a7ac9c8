package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Restructure

/** S4/S5 — stage-table IO. The reference's MongoDB collections with
  * truncate-and-load semantics (mdb_collection_push `remove({})` + insert,
  * R/storage.R:80-106) become parquet stage tables with overwrite writes;
  * its column-order metadata document + NA padding on read
  * (R/storage.R:36-48,92-99) becomes an explicit StructType contract
  * applied on load (parquet preserves order natively; padding keeps the
  * union-of-forms tolerance).
  *
  * Every table overwrite publishes through [[replace]]: the new table is
  * written into the sibling `<dir>.tmp` and only then swapped in by two
  * renames (live → `.old`, `.tmp` → live, drop `.old`). The reference
  * computes each frame before it pushes, so a failed R stage leaves its
  * collection alone; here the transform is lazy and runs inside the
  * write, and a plain `mode("overwrite")` deletes the target before the
  * job starts — a stage that died mid-write left an empty directory
  * that the next read failed on (UNABLE_TO_INFER_SCHEMA). Renames are
  * atomic per HDFS/posix semantics, so every crash window leaves a
  * recoverable table: before the first rename the live table is
  * untouched; between the renames `.old` holds it and [[recover]] (run
  * by [[replace]], [[load]] and the streaming state readers) rolls it
  * back; after the second the new table is live and a leftover `.old`
  * is swept. The one limit: the swap is NOT atomic for a concurrent
  * reader — between the two renames the path is briefly absent.
  *
  * 100 TB notes: [[saveByMonth]] partitions by landing month so downstream
  * date filters prune partitions (the reference re-reads full history every
  * run — partition pruning makes incremental reruns touch only changed
  * months); writers distribute as-is — no coalesce(1)-style single-writer
  * chokepoints.
  */
object StageIO {

  /** Publish a table at `dir` through the write-aside-and-swap protocol
    * above: `write` receives the staging path `<dir>.tmp` (cleared of
    * any earlier attempt's leftovers) and must leave a complete table
    * there; a `write` that throws leaves the live table untouched.
    */
  def replace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val fs = fileSystem(spark, dir)
    recover(fs, dir)
    val live = new Path(dir)
    val tmp = live.suffix(".tmp")
    val old = live.suffix(".old")
    fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"replace: rename $live -> $old failed")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"replace: rename $tmp -> $live failed")
    fs.delete(old, true)
  }

  /** Repair whichever single rename a crashed [[replace]] left
    * unfinished: live dir present → drop any leftover `.old` (the swap
    * published, cleanup didn't run); live dir absent but `.old` present
    * → roll the previous table back into place. Returns whether a table
    * exists at `dir` afterwards. A stale `.tmp` is cleared by the next
    * [[replace]].
    */
  def recover(fs: FileSystem, dir: String): Boolean = {
    val live = new Path(dir)
    val old = live.suffix(".old")
    if (fs.exists(live)) {
      fs.delete(old, true)
      true
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(s"recover: rename $old -> $live failed")
      true
    } else false
  }

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** S5: truncate-and-load a stage table. */
  def save(df: DataFrame, dir: String): Unit =
    replace(df.sparkSession, dir)(df.write.parquet(_))

  /** S5 at scale: overwrite partitioned by month of `dateCol`. Rows are
    * AQE-rebalanced by month first — see [[appendDedup]]'s note: without
    * it every task writes a file into every month it holds
    * (tasks × months small files); with it, file count ≈ months with
    * skewed months split by AQE.
    */
  def saveByMonth(df: DataFrame, dir: String, dateCol: String): Unit =
    replace(df.sparkSession, dir)(
      df.withColumn("__month", date_format(col(dateCol), "yyyy-MM"))
        .hint("rebalance", col("__month"))
        .write.partitionBy("__month").parquet(_))

  /** S5 at scale, join-heavy shape: bucketed+sorted stage table. Two
    * tables bucketed the same way on the join key sort-merge-join with NO
    * exchange and no sort — the co-location replaces the shuffle entirely
    * (proved in SourcesSpec by asserting the executed plan has no
    * hashpartitioning exchange). Requires a catalog table (bucketing
    * metadata lives in the metastore).
    *
    * Multi-column keys: bucket on ALL of a join's key columns
    * (`moreCols`) — since Spark 3.3 co-partitioning rejects a
    * partitioning on a subset of the join keys by default
    * (`spark.sql.requireAllClusterKeysForCoPartition`), so a table
    * bucketed on one column of a two-column join key gets reshuffled
    * anyway (measured in IncrementalIndexSpec: the (band,bucket) probe
    * against a bucket-only-bucketed index re-exchanged the index).
    *
    * `buckets` BOUNDS BOTH SIDES OF THE TABLE'S LIFECYCLE: reads run one
    * task per bucket (the downstream join's parallelism IS the bucket
    * count) and — because of the repartition below — so does this
    * write. Size it to the core budget the table's consumers should
    * use (SCALING.md §5b): a 32-core ingestion executor rebuilding a
    * large index at 8 buckets writes through 8 tasks and probes
    * through 8 — both a 4× parallelism haircut. The one-file-per-bucket
    * layout is worth that ONLY when buckets ≈ cores.
    */
  def saveBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
                   moreCols: String*): Unit =
    // repartition on the bucket columns FIRST: a bucketed writer emits
    // one file per (input task × bucket it holds), so writing from N
    // shuffle partitions produces up to N×buckets files — measured
    // (docs/stream_state_sweep.json): a 32-task write of a 51M-row band
    // index at 32 buckets made 1024 files whose per-file open overhead
    // tripled every downstream no-exchange probe (15.2 s vs 4.2 s
    // plain). repartition uses the same Murmur3 hash bucketing does, so
    // each task holds exactly one bucket → one file per bucket, and the
    // write's shuffle replaces the sort-within-task fan-out it had to
    // do anyway.
    df.repartition(buckets, (bucketCol +: moreCols).map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCol, moreCols: _*)
      .sortBy(bucketCol, moreCols: _*)
      .saveAsTable(table)

  /** Incremental ingest: append only rows whose key is not already present
    * in the table, touching only the month partitions the batch covers.
    *
    * The reference re-fetches FULL history every run and truncate-loads
    * (R/ingestion.R:43-58, R/storage.R:89) — faithful at survey scale,
    * unworkable at 100 TB. This is the append path: the existing side is
    * pruned to the incoming batch's months (partition pruning — the scan
    * never touches history outside the batch window), the batch
    * left_anti-joins against those keys, and only genuinely new rows are
    * appended. Idempotent: re-appending the same batch is a no-op, and
    * appendDedup(batch) after save(batch') ≡ save(batch' ∪ batch)
    * (RunnerSpec-tested). The driver holds only the distinct month list
    * (bounded by calendar months, not data volume). Rows with null keys
    * never match and are always appended — give keys the surrogate-key
    * treatment (P7) first.
    *
    * Table existence is resolved through Hadoop's FileSystem from the
    * path's own scheme — a java.io.File probe would answer "no" for
    * every HDFS/S3 URI and silently truncate-overwrite the table this
    * op exists to append to.
    *
    * KEY-SCOPE CONTRACT (`monthScopedKeys`): with the default `true`,
    * the anti-join is pruned to the batch's month partitions, which
    * assumes a key's month never changes between runs — a key
    * re-submitted under a DIFFERENT month (e.g. a corrected
    * landing_date) is treated as a new row and appended, leaving the
    * old-month copy in place. When keys can migrate across months, pass
    * `false`: the anti-join then scans the key columns of the whole
    * table — no partition pruning, but parquet column pruning keeps the
    * scan to the (narrow) key columns, not the data.
    */
  def appendDedup(spark: SparkSession, df: DataFrame, dir: String,
                  dateCol: String, keyCols: Seq[String],
                  monthScopedKeys: Boolean = true): Unit = {
    if (!recover(fileSystem(spark, dir), dir)) saveByMonth(df, dir, dateCol)
    else {
      val withMonth = df.withColumn("__month", date_format(col(dateCol), "yyyy-MM"))
      val existing = spark.read.parquet(dir)
      val scoped =
        if (monthScopedKeys) {
          val months = withMonth.select("__month").distinct()
            .collect().map(_.getString(0)).toIndexedSeq
          existing.filter(col("__month").isin(months: _*))
        } else existing
      val existingKeys = scoped.select(keyCols.map(col): _*)
      // REBALANCE by the partition column before every partitioned
      // write (round 18, guide §6): an unclustered writer emits one
      // file per (task × month it holds) — at scale that is the
      // many-small-files problem, and at gate scale the opposite
      // degenerate case showed up (ONE input task serially writing
      // every month's file: the two ~1.4 s single-task write jobs in
      // q_s5_append_dedup's job profile). The AQE rebalance clusters
      // rows by month AND splits skewed months into multiple writers,
      // so file count ≈ months (+ splits) and the write parallelizes.
      // Content is identical; no gate pins append-file layout.
      withMonth.join(existingKeys, keyCols, "left_anti")
        .hint("rebalance", col("__month"))
        .write.mode("append").partitionBy("__month").parquet(dir)
    }
  }

  /** Small-file compaction: rewrite a stage table into
    * ⌈bytes / targetFileBytes⌉ parquet files — the operational cure for
    * the incremental-append pattern ([[appendDedup]] adds a file set per
    * batch; a year of daily batches is 365× the file count the scan
    * planner, the NameNode-equivalent, and the footer-reading driver
    * each pay for). Size comes from the FILESYSTEM (summed file
    * lengths), not Catalyst's row estimate — compressed bytes are what
    * file-count targeting is about.
    *
    * The compacted copy publishes through [[replace]], so a compaction
    * that dies leaves the table as it was. Like any compaction, run it
    * when the table is quiet (the swap is not atomic for concurrent
    * readers).
    *
    * `repartition(n)` (round-robin), not `coalesce(n)`: coalesce chains
    * input files onto ≤ n tasks WITHOUT a shuffle, so one task can
    * inherit most of the bytes (the skew this op exists to fix);
    * round-robin pays one shuffle for even output files.
    */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0, s"targetFileBytes=$targetFileBytes")
    val table = load(spark, dir)
    val bytes = fileSystem(spark, dir).getContentSummary(new Path(dir)).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    replace(spark, dir)(table.repartition(n).write.parquet(_))
  }

  /** S4: scan a stage table, first repairing a swap that a crashed
    * [[replace]] left half done.
    */
  def load(spark: SparkSession, dir: String): DataFrame = {
    recover(fileSystem(spark, dir), dir)
    spark.read.parquet(dir)
  }

  /** S4 with contract: pad columns missing on disk with typed nulls and
    * apply the contract's column order (reference R/storage.R:36-48).
    */
  def loadConformed(spark: SparkSession, dir: String, contract: StructType): DataFrame =
    Restructure.conformTo(load(spark, dir), contract)
}
