package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / ranking / entity-matching operators (SURVEY.md §2.4, §2.6):
  *   - W1 top-k per group            — reference inst/reports/malawi-report.qmd:102-123
  *   - A2/W2 unique-per-key flag     — reference R/merge_trips.R:87-98
  *   - J8 1:1 entity match           — reference R/merge_trips.R:103-109
  *   - J10 suffix-match lookup join  — reference R/validation-functions.R:364-374
  */
object Matching {

  /** W1: keep the top `k` rows per group ordered by `order` (reference
    * `arrange(.by_group) |> slice_head(n=10)`). One shuffle on the group
    * keys; `row_number` (not rank) matches slice_head's exact-k semantics.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(groupCols: _*).orderBy(order: _*)))
      .filter(col("__rn") <= k)
      .drop("__rn")

  /** A2/W2: non-reducing per-key count flag — `n() == 1` over the key
    * window (reference R/merge_trips.R:87-88). Null keys form their own
    * group, exactly like dplyr `group_by` with NA keys.
    */
  def uniquePerKey(df: DataFrame, keys: Seq[String], flagName: String = "unique_trip_per_day"): DataFrame =
    df.withColumn(flagName,
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)) === 1)

  /** J8, the flagship join: 1:1 entity match. Each side is restricted to
    * rows whose key is unique within that side (via [[uniquePerKey]]), then
    * inner-joined on the keys. Faithful to the reference's
    * full_join + filter(!is.na both) which reduces to an inner equi-join of
    * the two deduplicated sides (R/merge_trips.R:103-109).
    *
    * Scale: both sides shuffle once on `keys`, reused by the window AND the
    * join (same partitioning → no extra exchange).
    */
  def oneToOneMatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                    flagName: String = "unique_trip_per_day"): DataFrame = {
    val l = uniquePerKey(left, keys, flagName).filter(col(flagName))
    val r = uniquePerKey(right, keys, flagName).filter(col(flagName))
    l.join(r, keys :+ flagName, "inner")
  }

  /** As-of (backward) join — the time-series operator Spark lacks as a
    * built-in (SURVEY.md notes J8 is the reference's "as-of-flavored" op;
    * this is the general form). For every left row, attach the latest
    * right row with `rightTime <= leftTime` within the same partition
    * keys.
    *
    * Implemented the scale-correct way: NOT a range join (quadratic per
    * key) but union → single sort per key → running last-known right
    * values via `last(_, ignoreNulls)` over an ordered window → keep left
    * rows. One shuffle + one sort regardless of key skew; this is the
    * plan a custom SparkPlan would produce, so no custom strategy needed.
    *
    * Output: all left columns + `valueCols` from the right (null when no
    * right row precedes).
    */
  def asOfJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTime: String, rightTime: String,
                       valueCols: Seq[String]): DataFrame = {
    val l = left.withColumn("__t", col(leftTime)).withColumn("__isL", lit(1))
    val r = right.select((keys.map(col) :+ col(rightTime).as("__t")) ++
        valueCols.map(c => col(s"`$c`").as(s"__r_$c")): _*)
      .withColumn("__isL", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before ties on the same timestamp (backward as-of
    // includes rightTime == leftTime)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(col(s"`__r_$c`"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__isL") === 1)
      .drop((valueCols.map(c => s"__r_$c") ++ Seq("__t", "__isL")).toIndexedSeq: _*)
  }

  /** Skew-safe equi-join of a big fact side against a medium build side
    * (too big to broadcast, hot keys too skewed for a plain shuffle
    * join): the build side is replicated `saltFactor`× and the fact side
    * salted DETERMINISTICALLY (hash of its row identity, no RNG — keeps
    * retries/resumes consistent). Hot keys spread across `saltFactor`
    * reducers. AQE's skew-join handles moderate skew at runtime; this is
    * the explicit tool for pathological keys.
    */
  def saltedJoin(fact: DataFrame, build: DataFrame, keys: Seq[String],
                 saltFactor: Int, how: String = "inner"): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(c => col(s"`$c`")).toIndexedSeq: _*), lit(saltFactor))
        .cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, keys :+ "__salt", how).drop("__salt")
  }

  /** Per-key skew report for an upcoming shuffle or join on `keys`: the
    * `topK` heaviest keys with row count, share of the table, and the
    * [[saltedJoin]] factor that would hold that key's heaviest reducer
    * at `targetRowsPerTask` rows (`ceil(n_rows / target)`). This is the
    * decision input for the explicit salting tool — run it on the fact
    * side BEFORE a big join and salt when the top share approaches
    * 1/parallelism. The diagnostic is itself scale-safe: one
    * partial-aggregatable groupBy, a 1-row total broadcast, and a
    * `limit` that compiles to TakeOrderedAndProject — no windows, no
    * global sort. Ties in row count break by key ascending
    * (deterministic output, the repo-wide ORDER BY discipline).
    */
  def keySkewReport(df: DataFrame, keys: Seq[String], topK: Int = 20,
                    targetRowsPerTask: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"topK=$topK must be >= 1")
    require(targetRowsPerTask >= 1,
      s"targetRowsPerTask=$targetRowsPerTask must be >= 1")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(coalesce(sum("n_rows"), lit(0L)).as("__total"))
    val cols = keys.map(col) ++ Seq(
      col("n_rows"),
      round(col("n_rows").cast("double") / col("__total"), 9).as("share"),
      floor((col("n_rows").cast("double") + lit(targetRowsPerTask - 1.0)) /
        lit(targetRowsPerTask.toDouble)).cast("long").as("salt_factor"))
    counts.crossJoin(broadcast(total))
      .select(cols: _*)
      .orderBy(col("n_rows").desc +: keys.map(col): _*)
      .limit(topK)
  }

  /** Driver-side salt factor for [[saltedJoin]], derived from the fact
    * side's MEASURED heaviest key: `ceil(max key rows /
    * targetRowsPerTask)`, floor 1 (no skew → factor 1 ≡ the plain
    * join's economics). One aggregation job per call — plan once per
    * batch like [[graft.ops.Dedup.planMinhashLsh]], not per row; capped
    * at 4096 (past that the build-side replication outweighs any
    * reducer relief). */
  def planSaltFactor(fact: DataFrame, keys: Seq[String],
                     targetRowsPerTask: Long = 1000000L): Int = {
    require(targetRowsPerTask >= 1,
      s"targetRowsPerTask=$targetRowsPerTask must be >= 1")
    val row = fact.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    if (row.isNullAt(0)) 1
    else {
      val m = row.getLong(0)
      math.min(4096L,
        math.max(1L, (m + targetRowsPerTask - 1) / targetRowsPerTask)).toInt
    }
  }

  /** [[saltedJoin]] with the factor measured by [[planSaltFactor]] —
    * the entry point when the skew is data-dependent (a crawl's domain
    * distribution shifts per snapshot; yesterday's factor is stale).
    */
  def saltedJoinAuto(fact: DataFrame, build: DataFrame, keys: Seq[String],
                     targetRowsPerTask: Long = 1000000L,
                     how: String = "inner"): DataFrame =
    saltedJoin(fact, build, keys,
      planSaltFactor(fact, keys, targetRowsPerTask), how)

  /** J10/A7/V6 core: suffix-match lookup against a small registry.
    * `probe` rows match a `registry` value when the registry string ends
    * with the probe string (reference regex `paste0(imei, "$")`,
    * R/validation-functions.R:365-366).
    *
    * Runs as an equi-join, not a nested loop: every distinct non-null
    * registry value is exploded into all of its suffixes (the empty one
    * included — `""` ends every string), and the probe string is
    * broadcast-hash-joined against them. The broadcast side holds
    * ≈(mean value length + 1) × registry rows (≈16 per 15-digit IMEI);
    * each probe row does one hash lookup instead of one `endsWith` per
    * registry value. A value has at most one suffix of a given length,
    * so each matching value joins exactly once and the counts equal the
    * `endsWith` definition. Suffixes are cut on characters and compared
    * as UTF-8 bytes, which agree: a byte suffix that is itself valid
    * UTF-8 starts on a character boundary.
    *
    * Returns probe ++ (match_count, matched_value: the unique match else
    * null), one row per distinct probe row. A probe row present k times
    * counts each of its matches k times: pass a distinct probe for the
    * number of registry values a probe value matches.
    */
  def suffixMatchCount(probe: DataFrame, probeCol: String,
                       registry: DataFrame, registryCol: String): DataFrame = {
    val suffixes = registry.select(col(registryCol).cast("string").as("__reg"))
      .filter(col("__reg").isNotNull).distinct()
      .select(col("__reg"),
        explode(sequence(lit(1), length(col("__reg")) + 1)).as("__pos"))
      .select(col("__reg"), expr("substr(__reg, __pos)").as("__sfx"))
    val joined = probe.join(broadcast(suffixes),
      col("__sfx") === col(probeCol).cast("string"), "left")
    joined.groupBy(probe.columns.map(c => col(s"`$c`")): _*)
      .agg(
        count(col("__reg")).as("match_count"),
        min(col("__reg")).as("__only"))
      .withColumn("matched_value", when(col("match_count") === 1, col("__only")))
      .drop("__only")
  }

  /** Point-in-interval range join, the scale-correct way. Spark plans a
    * bare `start <= ts AND ts <= end` predicate as a nested-loop join
    * (broadcast or cartesian — quadratic per key and memory-bound), so
    * instead both sides are EQUI-keyed on a time bucket of
    * `bucketSeconds`: each point lands in exactly one bucket, each
    * interval explodes into the buckets it covers (a narrow explode —
    * interval spans are bounded, points never duplicate), and the exact
    * range predicate filters the hash-join output. One hash shuffle on
    * (keys, bucket) replaces the nested loop; candidate work per point is
    * the intervals sharing its bucket, not all intervals of its key.
    *
    * Pick `bucketSeconds` ≈ the typical interval length: much smaller
    * multiplies the interval fan-out; much larger admits far-away
    * candidates that the filter then discards.
    *
    * Returns points ++ interval columns, inner semantics (points in no
    * interval drop; points in n intervals emit n rows).
    */
  def rangeJoinBucketed(points: DataFrame, intervals: DataFrame,
                        keyCols: Seq[String], tsCol: String,
                        startCol: String, endCol: String,
                        bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds=$bucketSeconds must be >= 1")
    // NTZ timestamps refuse a direct long cast; the hop through LTZ is
    // value-preserving under the pipeline's fixed UTC session timezone
    def secs(c: Column): Column = c.cast("timestamp").cast("long")
    def bkt(c: Column): Column = floor(secs(c).cast("double") / bucketSeconds).cast("long")
    val p = points.withColumn("__bkt", bkt(col(tsCol)))
    val iv = intervals.withColumn("__bkt",
      explode(sequence(bkt(col(startCol)), bkt(col(endCol)))))
    p.join(iv, keyCols :+ "__bkt")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bkt")
  }

  /** Interval×interval OVERLAP join — [[rangeJoinBucketed]]'s rewrite
    * extended to two interval sides (the time-overlap / stay-overlap
    * shape; Spark plans the bare `sA <= eB AND sB <= eA` predicate as a
    * nested loop). Both sides explode into the `bucketSeconds` buckets
    * they cover and hash-join on (keys, bucket); because an overlapping
    * pair shares every bucket in the overlap region, the join would
    * duplicate it once per shared bucket — so a pair is kept ONLY in the
    * bucket of `greatest(startA, startB)` (the first bucket both cover),
    * which emits each pair exactly once with no distinct pass. The
    * exact overlap predicate (closed intervals) filters after.
    *
    * Candidate work per row is the opposite side's intervals sharing a
    * bucket, not all intervals of its key; pick `bucketSeconds` ≈ the
    * typical interval length (smaller multiplies BOTH fan-outs here).
    * Non-key column names must be distinct across the two inputs (same
    * caller contract as [[rangeJoinBucketed]]'s output columns). Inner
    * semantics: non-overlapping rows drop.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          keyCols: Seq[String],
                          leftStart: String, leftEnd: String,
                          rightStart: String, rightEnd: String,
                          bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds=$bucketSeconds must be >= 1")
    def secs(c: Column): Column = c.cast("timestamp").cast("long")
    def bkt(c: Column): Column = floor(secs(c).cast("double") / bucketSeconds).cast("long")
    // Closed-interval contract: start <= end on every row, checked at
    // execution via assert_true (a require can't see data). An inverted
    // interval would NOT just drop — Spark's sequence() auto-descends, so
    // it would silently explode a reversed bucket range and could emit
    // pairs with negative overlap; fail fast instead. Null endpoints keep
    // their pre-existing behavior (sequence(null,…) is null → the explode
    // drops the row), so the assert only fires on a GENUINE inversion.
    def assertOrdered(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(assert_true(coalesce(secs(col(s)) <= secs(col(e)), lit(true)),
        lit(s"intervalOverlapJoin: inverted interval ($s > $e)")).isNull)
    val l = assertOrdered(left, leftStart, leftEnd).withColumn("__bkt",
      explode(sequence(bkt(col(leftStart)), bkt(col(leftEnd)))))
    val r = assertOrdered(right, rightStart, rightEnd).withColumn("__bkt",
      explode(sequence(bkt(col(rightStart)), bkt(col(rightEnd)))))
    l.join(r, keyCols :+ "__bkt")
      .filter(col(leftStart) <= col(rightEnd) && col(rightStart) <= col(leftEnd))
      .filter(col("__bkt") === bkt(greatest(col(leftStart), col(rightStart))))
      .drop("__bkt")
  }
}
