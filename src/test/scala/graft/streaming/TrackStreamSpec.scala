package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Structured Streaming variant of the 10-minute track aggregation:
  * event-time tumbling window + watermark over a MemoryStream, and
  * batch/streaming parity of the shared transform.
  */
class TrackStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val points = Seq(
    (9001L, ts("2024-03-11 06:01:00"), -14.01, 34.88),
    (9001L, ts("2024-03-11 06:04:00"), -14.03, 34.90),
    (9001L, ts("2024-03-11 06:12:00"), -14.05, 34.92),
    (9002L, ts("2024-03-11 06:03:00"), -13.50, 34.50))

  test("streaming aggregation over MemoryStream matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Double, Double)]
    val streamDf = stream.toDF.toDF("Trip", "Time", "Lat", "Lng")
    val query = TrackStream.aggregate(streamDf)
      .writeStream.format("memory").queryName("tracks_out")
      .outputMode("update").start()
    try {
      stream.addData(points)
      query.processAllAvailable()
      val streamed = spark.table("tracks_out")
        .select("Trip", "time", "lat", "lon", "n_points")
        .orderBy("Trip", "time").collect().map(_.toSeq)
      val batch = TrackStream.aggregate(points.toDF("Trip", "Time", "Lat", "Lng"))
        .orderBy("Trip", "time").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length == 3) // two buckets for 9001, one for 9002
      assert(streamed.head(1).toString.startsWith("2024-03-11 06:00"))
    } finally query.stop()
  }

  test("stream-stream interval join: in-bound pairs match, out-of-bound drop, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val landings = Seq(
      (9001L, ts("2024-03-11 06:10:00"), "siteA"),
      (9002L, ts("2024-03-11 07:00:00"), "siteB"),
      (9003L, ts("2024-03-11 08:00:00"), "siteC")) // no event within bound
    val events = Seq(
      (9001L, ts("2024-03-11 06:05:00"), "gps"),   // 5 min before → in
      (9001L, ts("2024-03-11 06:19:00"), "gps"),   // 9 min after → in
      (9001L, ts("2024-03-11 06:35:00"), "gps"),   // 25 min after → out
      (9002L, ts("2024-03-11 06:55:00"), "gps"),   // in
      (9004L, ts("2024-03-11 08:00:00"), "gps"))   // key never matches
    val ls = MemoryStream[(Long, Timestamp, String)]
    val es = MemoryStream[(Long, Timestamp, String)]
    val lDf = ls.toDF.toDF("trip", "t", "site")
    val eDf = es.toDF.toDF("trip", "t", "kind")
    val query = TrackStream.intervalJoinStreamStream(lDf, eDf, "trip", "t")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      ls.addData(landings)
      es.addData(events)
      query.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select("trip", "t", "site", "r_t", "r_kind")
        .orderBy("trip", "t", "r_t").collect().map(_.toSeq)
      val batch = TrackStream.intervalJoinStreamStream(
          landings.toDF("trip", "t", "site"), events.toDF("trip", "t", "kind"),
          "trip", "t")
        .select("trip", "t", "site", "r_t", "r_kind")
        .orderBy("trip", "t", "r_t").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      // exactly the three in-bound pairs; the 25-min gap, the unmatched
      // key, and the eventless landing all drop
      assert(streamed.length == 3)
      assert(streamed.map(_.head).toSeq == Seq(9001L, 9001L, 9002L))
    } finally query.stop()
  }

  test("dedupStream: first arrival survives, cross-batch dups drop, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val streamDf = stream.toDF.toDF("doc_id", "Time", "text")
    val query = TrackStream.dedupStream(streamDf, "text", "Time")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: two distinct docs, one intra-batch duplicate (whitespace
      // variant normalizes identically)
      stream.addData(Seq(
        (1L, ts("2024-03-11 06:00:00"), "fresh content about fishing"),
        (2L, ts("2024-03-11 06:01:00"), "FRESH   content about fishing"),
        (3L, ts("2024-03-11 06:02:00"), "another unique document")))
      query.processAllAvailable()
      // batch 2: re-fetch of doc 1's content within the watermark + a new doc
      stream.addData(Seq(
        (4L, ts("2024-03-11 06:10:00"), "fresh content about fishing"),
        (5L, ts("2024-03-11 06:11:00"), "third distinct text")))
      query.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L)) // 2 (intra-batch) and 4 (cross-batch) dropped
      // batch twin keeps the EARLIEST row per digest — deterministic
      // survivor identity, matching the stream's first-arrival rule
      // (plain dropDuplicates would keep a partition-order-dependent row)
      val batch = TrackStream.dedupStream(
        Seq((1L, ts("2024-03-11 06:00:00"), "fresh content about fishing"),
          (2L, ts("2024-03-11 06:01:00"), "FRESH   content about fishing"),
          (3L, ts("2024-03-11 06:02:00"), "another unique document"))
          .toDF("doc_id", "Time", "text").repartition(7), "text", "Time")
      assert(batch.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    } finally query.stop()
  }

  test("foreachBatch bloom dedup: cross-batch state; a replayed batch emits zero novel docs") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("bloomdedup").toString + "/corpus"
    val state = org.apache.spark.util.sketch.BloomFilter.create(10000, 0.01)
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = stream.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch(TrackStream.bloomDedupForeachBatch("text", "doc_id", dir, state,
        expectedItems = 10000,
        sink = df => emitted.synchronized {
          emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        }))
      .start()
    try {
      stream.addData(Seq((1L, "alpha content one"), (2L, "beta content two")))
      q.processAllAvailable()
      // doc 3 duplicates ingested content; doc 4 is novel
      stream.addData(Seq((3L, "alpha  CONTENT one"), (4L, "gamma content three")))
      q.processAllAvailable()
      // exact REPLAY of batch 1 (at-least-once source retry)
      stream.addData(Seq((1L, "alpha content one"), (2L, "beta content two")))
      q.processAllAvailable()
      assert(emitted.toSeq == Seq(Set(1L, 2L), Set(4L), Set.empty[Long]),
        s"per-batch novel sets: $emitted")
      // the corpus table holds exactly the survivors — the replay
      // appended nothing, so retries are idempotent
      val corpus = spark.read.parquet(dir).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("foreachBatch semantic screen: a paraphrased-contaminated batch emits zero rows; novel rows pass") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Double] = {
      val r = new java.util.Random(seed); Array.fill(16)(r.nextGaussian())
    }
    // paraphrase proxy: tiny perturbation of a benchmark vector
    // (cosine ≈ 0.999 ≫ the 0.8 screen threshold); independent gaussian
    // vectors sit near cosine 0 — far below it
    def paraphrase(seed: Int, jitterSeed: Int): Array[Double] = {
      val r = new java.util.Random(jitterSeed)
      vec(seed).map(x => x + 0.02 * r.nextGaussian())
    }
    val bench = (0 until 5).map(i => (1000L + i, vec(i)))
      .toDF("vec_id", "embedding")
    val stream = MemoryStream[(Long, Array[Double])]
    val dir = java.nio.file.Files.createTempDirectory("semscreen").toString + "/corpus"
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = stream.toDF.toDF("vec_id", "embedding").writeStream
      .foreachBatch(TrackStream.semanticScreenForeachBatch("embedding", "vec_id",
        bench, threshold = 0.8, corpusDir = dir,
        sink = df => emitted.synchronized {
          emitted += df.select("vec_id").collect().map(_.getLong(0)).toSet
        }))
      .start()
    try {
      // batch 0: ENTIRELY benchmark paraphrases — the n-gram-invisible
      // contamination case the screen exists for; must emit zero rows
      stream.addData((0 until 5).map(i => (i.toLong, paraphrase(i, 50 + i))))
      q.processAllAvailable()
      // batch 1: two novel vectors + one more paraphrase
      stream.addData(Seq((10L, vec(100)), (11L, vec(101)),
        (12L, paraphrase(2, 77))))
      q.processAllAvailable()
      assert(emitted.toSeq == Seq(Set.empty[Long], Set(10L, 11L)),
        s"per-batch clean sets: $emitted")
      // the corpus holds exactly the clean rows
      val corpus = spark.read.parquet(dir).select("vec_id").collect()
        .map(_.getLong(0)).toSet
      assert(corpus == Set(10L, 11L))
    } finally q.stop()
    // LSH-mode twin (the outsized-benchmark path) screens the same batch
    // identically — batch-side call, the closure is a plain function
    val dir2 = java.nio.file.Files.createTempDirectory("semscreen2").toString + "/corpus"
    val got = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val mixed = ((0 until 5).map(i => (i.toLong, paraphrase(i, 90 + i)))
      :+ (20L -> vec(200))).toDF("vec_id", "embedding")
    TrackStream.semanticScreenForeachBatch("embedding", "vec_id", bench,
      threshold = 0.8, corpusDir = dir2, useLsh = true,
      sink = df => got += df.select("vec_id").collect().map(_.getLong(0)).toSet)
      .apply(mixed, 0L)
    assert(got.toSeq == Seq(Set(20L)))
  }

  test("bloom sink crash ordering: bloom-ahead-of-corpus re-emits the batch (no loss); rebuilt bloom makes replay idempotent") {
    // the foreachBatch closure is a plain (DataFrame, Long) => Unit, so
    // the crash windows are testable batch-side without a streaming query
    val dir = java.nio.file.Files.createTempDirectory("bloomcrash").toString + "/corpus"
    val state = org.apache.spark.util.sketch.BloomFilter.create(10000, 0.01)
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val sinkFn = TrackStream.bloomDedupForeachBatch("text", "doc_id", dir, state,
      expectedItems = 10000,
      sink = df => emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet)
    val batch1 = Seq((1L, "alpha content one"), (2L, "beta content two"))
      .toDF("doc_id", "text")
    // CRASH WINDOW: merge landed, append didn't — the ordering the sink
    // now guarantees. Simulate: merge batch1's digests into state but
    // never write the corpus.
    state.mergeInPlace(graft.ops.Dedup.buildDigestBloom(
      batch1, "text", expectedItems = 10000))
    // replay of batch1: every row bloom-hits (suspect), but the exact
    // residue check against the REAL (empty) corpus finds them absent —
    // correctly re-emitted and re-appended. Bloom-ahead is safe.
    sinkFn(batch1, 0L)
    assert(emitted.toSeq == Seq(Set(1L, 2L)), s"bloom-ahead replay: $emitted")
    assert(spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // RESTART CONTRACT: a fresh process must rebuild the bloom from the
    // corpus before resuming — a replay then emits zero rows.
    val rebuilt = TrackStream.bloomFromHistory(spark, dir, "text",
      expectedItems = 10000)
    val emitted2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val sinkFn2 = TrackStream.bloomDedupForeachBatch("text", "doc_id", dir, rebuilt,
      expectedItems = 10000,
      sink = df => emitted2 += df.select("doc_id").collect().map(_.getLong(0)).toSet)
    sinkFn2(batch1, 1L)
    assert(emitted2.toSeq == Seq(Set.empty[Long]), s"post-restart replay: $emitted2")
    assert(spark.read.parquet(dir).count() == 2) // nothing re-appended
  }

  test("streaming ingest curation: dedup + quality filter + scrub compose in one query") {
    // the per-row curation ops are pure expressions, so they lift into a
    // continuous query unchanged — this pins that the composed screen
    // (dedup state + stateless filter/scrub/split) actually plans and
    // runs under the streaming engine, not just in batch
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Text
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val stream = MemoryStream[(Long, Timestamp, String, String)]
    val streamDf = stream.toDF.toDF("doc_id", "Time", "text", "url")
    // the domain screen is a stateless expression + a static-side
    // anti-join, so it lifts into the continuous query like the other
    // per-row screens (stream-static joins are streaming-legal)
    val blocked = Seq("spam.example.com").toDF("domain")
    val screened = graft.ops.Corpus.filterByDomainBlocklist(
      streamDf, "url", blocked, "domain")
    val curated = TrackStream.dedupStream(screened, "text", "Time")
      .withColumn("__q", Text.qualityStruct(col("text")))
      .filter(col("__q.n_tokens").between(30, 200))
      .withColumn("scrubbed", Text.scrubPii(col("text")))
      .withColumn("split",
        Text.hashSplit(Text.normalize(col("scrubbed")),
          Seq("train" -> "cd", "valid" -> "e6"), "test"))
      .select("doc_id", "scrubbed", "split")
    val query = curated.writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-03-11 06:00:00"), s"$filler mail a.b@example.com now",
          "https://ok.example.org/1"),
        (2L, ts("2024-03-11 06:01:00"), s"$filler mail a.b@example.com now", // dup of 1
          "https://ok.example.org/2"),
        (3L, ts("2024-03-11 06:02:00"), "too short",                         // fails band
          "https://ok.example.org/3"),
        (4L, ts("2024-03-11 06:03:00"), s"$filler unique spam payload here", // blocked domain
          "https://spam.example.com/4")))
      query.processAllAvailable()
      val out = spark.table("curate_stream").collect()
      assert(out.map(_.getLong(0)).toSet == Set(1L))
      assert(!out.head.getString(1).contains("@example.com")) // scrubbed
      assert(Set("train", "valid", "test")(out.head.getString(2)))
    } finally query.stop()
  }

  test("mapGroupsWithState: running trip stats accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    import TripState._
    val stream = MemoryStream[(Long, Timestamp, Double, Double)]
    val pointsDs = stream.toDS.map(t => PointEvent(t._1, t._2, t._3, t._4))
    val query = runningTripStats(pointsDs)
      .writeStream.format("memory").queryName("trip_stats")
      .outputMode("update").start()
    try {
      stream.addData(Seq((9001L, ts("2024-03-11 06:01:00"), -14.0, 34.8)))
      query.processAllAvailable()
      stream.addData(Seq((9001L, ts("2024-03-11 06:05:00"), -14.2, 35.0)))
      query.processAllAvailable()
      // update mode emits one row per batch; the LAST row carries the
      // accumulated state across both batches
      val last = spark.table("trip_stats")
        .orderBy(col("last_time").desc).collect().head
      assert(last.getAs[Long]("n_points") == 2)
      assert(math.abs(last.getAs[Double]("lat") - (-14.1)) < 1e-12)
      assert(last.getAs[java.sql.Timestamp]("last_time") == ts("2024-03-11 06:05:00"))
    } finally query.stop()
  }

  test("streaming session windows segment trips at the gap; matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val sessionPoints = Seq(
      (1L, ts("2024-03-11 06:00:00"), 1.0, 1.0),
      (1L, ts("2024-03-11 06:20:00"), 2.0, 2.0),  // <30min → same session
      (1L, ts("2024-03-11 07:30:00"), 3.0, 3.0),  // 70min gap → new session
      (2L, ts("2024-03-11 06:05:00"), 4.0, 4.0))
    val stream = MemoryStream[(Long, Timestamp, Double, Double)]
    val streamDf = stream.toDF.toDF("Trip", "Time", "Lat", "Lng")
    val query = TrackStream.sessionize(streamDf, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      stream.addData(sessionPoints)
      query.processAllAvailable()
      // advance the watermark far enough to finalize all sessions
      stream.addData(Seq((2L, ts("2024-03-11 12:00:00"), 9.0, 9.0)))
      query.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .filter(col("session_start") < ts("2024-03-11 08:00:00"))
        .select("Trip", "session_start", "session_end", "n_points")
        .orderBy("Trip", "session_start").collect().map(_.toSeq)
      val batch = TrackStream.sessionize(sessionPoints.toDF("Trip", "Time", "Lat", "Lng"))
        .select("Trip", "session_start", "session_end", "n_points")
        .orderBy("Trip", "session_start").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length == 3) // trip 1: two sessions; trip 2: one
      // session end = last event + gap (merged session spans both points)
      assert(streamed.head == Seq(1L, ts("2024-03-11 06:00:00"), ts("2024-03-11 06:50:00"), 2L))
    } finally query.stop()
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Double, Double)]
    val streamDf = stream.toDF.toDF("Trip", "Time", "Lat", "Lng")
    val query = TrackStream.aggregate(streamDf, watermark = "10 minutes")
      .writeStream.format("memory").queryName("tracks_late")
      .outputMode("append").start() // append finalizes windows past the watermark
    try {
      stream.addData(Seq((1L, ts("2024-03-11 08:00:00"), 1.0, 1.0)))
      query.processAllAvailable()
      // advance event time far beyond 06:00 + watermark, closing old windows
      stream.addData(Seq((1L, ts("2024-03-11 09:00:00"), 2.0, 2.0)))
      query.processAllAvailable()
      // late point for the long-closed 06:00 window → dropped
      stream.addData(Seq((1L, ts("2024-03-11 06:00:30"), 9.0, 9.0)))
      query.processAllAvailable()
      stream.addData(Seq((1L, ts("2024-03-11 10:00:00"), 3.0, 3.0)))
      query.processAllAvailable()
      val finalized = spark.table("tracks_late").select("time").collect()
        .map(_.getTimestamp(0).toString).sorted
      assert(!finalized.exists(_.startsWith("2024-03-11 06:00"))) // late row never emitted
      assert(finalized.exists(_.startsWith("2024-03-11 08:00")))
    } finally query.stop()
  }

  test("kmv sink: cross-batch min-merge equals the whole-stream sketch; replay idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("kmvsink").toString + "/kmv"
    val states = scala.collection.mutable.ArrayBuffer[Set[(String, Long)]]()
    val fn = TrackStream.kmvSketchForeachBatch("src", "k", 16, dir,
      sink = df => states += df.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    val b1 = (1 to 300).map(i => ("a", s"k$i")).toDF("src", "k")
    val b2 = ((301 to 600).map(i => ("a", s"k$i")) ++
      (1 to 50).map(i => ("b", s"x$i"))).toDF("src", "k")
    fn(b1, 0L)
    fn(b2, 1L)
    // after batch 2 the state equals the batch-computed sketch of b1 ∪ b2
    val whole = graft.ops.Corpus.kmvSketch(b1.union(b2), "src", "k", 16)
      .collect().flatMap(r => r.getSeq[Long](1).map(r.getString(0) -> _)).toSet
    assert(states(1) == whole)
    // an at-least-once replay re-contributes hashes the sketch already
    // holds — min-merge is idempotent, no batch-id watermark needed
    fn(b2, 1L)
    assert(states(2) == states(1))
    // state is ≤ groups × k rows forever
    assert(spark.read.parquet(dir).count() <= 2L * 16)
    // and the persisted state composes: overlap estimates come straight
    // off it (group b is disjoint from a)
    val est = graft.ops.Corpus.kmvOverlapReport(
      b1.union(b2), "src", "k", 16).collect().head
    assert(est.getDouble(5) == 0.0) // est_jaccard of disjoint groups
  }

  test("hll sink: cross-batch max-merge equals the whole-stream sketch; replay idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("hllsink").toString + "/regs"
    val ests = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val fn = TrackStream.hllDistinctForeachBatch("src", "k", dir,
      sink = df => ests += df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val b1 = (1 to 300).map(i => ("a", s"k$i")).toDF("src", "k")
    val b2 = ((301 to 600).map(i => ("a", s"k$i")) ++
      (1 to 50).map(i => ("b", s"x$i"))).toDF("src", "k")
    fn(b1, 0L)
    fn(b2, 1L)
    // after batch 2 the estimates equal a batch-computed sketch of b1 ∪ b2
    val whole = graft.ops.Corpus.hllDistinct(b1.union(b2), "src", "k").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ests(1) == whole)
    // an at-least-once replay of batch 2 merges to the SAME frame —
    // estimates never double-count (max is idempotent)
    fn(b2, 1L)
    assert(ests(2) == ests(1))
    // persisted state is register-sized (≤ groups × m), never key-sized
    assert(spark.read.parquet(dir).count() <= 2L * graft.ops.Corpus.HllM)
  }

  test("state commit: the mid-swap crash window recovers the previous frame") {
    val dir = java.nio.file.Files.createTempDirectory("hllcrash").toString + "/regs"
    val ests = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val fn = TrackStream.hllDistinctForeachBatch("src", "k", dir,
      sink = df => ests += df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val b1 = (1 to 200).map(i => ("a", s"k$i")).toDF("src", "k")
    val b2 = (201 to 400).map(i => ("a", s"k$i")).toDF("src", "k")
    fn(b1, 0L)
    // simulate a crash between commitState's two renames: the live dir
    // was renamed aside and the new one never published
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    // next batch must RECOVER b1's registers (roll the .old back), not
    // silently restart the sketch from zero
    fn(b2, 1L)
    val whole = graft.ops.Corpus.hllDistinct(b1.union(b2), "src", "k").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ests(1) == whole)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old"))) // swept
  }

  test("cms sink: batch-id watermark makes the non-idempotent sum-merge replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("cmssink").toString + "/counters"
    val ests = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    val cand = Seq("hot", "warm").toDF("k")
    val fn = TrackStream.cmsCountersForeachBatch("k", dir,
      sink = df => ests += graft.ops.Corpus.cmsEstimate(df, cand, "k").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val b1 = (Seq.fill(100)("hot") ++ Seq.fill(10)("warm")).toDF("k")
    val b2 = Seq.fill(50)("hot").toDF("k")
    fn(b1, 0L)
    fn(b2, 1L)
    // after batch 2 the estimates reflect the full stream
    assert(ests(1)("hot") >= 150 && ests(1)("hot") <= 160)
    assert(ests(1)("warm") >= 10 && ests(1)("warm") <= 20)
    // an at-least-once REPLAY of batch 2 is skipped by the watermark —
    // a naive sum-merge would report ~200 here
    fn(b2, 1L)
    assert(ests(2) == ests(1))
    // the next new batch applies on top
    fn(Seq.fill(25)("hot").toDF("k"), 2L)
    assert(ests(3)("hot") >= 175 && ests(3)("hot") <= 185)
  }

  test("quantile sink: stream percentiles match the batch sketch, replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("qsink").toString + "/sketch"
    val ests = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    val fn = TrackStream.quantileSketchForeachBatch("src", "v", 7, dir,
      sink = df => ests += graft.ops.Corpus
        .quantileSketchEstimate(df, "src", Seq(0.5)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val b1 = (1 to 100).map(i => ("s", i.toLong)).toDF("src", "v")
    val b2 = (101 to 300).map(i => ("s", i.toLong)).toDF("src", "v")
    fn(b1, 0L)
    fn(b2, 1L)
    // state now equals the one-shot batch sketch of the whole stream
    val batchEst = graft.ops.Corpus.quantileSketchEstimate(
      graft.ops.Corpus.quantileSketch(b1.union(b2), "src", "v", 7),
      "src", Seq(0.5)).head.getLong(1)
    assert(ests(1)("s") == batchEst)
    // at-least-once replay of batch 2: the watermark skips the re-sum —
    // a naive merge would double every 101..300 bucket and move p50
    fn(b2, 1L)
    assert(ests(2) == ests(1))
    // next new batch shifts the median upward
    fn((301 to 1000).map(i => ("s", i.toLong)).toDF("src", "v"), 2L)
    assert(ests(3)("s") > ests(1)("s"))
  }

  test("bucketed minhash screen: same semantics as the plain sink, zero history-side shuffle in the probe plan") {
    import graft.PlanTestUtil.{historySideShuffleFree, scansOf}
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("mhbucketed").toString
    val filler = (1 to 30).map(i => s"word$i").mkString(" ")
    val batch0 = Seq((1L, s"$filler alpha beta"), (2L, "tiny unrelated doc here"))
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def screen(corpus: String, bands: String, sets: String) =
      TrackStream.minhashNearDupForeachBatchBucketed("text", "doc_id",
        corpus, bands, sets,
        buckets = 4, n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5,
        sink = df => emitted.synchronized {
          emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        })
    val fn = screen(s"$base/corpus", "graft_stream_bands", "graft_stream_sets")
    def ids(table: String) = spark.table(table).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    try {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF.toDF("doc_id", "text").writeStream
        .foreachBatch(fn).start()
      try {
        // batch 0 lands and seeds both bucketed state tables
        stream.addData(batch0)
        q.processAllAvailable()
        // batch 1: doc 3 near-dups ingested doc 1; doc 4 is novel
        stream.addData(Seq((3L, s"$filler alpha gamma"), (4L, "another novel document entirely")))
        q.processAllAvailable()
        // batch-0 replay (at-least-once retry) emits zero
        stream.addData(batch0)
        q.processAllAvailable()
      } finally q.stop()
      assert(emitted.toSeq == Seq(Set(1L, 2L), Set(4L), Set.empty[Long]),
        s"per-batch novel sets: $emitted")
      assert(spark.read.parquet(s"$base/corpus").select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      // both state tables hold exactly the survivors
      assert(ids("graft_stream_bands") == Set(1L, 2L, 4L))
      assert(ids("graft_stream_sets") == Set(1L, 2L, 4L))
      // THE CONTRACT (round-14 verdict item 4, mirroring
      // IncrementalIndexSpec): the next batch's probe join receives BOTH
      // bucketed history scans with no shuffle exchange between scan and
      // join — history stays bucket-local however large it grows
      val probe = graft.ops.Dedup.minhashIncrementalAgainstIndex(
        Seq((9L, s"$filler alpha delta"), (10L, "yet another novel text"))
          .toDF("doc_id", "text"),
        spark.table("graft_stream_bands"), spark.table("graft_stream_sets"),
        "text", "doc_id", 3, 64, 2, 0.5)
      probe.collect()
      val plan = probe.queryExecution.executedPlan
      val bandCols = Set("band", "bucket")
      val setCols = Set("shingle_hashes")
      assert(scansOf(plan, bandCols).nonEmpty, s"band scan not found:\n$plan")
      assert(scansOf(plan, setCols).nonEmpty, s"sets scan not found:\n$plan")
      assert(historySideShuffleFree(plan, bandCols),
        s"bucketed streaming band state reshuffled before its join:\n$plan")
      assert(historySideShuffleFree(plan, setCols),
        s"bucketed streaming hash sets reshuffled before their join:\n$plan")
      // crash recovery: rebuild both tables from the corpus, replay is
      // idempotent and the rebuilt tables keep the bucketed layout
      TrackStream.minhashIndexFromCorpusBucketed(spark, s"$base/corpus",
        "graft_stream_bands", "graft_stream_sets", "text", "doc_id",
        buckets = 4, n = 3, bands = 64, rowsPerBand = 2)
      emitted.clear()
      fn(batch0.toDF("doc_id", "text"), 3L)
      assert(emitted.toSeq == Seq(Set.empty[Long]), s"post-rebuild replay: $emitted")
      // crash window: the corpus append landed, neither index append did
      // — rebuilding both tables from the corpus makes the replay emit
      // and append nothing
      val base2 = java.nio.file.Files.createTempDirectory("mhcrash").toString
      batch0.toDF("doc_id", "text").write.parquet(s"$base2/corpus")
      TrackStream.minhashIndexFromCorpusBucketed(spark, s"$base2/corpus",
        "graft_stream_bands_crash", "graft_stream_sets_crash", "text", "doc_id",
        buckets = 4, n = 3, bands = 64, rowsPerBand = 2)
      emitted.clear()
      screen(s"$base2/corpus", "graft_stream_bands_crash", "graft_stream_sets_crash")
        .apply(batch0.toDF("doc_id", "text"), 0L)
      assert(emitted.toSeq == Seq(Set.empty[Long]), s"post-recovery replay: $emitted")
      assert(spark.read.parquet(s"$base2/corpus").count() == 2)
    } finally {
      Seq("graft_stream_bands", "graft_stream_sets", "graft_stream_bands_crash",
        "graft_stream_sets_crash").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucketed n-gram screen: same semantics as the plain sink, zero history-side shuffle in the probe plan") {
    import graft.PlanTestUtil.{historySideShuffleFree, scansOf}
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ngbucketed").toString
    val filler = (1 to 30).map(i => s"word$i").mkString(" ")
    val batch0 = Seq((1L, s"$filler alpha beta"), (2L, "tiny unrelated doc here"))
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def screen(corpus: String, index: String) =
      TrackStream.nearDupForeachBatchBucketed("text", "doc_id",
        corpus, index, buckets = 4, n = 3, threshold = 0.5,
        sink = df => emitted.synchronized {
          emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        })
    val fn = screen(s"$base/corpus", "graft_stream_shidx")
    try {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF.toDF("doc_id", "text").writeStream
        .foreachBatch(fn).start()
      try {
        stream.addData(batch0)
        q.processAllAvailable()
        // doc 3 near-dups ingested doc 1 (two words changed out of 32);
        // doc 4 is novel
        stream.addData(Seq((3L, s"$filler alpha gamma"), (4L, "another novel document entirely")))
        q.processAllAvailable()
        // batch-0 replay (at-least-once retry) emits zero
        stream.addData(batch0)
        q.processAllAvailable()
      } finally q.stop()
      assert(emitted.toSeq == Seq(Set(1L, 2L), Set(4L), Set.empty[Long]),
        s"per-batch novel sets: $emitted")
      assert(spark.read.parquet(s"$base/corpus").select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      // the index holds exactly the survivors' shingles
      assert(spark.table("graft_stream_shidx").select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      // THE CONTRACT (round-15 verdict item 6, the n-gram sibling of the
      // round-14 minhash case above): the probe join receives the
      // bucketed shingle index with no shuffle exchange between scan and
      // join — per-batch shuffle stays batch-sized however large the
      // index grows
      val probe = graft.ops.Dedup.nearDupIncrementalAgainstIndex(
        Seq((9L, s"$filler alpha delta"), (10L, "yet another novel text"))
          .toDF("doc_id", "text"),
        spark.table("graft_stream_shidx"), "text", "doc_id", 3, 0.5)
      probe.collect()
      val plan = probe.queryExecution.executedPlan
      val idxCols = Set("n_shingles", "shingle")
      assert(scansOf(plan, idxCols).nonEmpty, s"index scan not found:\n$plan")
      assert(historySideShuffleFree(plan, idxCols),
        s"bucketed streaming shingle index reshuffled before its join:\n$plan")
      // crash recovery: rebuild the index from the corpus; replay stays
      // idempotent on the rebuilt bucketed layout
      TrackStream.shingleIndexFromCorpusBucketed(spark, s"$base/corpus",
        "graft_stream_shidx", "text", "doc_id", buckets = 4, n = 3)
      emitted.clear()
      fn(batch0.toDF("doc_id", "text"), 3L)
      assert(emitted.toSeq == Seq(Set.empty[Long]), s"post-rebuild replay: $emitted")
      // crash window: the corpus append landed, the index append did not
      // — rebuilding the index from the corpus makes the replay emit and
      // append nothing
      val base2 = java.nio.file.Files.createTempDirectory("ngcrash").toString
      batch0.toDF("doc_id", "text").write.parquet(s"$base2/corpus")
      TrackStream.shingleIndexFromCorpusBucketed(spark, s"$base2/corpus",
        "graft_stream_shidx_crash", "text", "doc_id", buckets = 4, n = 3)
      emitted.clear()
      screen(s"$base2/corpus", "graft_stream_shidx_crash")
        .apply(batch0.toDF("doc_id", "text"), 0L)
      assert(emitted.toSeq == Seq(Set.empty[Long]), s"post-recovery replay: $emitted")
      assert(spark.read.parquet(s"$base2/corpus").count() == 2)
    } finally {
      Seq("graft_stream_shidx", "graft_stream_shidx_crash")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bloom screen history contract: all-novel batches never scan history; the residue path scans it shuffle-free") {
    import graft.PlanTestUtil.{historySideShuffleFree, scansOf}
    val histDir = java.nio.file.Files.createTempDirectory("bloomhist").toString + "/corpus"
    Seq((1L, "alpha content one"), (2L, "beta content two"))
      .toDF("doc_id", "text").write.parquet(histDir)
    val history = spark.read.parquet(histDir)
    val bloom = graft.ops.Dedup.buildDigestBloom(history, "text",
      expectedItems = 10000)
    val histCols = Set("text")
    // all-novel batch: the bloom pre-screen short-circuits — the result
    // plan contains NO file scan at all (the history is not read, the
    // exact property that makes healthy-crawl batches history-free)
    val novel = graft.ops.Dedup.exactDedupIncrementalBloom(
      Seq((7L, "wholly novel seven"), (8L, "wholly novel eight"))
        .toDF("doc_id", "text"),
      history, "text", "doc_id", bloom)
    assert(novel.select("doc_id").collect().map(_.getLong(0)).toSet == Set(7L, 8L))
    assert(scansOf(novel.queryExecution.executedPlan, histCols).isEmpty,
      s"all-novel batch read the history:\n${novel.queryExecution.executedPlan}")
    // residue batch (one true dup): the history IS read — as a broadcast
    // -semi STREAM side, never shuffled (the exact screen's equivalent
    // of the bucketed state contract: per-batch history cost is a scan,
    // not an exchange)
    val residue = graft.ops.Dedup.exactDedupIncrementalBloom(
      Seq((3L, "alpha  CONTENT one"), (4L, "gamma content three"))
        .toDF("doc_id", "text"),
      history, "text", "doc_id", bloom)
    assert(residue.select("doc_id").collect().map(_.getLong(0)).toSet == Set(4L))
    val plan = residue.queryExecution.executedPlan
    assert(scansOf(plan, histCols).nonEmpty, s"history scan not found:\n$plan")
    assert(historySideShuffleFree(plan, histCols),
      s"bloom residue path reshuffled the history:\n$plan")
  }

  test("bucketed semantic screen: history-probing embedding dedup; replay emits " +
    "zero; zero history-side shuffle in the probe plan; recovery rebuilds") {
    import graft.PlanTestUtil.{historySideShuffleFree, scansOf}
    val base = java.nio.file.Files.createTempDirectory("sembucketed").toString
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val fn = TrackStream.semanticNearDupForeachBatchBucketed("vec", "doc_id",
      s"$base/corpus", s"$base/centroids", "graft_stream_cells",
      buckets = 4, nCells = 2, probeCells = 2, threshold = 0.9,
      sink = df => emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet)
    try {
      // batch 0 bootstraps the quantizer and seeds the bucketed index
      fn(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
        .toDF("doc_id", "vec"), 0L)
      // batch 1: doc 3 paraphrases ingested doc 1 (cos ≈ 0.998); doc 4 novel
      fn(Seq((3L, Seq(0.95, 0.05, 0.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0, 0.0)))
        .toDF("doc_id", "vec"), 1L)
      // batch-0 replay (at-least-once retry) emits zero
      fn(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
        .toDF("doc_id", "vec"), 2L)
      assert(emitted.toSeq == Seq(Set(1L, 2L), Set(4L), Set.empty[Long]),
        s"per-batch novel sets: $emitted")
      assert(spark.read.parquet(s"$base/corpus").select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      // THE CONTRACT (the ANN-family member of the bucketed-state set):
      // the probe join receives the cell index with no shuffle exchange
      // between scan and join — history stays bucket-local however large
      // the ingested corpus grows
      // doc 9 hits ingested doc 1 (cos ≈ 0.9995) so the probe join stays
      // live in the final adaptive plan (an all-novel batch's empty hit
      // set lets AQE eliminate the anti-join — and the index scan with it)
      val probe = graft.ops.Dedup.semanticIncrementalAgainstCells(
        Seq((9L, Seq(0.97, 0.03, 0.0, 0.0)), (10L, Seq(0.0, 0.0, 0.0, 1.0)))
          .toDF("doc_id", "vec"),
        spark.table("graft_stream_cells"),
        spark.read.parquet(s"$base/centroids"),
        "vec", "doc_id", threshold = 0.9, probeCells = 2)
      assert(probe.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L))
      val plan = probe.queryExecution.executedPlan
      val idxCols = Set("centroid_id", "vec")
      assert(scansOf(plan, idxCols).nonEmpty, s"cell-index scan not found:\n$plan")
      assert(historySideShuffleFree(plan, idxCols),
        s"bucketed cell index reshuffled before its join:\n$plan")
      // crash recovery: rebuild the index from the corpus against the
      // SURVIVING centroids; replay stays idempotent on the rebuilt layout
      TrackStream.semanticIndexFromCorpusBucketed(spark, s"$base/corpus",
        s"$base/centroids", "graft_stream_cells", "vec", "doc_id",
        buckets = 4, nCells = 2)
      emitted.clear()
      fn(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
        .toDF("doc_id", "vec"), 3L)
      assert(emitted.toSeq == Seq(Set.empty[Long]), s"post-rebuild replay: $emitted")
    } finally spark.sql("DROP TABLE IF EXISTS graft_stream_cells")
  }

  test("semantic screen bootstrap guard: empty batches before the first fit " +
    "persist no quantizer; an empty persisted quantizer is refit, not reused") {
    val base = java.nio.file.Files.createTempDirectory("semboot").toString
    val emitted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val fn = TrackStream.semanticNearDupForeachBatchBucketed("vec", "doc_id",
      s"$base/corpus", s"$base/centroids", "graft_stream_cells_boot",
      buckets = 2, nCells = 2, probeCells = 2, threshold = 0.9,
      sink = df => emitted += df.select("doc_id").collect().map(_.getLong(0)).toSet)
    try {
      // streaming retries / idle triggers deliver EMPTY micro-batches;
      // fitting on one would persist zero centroids and every later
      // batch would pass through unscreened, forever
      fn(Seq.empty[(Long, Seq[Double])].toDF("doc_id", "vec"), 0L)
      fn(Seq.empty[(Long, Seq[Double])].toDF("doc_id", "vec"), 1L)
      assert(!new java.io.File(s"$base/centroids").exists(),
        "an empty batch must not persist a quantizer fit")
      // the fit happens on the first NON-EMPTY batch, and the screen then
      // actually screens: doc 3 paraphrases ingested doc 1 and drops
      fn(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
        .toDF("doc_id", "vec"), 2L)
      fn(Seq((3L, Seq(0.95, 0.05, 0.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0, 0.0)))
        .toDF("doc_id", "vec"), 3L)
      assert(emitted.toSeq ==
        Seq(Set.empty[Long], Set.empty[Long], Set(1L, 2L), Set(4L)),
        s"per-batch novel sets: $emitted")
      // damage repair: an empty persisted quantizer (the pre-guard crash
      // window) is treated as ABSENT by both the sink and the rebuild
      val emptyCents = spark.read.parquet(s"$base/centroids").limit(0)
      val base2 = java.nio.file.Files.createTempDirectory("semboot2").toString
      spark.read.parquet(s"$base/corpus").write.parquet(s"$base2/corpus")
      emptyCents.write.parquet(s"$base2/centroids")
      TrackStream.semanticIndexFromCorpusBucketed(spark, s"$base2/corpus",
        s"$base2/centroids", "graft_stream_cells_boot2", "vec", "doc_id",
        buckets = 2, nCells = 2)
      assert(spark.read.parquet(s"$base2/centroids").count() > 0,
        "rebuild must refit an empty quantizer from the corpus")
      assert(spark.table("graft_stream_cells_boot2").count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_stream_cells_boot")
      spark.sql("DROP TABLE IF EXISTS graft_stream_cells_boot2")
    }
  }

  // ----------------------------------------------- streaming LR screen

  /** Shared fixtures for the LR-screen tests: a stopword-heavy
    * reference and batches mixing reference-like with gibberish docs,
    * so trained scores genuinely spread.
    */
  private def lrRef = Seq(
    "the cat sat on the mat and it is a fine day for a walk",
    "it is the best of times and it is the worst of times for all",
    "a fish in the lake is worth two of the birds in that tree")
    .toDF("text")

  private def lrBatch1 = Seq(
    (1L, "the dog ran to the gate and it is happy about that"),
    (2L, "zzzz qqqq vvvv kkkk xxxx jjjj wwww"),
    (3L, "it is a good day for the market and the town is busy"),
    (4L, "qx9 zv7 kk3 mm1 pp5 aa2 bb8"))
    .toDF("doc_id", "text")

  private def lrBatch2 = Seq(
    (11L, "the rain in the hills is soft and it is cold in the morning"),
    (12L, "blorp snarf quux baz qux flib"),
    (13L, "a boat on the water is a calm place to be for an hour"))
    .toDF("doc_id", "text")

  private val lrFeatCols = Seq("__mtl", "__punct", "__upper", "__stop")

  private def lrFeatsOf(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("__q", graft.ops.Text.qualityStruct(col("text")))
      .withColumn("__mtl", col("__q.mean_token_len"))
      .withColumn("__punct", col("__q.punct_ratio"))
      .withColumn("__upper", col("__q.upper_ratio"))
      .withColumn("__stop", col("__q.stopword_hit_ratio"))

  private def lrFitRef(negatives: org.apache.spark.sql.DataFrame): Seq[Double] = {
    val train = lrFeatsOf(lrRef).withColumn("__y", lit(1.0))
      .select((lrFeatCols.map(col) :+ col("__y")): _*)
      .unionByName(lrFeatsOf(negatives.select(col("text")))
        .withColumn("__y", lit(0.0))
        .select((lrFeatCols.map(col) :+ col("__y")): _*))
    graft.ops.Classifier.lrTrain(train, lrFeatCols, "__y", 6).last.weights
  }

  private def scoresOf(df: org.apache.spark.sql.DataFrame,
                       w: Seq[Double]): Map[Long, Double] =
    graft.ops.Classifier.lrScore(lrFeatsOf(df), lrFeatCols, w, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def decisionsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Boolean)] =
    df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap

  test("streaming LR screen: bootstrap fit matches the batch trainer; " +
    "score-only batches ride persisted weights; corpus holds survivors") {
    val base = java.nio.file.Files.createTempDirectory("lrstream").toString
    lrRef.write.parquet(s"$base/ref")
    // expected bootstrap weights: fit on ref vs the RAW first batch
    val w0 = lrFitRef(lrBatch1)
    val s1 = scoresOf(lrBatch1, w0)
    // pick tau splitting batch 1 so the corpus is a proper subset
    val tau = s1.values.toSeq.sorted.apply(s1.size / 2)
    val emitted = scala.collection.mutable.ArrayBuffer[Map[Long, (Double, Boolean)]]()
    val fn = TrackStream.lrQualityScreenForeachBatch("text", "doc_id",
      s"$base/ref", s"$base/corpus", s"$base/weights",
      minScore = tau, refitEveryRows = 0L,
      sink = df => emitted += decisionsOf(df))
    fn(lrBatch1, 0L)
    assert(emitted(0).view.mapValues(_._1).toMap == s1,
      "bootstrap decisions must equal batch-mode lrTrain+lrScore")
    assert(emitted(0).forall { case (_, (s, k)) => k == (s >= tau) })
    val kept1 = s1.filter(_._2 >= tau).keySet
    assert(kept1.nonEmpty && kept1 != s1.keySet, "tau must split batch 1")
    assert(spark.read.parquet(s"$base/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet == kept1)
    // score-only second batch: SAME weights (no refit configured), read
    // back from the persisted vector — parity with direct scoring
    fn(lrBatch2, 1L)
    assert(emitted(1).view.mapValues(_._1).toMap == scoresOf(lrBatch2, w0),
      "score-only batch must use the persisted bootstrap weights")
    val kept2 = emitted(1).filter(_._2._2).keySet
    assert(spark.read.parquet(s"$base/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet == kept1 ++ kept2)
  }

  test("streaming LR screen refit-on-history: the second batch's weights " +
    "are re-fit on the survivor corpus, not the raw batch") {
    val base = java.nio.file.Files.createTempDirectory("lrrefit").toString
    lrRef.write.parquet(s"$base/ref")
    val w0 = lrFitRef(lrBatch1)
    val s1 = scoresOf(lrBatch1, w0)
    val tau = s1.values.toSeq.sorted.apply(s1.size / 2)
    val emitted = scala.collection.mutable.ArrayBuffer[Map[Long, (Double, Boolean)]]()
    val fn = TrackStream.lrQualityScreenForeachBatch("text", "doc_id",
      s"$base/ref", s"$base/corpus", s"$base/weights",
      minScore = tau, refitEveryRows = 1L,
      sink = df => emitted += decisionsOf(df))
    fn(lrBatch1, 0L)
    fn(lrBatch2, 1L)
    // refit negatives = batch-1 SURVIVORS (the corpus), per the
    // fit-on-deduped-history posture — not the raw batch
    val kept1 = lrBatch1.filter(col("doc_id")
      .isin(s1.filter(_._2 >= tau).keys.toSeq: _*))
    val wRefit = lrFitRef(kept1)
    assert(emitted(1).view.mapValues(_._1).toMap == scoresOf(lrBatch2, wRefit),
      "batch 2 must be scored with weights re-fit on ref + corpus survivors")
    assert(wRefit != w0, "fixture must make the refit actually move weights")
  }

  test("streaming LR screen crash ordering: corpus-first means a lost " +
    "weights write self-repairs — resume refits from the corpus " +
    "(lrWeightsFromCorpus parity)") {
    val base = java.nio.file.Files.createTempDirectory("lrcrash").toString
    lrRef.write.parquet(s"$base/ref")
    val w0 = lrFitRef(lrBatch1)
    val s1 = scoresOf(lrBatch1, w0)
    val tau = s1.values.toSeq.sorted.apply(s1.size / 2)
    val emitted = scala.collection.mutable.ArrayBuffer[Map[Long, (Double, Boolean)]]()
    val fn = TrackStream.lrQualityScreenForeachBatch("text", "doc_id",
      s"$base/ref", s"$base/corpus", s"$base/weights",
      minScore = tau, refitEveryRows = 0L,
      sink = df => emitted += decisionsOf(df))
    fn(lrBatch1, 0L)
    // CRASH WINDOW: corpus append landed, weights write didn't — the
    // documented repairable order. Simulate by deleting the weights.
    val wp = new org.apache.hadoop.fs.Path(s"$base/weights")
    wp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wp, true)
    // resume: weights absent + corpus present → the bootstrap path IS
    // the recovery (negatives = survivor corpus)
    fn(lrBatch2, 1L)
    val kept1 = lrBatch1.filter(col("doc_id")
      .isin(s1.filter(_._2 >= tau).keys.toSeq: _*))
    val wRecovered = lrFitRef(kept1)
    assert(emitted(1).view.mapValues(_._1).toMap == scoresOf(lrBatch2, wRecovered),
      "post-crash resume must refit from ref + durable corpus")
    // the eager ops-time form writes the SAME vector
    TrackStream.lrWeightsFromCorpus(spark, s"$base/ref",
      s"$base/corpus2_absent_noop", s"$base/weights2", "text")
    assert(!new java.io.File(s"$base/weights2").exists(),
      "rebuild must no-op without a corpus")
    // corpus now holds batch-1 survivors + batch-2 keeps; rebuild from a
    // PRE-batch-2 snapshot equals the resume fit
    val snap = s"$base/corpus_snap"
    kept1.select(col("doc_id"), col("text")).write.parquet(snap)
    TrackStream.lrWeightsFromCorpus(spark, s"$base/ref", snap,
      s"$base/weights3", "text")
    val persisted = spark.read.parquet(s"$base/weights3").orderBy("idx")
      .select("weight").collect().map(_.getDouble(0)).toSeq
    assert(persisted == wRecovered,
      "lrWeightsFromCorpus must write exactly the resume fit's vector")
  }

  test("streaming LR screen bootstrap guard: an empty first batch emits " +
    "empty decisions and persists nothing") {
    val base = java.nio.file.Files.createTempDirectory("lrempty").toString
    lrRef.write.parquet(s"$base/ref")
    val emitted = scala.collection.mutable.ArrayBuffer[Int]()
    val fn = TrackStream.lrQualityScreenForeachBatch("text", "doc_id",
      s"$base/ref", s"$base/corpus", s"$base/weights",
      minScore = 0.5, refitEveryRows = 0L,
      sink = df => emitted += df.collect().length)
    fn(lrBatch1.limit(0), 0L)
    assert(emitted.toSeq == Seq(0))
    assert(!new java.io.File(s"$base/corpus").exists(),
      "an empty pre-fit batch must not create corpus state")
    assert(!new java.io.File(s"$base/weights").exists(),
      "an empty pre-fit batch must not persist a degenerate fit")
    // the first NON-empty batch then bootstraps normally
    fn(lrBatch1, 1L)
    assert(emitted.toSeq.tail == Seq(4))
    assert(new java.io.File(s"$base/weights").exists())
  }
}
