package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S1/S5/S7/S8 + O-ERR: permissive JSON fault tolerance, stage-table
  * round-trip with contract padding, layered YAML config with env
  * interpolation, filename versioning.
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("O-ERR: corrupt submissions are dropped, not thrown (purrr::possibly)") {
    val payload = Seq(
      """{"_id": 1, "ok": "yes"}""",
      """{"_id": 2, "ok": }garbage""", // corrupt
      """{"_id": 3, "ok": "also"}""")
    val out = Sources.koboSubmissionsFromPayload(spark, payload)
    assert(out.select("_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(!out.columns.contains("_corrupt_record"))
  }

  test("S4/S5: stage table round-trip pads missing contract columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    StageIO.save(Seq((1L, "a")).toDF("id", "x"), s"$dir/t")
    val contract = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("later_added", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val back = StageIO.loadConformed(spark, s"$dir/t", contract)
    assert(back.columns.toSeq == Seq("x", "later_added", "id"))
    assert(back.collect().head.toSeq == Seq("a", null, 1L))
  }

  test("S5 at scale: month-partitioned overwrite prunes on date filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    val df = Seq(("2024-01-05", 1), ("2024-02-11", 2), ("2024-02-12", 3))
      .toDF("landing_date", "v")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
    StageIO.saveByMonth(df, s"$dir/m", "landing_date")
    val back = StageIO.load(spark, s"$dir/m")
    assert(back.filter(col("__month") === "2024-02").count() == 2)
    // partition directories exist on disk → pruning is physical
    val dirs = new java.io.File(s"$dir/m").listFiles().map(_.getName).filter(_.startsWith("__month="))
    assert(dirs.toSet == Set("__month=2024-01", "__month=2024-02"))
  }

  test("bucketed stage tables join without any shuffle exchange") {
    // Rerun-idempotent: drop catalog entries AND warehouse dirs first (the
    // temp warehouse in SparkTestBase already isolates runs; this guards
    // against in-run reuse too).
    def dropManaged(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    dropManaged("graft_bucket_a"); dropManaged("graft_bucket_b")
    try {
      val a = Seq.tabulate(100)(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = Seq.tabulate(100)(i => (i.toLong, s"b$i")).toDF("k", "vb")
      StageIO.saveBucketed(a, "graft_bucket_a", "k", 4)
      StageIO.saveBucketed(b, "graft_bucket_b", "k", 4)
      val joined = spark.table("graft_bucket_a")
        .hint("merge") // force SMJ so the bucketing (not a broadcast) does the work
        .join(spark.table("graft_bucket_b"), Seq("k"))
      assert(joined.count() == 100)
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("SortMergeJoin"))
      assert(!executed.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$executed")
    } finally {
      dropManaged("graft_bucket_a"); dropManaged("graft_bucket_b")
    }
  }

  test("S2/S3: recorded-shape PDS CSV payloads parse through the contracts end-to-end") {
    // real-shape payloads per FIXTURES.md A3/A4 (headers exactly as the
    // PDS API returns them, including the parenthesized unit columns)
    val dir = java.nio.file.Files.createTempDirectory("graft-pds").toString
    val tripsCsv =
      """Trip,IMEI,Boat,Community,Started,Ended,Boat Name
        |9001,869606024123456,B-12,Mangochi,2024-03-10T22:00:00Z,2024-03-11T03:30:00Z,Tilapia Queen
        |9002,869606024123456,B-12,Mangochi,2024-03-11T05:00:00Z,2024-03-11T09:30:00Z,Tilapia Queen
        |9003,869606024999999,B-77,Nkhotakota,2024-03-12T01:00:00Z,2024-03-12T06:00:00Z,Usipa Star
        |""".stripMargin
    val pointsCsv =
      """Trip,Time,Lat,Lng,Boat,Speed (M/S),Range (Meters),Heading,Boat Name,Community
        |9001,2024-03-11T06:01:00Z,-14.01,34.88,B-12,1.5,12.0,180.0,Tilapia Queen,Mangochi
        |9001,2024-03-11T06:04:30Z,-14.02,34.89,B-12,1.6,11.0,181.0,Tilapia Queen,Mangochi
        |9001,2024-03-11T06:09:59Z,-14.03,34.90,B-12,1.4,10.0,182.0,Tilapia Queen,Mangochi
        |9001,2024-03-11T06:10:01Z,-14.04,34.91,B-12,1.3,9.0,183.0,Tilapia Queen,Mangochi
        |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/trips.csv"),
      tripsCsv.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/points.csv"),
      pointsCsv.getBytes("UTF-8"))

    val trips = Sources.pdsTrips(spark, s"$dir/trips.csv")
    assert(trips.schema == graft.pipeline.Schemas.pdsTrips)
    assert(trips.count() == 3)
    // timestamps parsed as real timestamps, not strings
    assert(trips.filter(col("Ended") > col("Started")).count() == 3)

    val points = Sources.pdsTripPoints(spark, s"$dir/points.csv")
    assert(points.schema == graft.pipeline.Schemas.pdsTripPoints)
    // noise columns present on the wire, dropped by the export projection
    // (R/export.R:161-164), and the 10-minute buckets split 3/1 across the
    // 06:10 boundary (floor_date semantics)
    val merged = Seq(("sub1", "s1", "vt", "gear", "usipa", 12.5, 9001L))
      .toDF("submission_id", "survey_id", "vessel_type", "gear",
        "catch_taxon", "catch_kg", "Trip")
    val tracks = graft.pipeline.Export.matchedTracks(merged, points)
    assert(!tracks.columns.exists(Set("Boat", "Speed (M/S)", "Range (Meters)",
      "Heading", "Boat Name", "Community").contains))
    val buckets = tracks.select("time", "lat").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
    assert(buckets.size == 2)
    assert(buckets.keySet.exists(_.startsWith("2024-03-11 06:00")) &&
      buckets.keySet.exists(_.startsWith("2024-03-11 06:10")))
  }

  test("incremental appendDedup: append run equals full rerun, re-append is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString + "/t"
    def mk(rows: (String, String, Int)*) =
      rows.toSeq.toDF("survey_id", "landing_date", "v")
        .withColumn("landing_date", to_timestamp(col("landing_date")))
    val batch1 = mk(("a", "2024-01-05", 1), ("b", "2024-02-11", 2))
    val batch2 = mk(("b", "2024-02-11", 2), // overlap — must not duplicate
      ("c", "2024-02-12", 3), ("d", "2024-03-01", 4))
    StageIO.appendDedup(spark, batch1, dir, "landing_date", Seq("survey_id"))
    StageIO.appendDedup(spark, batch2, dir, "landing_date", Seq("survey_id"))
    def snapshot() = StageIO.load(spark, dir)
      .select("survey_id", "v").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val incremental = snapshot()
    assert(incremental == Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    // re-appending the same batch changes nothing
    StageIO.appendDedup(spark, batch2, dir, "landing_date", Seq("survey_id"))
    assert(snapshot() == incremental)
    // equals the truncate-and-load of the union (the reference's semantics)
    val fullDir = java.nio.file.Files.createTempDirectory("graft-full").toString + "/t"
    StageIO.saveByMonth(batch1.unionByName(batch2).dropDuplicates("survey_id"),
      fullDir, "landing_date")
    val full = StageIO.load(spark, fullDir)
      .select("survey_id", "v").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(incremental == full)
  }

  test("appendDedup key-scope contract: cross-month key migration dedups only with monthScopedKeys=false") {
    def mk(rows: (String, String, Int)*) =
      rows.toSeq.toDF("survey_id", "landing_date", "v")
        .withColumn("landing_date", to_timestamp(col("landing_date")))
    val jan = mk(("a", "2024-01-05", 1))
    val aCorrectedToFeb = mk(("a", "2024-02-20", 9)) // same key, new month
    def rows(dir: String) = StageIO.load(spark, dir)
      .select("survey_id", "v").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    // default (month-scoped): the migrated key misses the pruned anti-join
    // and lands as a second copy — the documented contract boundary
    val scopedDir = java.nio.file.Files.createTempDirectory("graft-scope").toString + "/t"
    StageIO.appendDedup(spark, jan, scopedDir, "landing_date", Seq("survey_id"))
    StageIO.appendDedup(spark, aCorrectedToFeb, scopedDir, "landing_date", Seq("survey_id"))
    assert(rows(scopedDir) == Seq(("a", 1), ("a", 9)))
    // monthScopedKeys=false: anti-join sees every partition's keys
    val globalDir = java.nio.file.Files.createTempDirectory("graft-global").toString + "/t"
    StageIO.appendDedup(spark, jan, globalDir, "landing_date", Seq("survey_id"))
    StageIO.appendDedup(spark, aCorrectedToFeb, globalDir, "landing_date", Seq("survey_id"),
      monthScopedKeys = false)
    assert(rows(globalDir) == Seq(("a", 1)))
  }

  test("S7: layered YAML config merges profile over default and interpolates env") {
    val yaml =
      """default:
        |  storage:
        |    collection: raw
        |    conn: ${GRAFT_TEST_CONN}
        |  validation:
        |    k_nfishers: 2.5
        |    k_pricekg: 3
        |production:
        |  storage:
        |    collection: raw_prod
        |""".stripMargin
    val conf = PipelineConfig.parse(yaml, "production", Map("GRAFT_TEST_CONN" -> "mongodb://x"))
    assert(conf.getString("storage.collection").contains("raw_prod")) // overridden
    assert(conf.getString("storage.conn").contains("mongodb://x"))    // interpolated
    assert(conf.validationK.kNFishers == 2.5 && conf.validationK.kPriceKg == 3.0)
    val dflt = PipelineConfig.parse(yaml, "default", Map.empty)
    assert(dflt.getString("storage.collection").contains("raw"))
    assert(dflt.getString("storage.conn").contains("")) // missing env → ""
  }

  test("S7: a present config value that does not parse fails naming the key; empty keeps the default") {
    def conf(body: String) = PipelineConfig.parse(s"default:\n$body", "default", Map.empty)
    val comma = intercept[IllegalArgumentException](
      conf("  validation:\n    k_nfishers: \"2,5\"\n").validationK)
    assert(comma.getMessage.contains("validation.k_nfishers") && comma.getMessage.contains("2,5"))
    val typo = intercept[IllegalArgumentException](
      conf("  curation:\n    nfc_normalize: ture\n").curationConf)
    assert(typo.getMessage.contains("curation.nfc_normalize") && typo.getMessage.contains("ture"))
    // an unset ${VAR} interpolates to "", which keeps the default
    val unset = conf("  validation:\n    k_nboats: ${GRAFT_UNSET_K}\n  curation:\n" +
      "    fold_accents: ${GRAFT_UNSET_FLAG}\n")
    assert(unset.validationK == graft.pipeline.Validate.Ks())
    assert(!unset.curationConf.foldAccents)
  }

  test("curationConf: yaml knobs surface, absent keys fall to stage defaults") {
    val conf = PipelineConfig.parse(
      """default:
        |  curation:
        |    jaccard_threshold: 0.35
        |    strip_span_k: 8
        |    nfc_normalize: true
        |""".stripMargin)
    val c = conf.curationConf
    assert(c.jaccardThreshold == 0.35 && c.stripSpanK == 8 && c.nfcNormalize)
    assert(!c.foldAccents) // absent -> off
    val fold = PipelineConfig.parse(
      "default:\n  curation:\n    fold_accents: true\n").curationConf
    assert(fold.foldAccents)
    assert(c.minTokens == 30L && c.maxTokens == 200L && c.maxShingleDocFreq == 0L)
    // no curation section at all -> exactly the Curate(docs) defaults
    val empty = PipelineConfig.parse("default:\n  other: 1\n")
    assert(empty.curationConf ==
      PipelineConfig.CurationConf(0.2, 30L, 200L, false, false, 0, 0L))
    // domain-screen knobs: url column + a YAML list of blocked domains
    val dom = PipelineConfig.parse(
      """default:
        |  curation:
        |    url_col: url
        |    blocked_domains:
        |      - spam.example.com
        |      - ads.example.net
        |""".stripMargin).curationConf
    assert(dom.urlCol.contains("url"))
    assert(dom.blockedDomains == Seq("spam.example.com", "ads.example.net"))
    // decontamination knobs: benchmark parquet path + shingle length + floor
    val dec = PipelineConfig.parse(
      """default:
        |  curation:
        |    benchmark_path: /data/benchmarks/eval.parquet
        |    decontaminate_n: 13
        |    decontaminate_min_shared: 2
        |""".stripMargin).curationConf
    assert(dec.benchmarkPath.contains("/data/benchmarks/eval.parquet"))
    assert(dec.decontaminateN == 13 && dec.decontaminateMinShared == 2L)
    // absent -> screen off, stage defaults
    assert(empty.curationConf.benchmarkPath.isEmpty &&
      empty.curationConf.decontaminateN == 8 &&
      empty.curationConf.decontaminateMinShared == 1L)
    // selection knobs: perplexity-bucket screen + DSIR top-k
    val sel = PipelineConfig.parse(
      """default:
        |  curation:
        |    ppl_keep_buckets:
        |      - head
        |      - middle
        |    ppl_lang_col: lang
        |    dsir_target_path: /data/ref/wiki.parquet
        |    dsir_k: 100000
        |""".stripMargin).curationConf
    assert(sel.pplKeepBuckets == Seq("head", "middle"))
    assert(sel.pplLangCol.contains("lang"))
    assert(sel.dsirTargetPath.contains("/data/ref/wiki.parquet"))
    assert(sel.dsirK == 100000)
    assert(empty.curationConf.pplKeepBuckets.isEmpty &&
      empty.curationConf.pplLangCol.isEmpty &&
      empty.curationConf.dsirK == 0)
    // line-level dedup knob
    val ln = PipelineConfig.parse(
      "default:\n  curation:\n    strip_line_dups: true\n").curationConf
    assert(ln.stripLineDups && !empty.curationConf.stripLineDups)
    // trained-LR quality-screen knobs (round 17)
    val lr = PipelineConfig.parse(
      """default:
        |  curation:
        |    lr_quality_target_path: /data/ref/quality.parquet
        |    lr_quality_min_score: 0.6
        |    lr_quality_keep_k: 50000
        |    lr_quality_iters: 12
        |""".stripMargin).curationConf
    assert(lr.lrQualityTargetPath.contains("/data/ref/quality.parquet"))
    assert(lr.lrQualityMinScore == 0.6 && lr.lrQualityIters == 12)
    assert(lr.lrQualityKeepK == 50000)
    assert(empty.curationConf.lrQualityTargetPath.isEmpty &&
      empty.curationConf.lrQualityMinScore == 0.5 &&
      empty.curationConf.lrQualityKeepK == 0 &&
      empty.curationConf.lrQualityIters == 6)
  }

  test("compact: fragmented table rewrites to the targeted file count, data intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // 24 single-row appends -> 24+ tiny parquet files
    (1 to 24).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .write.mode("append").parquet(dir)
    }
    def files() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = files()
    assert(before >= 24)
    val beforeRows = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // ~4 KB per tiny file; an 8 KB target must land well under the input
    // file count and the table must read back identical
    StageIO.compact(spark, dir, targetFileBytes = 8L * 1024)
    val after = files()
    assert(after < before, s"compacted $before -> $after files")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == beforeRows)
    assert(!new java.io.File(dir + ".tmp").exists(), "tmp dir must be swapped away")
    // idempotent on an already-compact table (big target -> 1 file)
    StageIO.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(files() == 1)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == beforeRows)
    assert(!new java.io.File(dir + ".old").exists(), ".old must be swept after publish")
    // crash recovery: a compact that died between its two renames leaves
    // live absent + `.old` holding the table; recoverCompact (and the
    // next compact, which runs it first) must roll the table back
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    StageIO.recover(fs, dir)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == beforeRows)
    assert(!new java.io.File(dir + ".old").exists(), "rollback must consume .old")
    // crash after publish, before cleanup: live present + stale `.old` —
    // the next compact sweeps it and still works
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".old"))
    StageIO.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(!new java.io.File(dir + ".old").exists())
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == beforeRows)
  }

  test("S5: a stage whose write fails keeps its previous table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-failwrite").toString + "/t"
    val first = Seq((1L, "a"), (2L, "b")).toDF("id", "x")
    StageIO.save(first, dir)
    def rows() = StageIO.load(spark, dir).collect().map(_.toSeq).toSet
    val before = rows()
    assert(before == Set(Seq(1L, "a"), Seq(2L, "b")))
    // the transform is lazy and runs inside the write: this frame's tasks
    // throw after the overwrite has started (a range, not a local frame,
    // so the optimizer cannot fold the error into planning)
    val dying = spark.range(1, 4).select(col("id"),
      raise_error(lit("stage died mid-write")).cast("string").as("x"))
    intercept[Exception](StageIO.save(dying, dir))
    assert(rows() == before)
    // a crash between the swap's two renames leaves the live table at
    // `.old`: load rolls it back instead of reading "no table"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    assert(rows() == before)
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("src/main renames table directories only in sources/StageIO.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val renames = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .filter(_._1.contains(".rename("))
          .map { case (_, i) => s"${root.relativize(p)}:${i + 1}" }
      }
    assert(renames.nonEmpty && renames.forall(_.startsWith("graft/sources/StageIO.scala:")),
      renames.mkString(", "))
  }

  test("S8: add_version stamps timestamp + short sha") {
    val name = Sources.addVersion("landings", "csv", "abcdef0123456",
      now = java.time.LocalDateTime.of(2024, 3, 12, 8, 30, 5))
    assert(name == "landings__20240312083005_abcdef0.csv")
  }
}
