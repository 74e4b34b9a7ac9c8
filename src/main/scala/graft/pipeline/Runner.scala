package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{PipelineConfig, StageIO}

/** The six-stage DAG (reference .github/workflows/data-pipeline.yaml:
  * ingest → preprocess → validate → {merge → export-tracks,
  * export-landings}), each stage a pure transform between parquet stage
  * tables — the Spark equivalent of the reference's
  * pull-transform-push-to-MongoDB jobs. Stages are independently
  * runnable/re-runnable (cron semantics), communicate only through the
  * stage tables, and every transform is the library function the tests
  * exercise directly.
  */
object Runner {

  case class StageTables(root: String) {
    val raw = s"$root/raw"
    val preprocessed = s"$root/preprocessed"
    val validated = s"$root/validated"
    val alertFlags = s"$root/alert_flags"
    val mergedTrips = s"$root/merged_trips"
    val landingsSummary = s"$root/landings_summary"
    val matchedTracks = s"$root/matched_tracks"
    val curatedChunks = s"$root/curated_chunks"
  }

  /** Stage 1 — ingest_landings: denormalize each form's submissions,
    * union by name, persist raw.
    */
  def ingest(spark: SparkSession, tables: StageTables,
             forms: Seq[(String, DataFrame)]): Unit =
    StageIO.save(Ingest(forms), tables.raw)

  /** Stage 2 — preprocess_landings. */
  def preprocess(spark: SparkSession, tables: StageTables): Unit =
    StageIO.save(Preprocess(StageIO.load(spark, tables.raw)), tables.preprocessed)

  /** Stage 3 — validate_landings (+ the alert-flags output the reference
    * computes but never persists — kept first-class, SURVEY.md V7).
    * Runs [[Validate.fused]] instead of the faithful chain's re-scans and
    * join tree: its one small bounds query runs once, when it is called,
    * and each of the two writes is then a single scan-project-write job
    * with the bounds as constants. The two forms agree whenever
    * (form_name, survey_id) is unique and non-null, which [[Preprocess]]
    * guarantees for this stage's input.
    */
  def validate(spark: SparkSession, tables: StageTables,
               ks: Validate.Ks = Validate.Ks()): Unit = {
    val res = Validate.fused(StageIO.load(spark, tables.preprocessed), ks)
    StageIO.save(res.validated, tables.validated)
    StageIO.save(res.alertFlags, tables.alertFlags)
  }

  /** Config-driven validation: the `validation.k_*` constants come from the
    * layered YAML config (reference inst/config.yml:42-46 feeds
    * validate_landings the same way), not call-site defaults.
    */
  def validate(spark: SparkSession, tables: StageTables,
               conf: PipelineConfig.Conf): Unit =
    validate(spark, tables, conf.validationK)

  /** Stage 4 — merge_trips: IMEIs validated once per distinct tracker
    * value and attached by survey_id ([[Validate.attachImeis]]), then the
    * 1:1 (landing_date, imei) match against PDS trips.
    */
  def mergeTrips(spark: SparkSession, tables: StageTables,
                 trips: DataFrame, deviceRegistry: DataFrame,
                 registryCol: String = "IMEI"): Unit = {
    val landings = Validate.attachImeis(StageIO.load(spark, tables.preprocessed),
      "tracker_imei", deviceRegistry, registryCol)
    StageIO.save(MergeTrips(landings, trips), tables.mergedTrips)
  }

  /** Stage 5 — export_landings. */
  def exportLandings(spark: SparkSession, tables: StageTables): Unit =
    StageIO.save(Export.landingsSummary(StageIO.load(spark, tables.validated)),
      tables.landingsSummary)

  /** Stage 6 — export_matched_tracks. */
  def exportTracks(spark: SparkSession, tables: StageTables, points: DataFrame): Unit =
    StageIO.save(Export.matchedTracks(StageIO.load(spark, tables.mergedTrips), points),
      tables.matchedTracks)

  /** Curation stage — the training-data branch: dedup → filter → scrub →
    * split → chunk over a document corpus (see [[Curate]] for the
    * ordering contracts). Independent of the landings DAG; same
    * stage-table discipline.
    */
  def curate(spark: SparkSession, tables: StageTables, docs: DataFrame): Unit =
    StageIO.save(Curate(docs), tables.curatedChunks)

  /** Config-driven curation (reference S7 discipline — the stage's knobs
    * come from the layered YAML, mirroring how `validate` takes its k's):
    * an absent `curation:` section reproduces the default chain. The
    * decontamination screen activates when `curation.benchmark_path`
    * names a parquet corpus with a `text` column; `decontaminate_n` /
    * `decontaminate_min_shared` tune the shingle length and hit floor.
    */
  def curate(spark: SparkSession, tables: StageTables, docs: DataFrame,
             conf: graft.sources.PipelineConfig.Conf): Unit = {
    val c = conf.curationConf
    StageIO.save(Curate(docs,
      jaccardThreshold = c.jaccardThreshold,
      minTokens = c.minTokens, maxTokens = c.maxTokens,
      maxShingleDocFreq = c.maxShingleDocFreq,
      benchmark = c.benchmarkPath.map(spark.read.parquet(_)),
      decontaminateN = c.decontaminateN,
      decontaminateMinShared = c.decontaminateMinShared,
      nfcNormalize = c.nfcNormalize,
      foldAccents = c.foldAccents,
      stripSpanK = c.stripSpanK,
      stripLineDups = c.stripLineDups,
      urlCol = c.urlCol,
      blockedDomains = c.blockedDomains,
      pplKeepBuckets = c.pplKeepBuckets,
      pplLangCol = c.pplLangCol,
      dsirTarget = c.dsirTargetPath.map(spark.read.parquet(_)),
      dsirK = c.dsirK,
      lrQualityTarget = c.lrQualityTargetPath.map(spark.read.parquet(_)),
      lrQualityMinScore = c.lrQualityMinScore,
      lrQualityKeepK = c.lrQualityKeepK,
      lrQualityIters = c.lrQualityIters,
      nearDupFamily = c.nearDupFamily,
      minhashBands = c.minhashBands,
      minhashRowsPerBand = c.minhashRowsPerBand), tables.curatedChunks)
  }

  /** Full DAG in reference order. */
  def runAll(spark: SparkSession, tables: StageTables,
             forms: Seq[(String, DataFrame)], trips: DataFrame,
             points: DataFrame, deviceRegistry: DataFrame): Unit = {
    ingest(spark, tables, forms)
    preprocess(spark, tables)
    validate(spark, tables)
    mergeTrips(spark, tables, trips, deviceRegistry)
    exportLandings(spark, tables)
    exportTracks(spark, tables, points)
  }
}
