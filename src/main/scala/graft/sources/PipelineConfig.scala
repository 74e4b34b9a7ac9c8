package graft.sources

import scala.jdk.CollectionConverters._

import graft.pipeline.Validate

/** S7 — layered YAML config with environment interpolation (reference
  * read_config, R/utils.R:65-77 over inst/config.yml: `default` plus an
  * active profile like `production`/`local`, profile values overriding
  * defaults; secrets resolved from environment variables).
  *
  * `${VAR}` placeholders interpolate from the provided environment
  * (missing vars resolve to "" like R's Sys.getenv default). Validation
  * constants (`k_*`, reference inst/config.yml:42-46) surface through
  * [[Conf.validationK]].
  */
object PipelineConfig {

  /** Curation-stage knobs (see [[graft.pipeline.Curate]]): thresholds for
    * the near-dup cluster and quality band, plus the optional bracketed
    * stages (NFC canonicalization, substring strip) and the boilerplate
    * doc-frequency hatch — all default to the stage's own defaults so an
    * absent `curation:` section reproduces `Curate(docs)` exactly.
    */
  case class CurationConf(jaccardThreshold: Double, minTokens: Long,
                          maxTokens: Long, nfcNormalize: Boolean,
                          foldAccents: Boolean,
                          stripSpanK: Int, maxShingleDocFreq: Long,
                          urlCol: Option[String] = None,
                          blockedDomains: Seq[String] = Nil,
                          benchmarkPath: Option[String] = None,
                          decontaminateN: Int = 8,
                          decontaminateMinShared: Long = 1L,
                          stripLineDups: Boolean = false,
                          pplKeepBuckets: Seq[String] = Nil,
                          pplLangCol: Option[String] = None,
                          dsirTargetPath: Option[String] = None,
                          dsirK: Int = 0,
                          lrQualityTargetPath: Option[String] = None,
                          lrQualityMinScore: Double = 0.5,
                          lrQualityKeepK: Int = 0,
                          lrQualityIters: Int = 6,
                          nearDupFamily: String = "ngram",
                          minhashBands: Int = 64,
                          minhashRowsPerBand: Int = 2)

  final case class Conf(values: Map[String, Any]) {
    /** Dotted-path lookup: conf.get("storage.mongodb.database"). */
    def get(path: String): Option[Any] =
      path.split('.').foldLeft(Option[Any](values)) {
        case (Some(m: Map[String @unchecked, Any @unchecked]), key) => m.get(key)
        case _ => None
      }
    def getString(path: String): Option[String] = get(path).map(_.toString)
    def getDouble(path: String): Option[Double] = getString(path).flatMap(_.toDoubleOption)
    def getBoolean(path: String): Option[Boolean] = getString(path).flatMap(_.toBooleanOption)

    /** The validate stage's k's: `validation.k_*` overlaid on
      * [[Validate.Ks]]'s defaults. */
    def validationK: Validate.Ks = {
      val d = Validate.Ks()
      Validate.Ks(
        getDouble("validation.k_nfishers").getOrElse(d.kNFishers),
        getDouble("validation.k_nboats").getOrElse(d.kNBoats),
        getDouble("validation.k_pricekg").getOrElse(d.kPriceKg))
    }

    def getStringList(path: String): Seq[String] = get(path) match {
      case Some(l: List[_]) => l.map(_.toString)
      case _ => Nil
    }

    def curationConf: CurationConf = CurationConf(
      getDouble("curation.jaccard_threshold").getOrElse(0.2),
      getDouble("curation.min_tokens").map(_.toLong).getOrElse(30L),
      getDouble("curation.max_tokens").map(_.toLong).getOrElse(200L),
      getBoolean("curation.nfc_normalize").getOrElse(false),
      getBoolean("curation.fold_accents").getOrElse(false),
      getDouble("curation.strip_span_k").map(_.toInt).getOrElse(0),
      getDouble("curation.max_shingle_doc_freq").map(_.toLong).getOrElse(0L),
      getString("curation.url_col"),
      getStringList("curation.blocked_domains"),
      getString("curation.benchmark_path"),
      getDouble("curation.decontaminate_n").map(_.toInt).getOrElse(8),
      getDouble("curation.decontaminate_min_shared").map(_.toLong).getOrElse(1L),
      getBoolean("curation.strip_line_dups").getOrElse(false),
      getStringList("curation.ppl_keep_buckets"),
      getString("curation.ppl_lang_col"),
      getString("curation.dsir_target_path"),
      getDouble("curation.dsir_k").map(_.toInt).getOrElse(0),
      getString("curation.lr_quality_target_path"),
      getDouble("curation.lr_quality_min_score").getOrElse(0.5),
      getDouble("curation.lr_quality_keep_k").map(_.toInt).getOrElse(0),
      getDouble("curation.lr_quality_iters").map(_.toInt).getOrElse(6),
      getString("curation.near_dup_family").getOrElse("ngram"),
      getDouble("curation.minhash_bands").map(_.toInt).getOrElse(64),
      getDouble("curation.minhash_rows_per_band").map(_.toInt).getOrElse(2))
  }

  private val EnvRef = raw"\$$\{([A-Za-z_][A-Za-z0-9_]*)\}".r

  private def toScala(v: Any, env: Map[String, String]): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x, env) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala(_, env)).toList
    case s: String => EnvRef.replaceAllIn(s, m => env.getOrElse(m.group(1), ""))
    case other => other
  }

  private def deepMerge(base: Map[String, Any], over: Map[String, Any]): Map[String, Any] =
    over.foldLeft(base) {
      case (acc, (k, v: Map[String @unchecked, Any @unchecked])) =>
        acc.get(k) match {
          case Some(b: Map[String @unchecked, Any @unchecked]) => acc.updated(k, deepMerge(b, v))
          case _ => acc.updated(k, v)
        }
      case (acc, (k, v)) => acc.updated(k, v)
    }

  /** Parse layered YAML: the `default` section overlaid by `profile`. */
  def parse(yamlText: String, profile: String = "default",
            env: Map[String, String] = sys.env): Conf = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = toScala(yaml.load[java.util.Map[String, Any]](yamlText), env)
      .asInstanceOf[Map[String, Any]]
    val base = root.getOrElse("default", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]]
    val active =
      if (profile == "default") Map.empty[String, Any]
      else root.getOrElse(profile, Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
    Conf(deepMerge(base, active))
  }

  def load(path: String, profile: String = "default"): Conf =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))), profile)
}
