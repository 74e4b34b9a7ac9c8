package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.{Bounds, Dedup, Similarity, Text}
import graft.pipeline.Model

/** spark.sql surface parity for the custom expressions + the typed
  * Dataset model for fixed-contract stages.
  */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("registered SQL functions match the Column API") {
    GraftFunctions.register(spark)
    Seq((1L, "the quick brown fox", Array(0.5, 0.25, -1.0)),
        (2L, "jumps over lazy dogs", Array(0.1, 0.9, 0.2)))
      .toDF("id", "text", "vec").createOrReplaceTempView("t")

    val viaSql = spark.sql(
      """SELECT id,
           simhash64(filter(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '),
                     x -> length(x) > 0)) AS sh,
           hyperplane_bucket(vec, 4) AS hb,
           cosine_sim(vec, vec) AS self_cos
         FROM t ORDER BY id""").collect()
    val viaCols = spark.table("t").select(
      col("id"),
      Dedup.simhash64(col("text")).as("sh"),
      Similarity.hyperplaneBucket(col("vec"), 4).as("hb"),
      Similarity.cosine(col("vec"), col("vec")).as("self_cos"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCols.map(_.toSeq).toSeq)
    assert(viaSql.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-12))

    val agg = spark.sql(
      "SELECT locscaleb(v, 3.0, true) AS b FROM VALUES (1.0),(2.0),(3.0),(4.0),(5.0) AS x(v)")
      .select("b.median").collect().head.getDouble(0)
    assert(math.abs(agg - math.log1p(3.0)) < 1e-12)
  }

  test("nfc_normalize: composes decomposed forms, identity fast path, SQL parity") {
    GraftFunctions.register(spark)
    val decomposed = "café"          // e + combining acute, 5 code points
    val composed = "café"             // precomposed é, 4 code points
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("id", "s")
    val out = df.select(col("id"),
      TextExprs.nfcNormalize(col("s")).as("n"),
      length(TextExprs.nfcNormalize(col("s"))).as("len"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == ((composed, 4)))     // composed, one code point shorter
    assert(out(2L) == ((composed, 4)))     // already-NFC input unchanged
    assert(out(3L) == (("plain ascii", 11)))
    // null-preserving
    val n = df.select(TextExprs.nfcNormalize(lit(null).cast("string"))).collect()
    assert(n.head.isNullAt(0))
    // SQL surface matches the Column API
    df.createOrReplaceTempView("nfc_t")
    val viaSql = spark.sql("SELECT nfc_normalize(s) FROM nfc_t ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == Seq(composed, composed, "plain ascii"))
  }

  test("strip_accents: folds marks, survivors, recompose path, SQL parity") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "café Müller São"),   // composed accents strip
      (2L, "café"),                        // decomposed accent strips too
      (3L, "Ørsted ø"),                // ø is not decomposable: survives
      (4L, "한국 ascii"),                // Hangul: NFD→Jamo→NFC round-trip
      (5L, "plain ascii"))
      .toDF("id", "s")
    val out = df.select(col("id"), TextExprs.stripAccents(col("s")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "cafe Muller Sao")
    assert(out(2L) == "cafe")
    assert(out(3L) == "Ørsted ø")
    assert(out(4L) == "한국 ascii")   // composed syllables, unchanged
    assert(out(5L) == "plain ascii")
    val n = df.select(TextExprs.stripAccents(lit(null).cast("string"))).collect()
    assert(n.head.isNullAt(0))
    df.createOrReplaceTempView("sa_t")
    val viaSql = spark.sql("SELECT strip_accents(s) FROM sa_t ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == Seq("cafe Muller Sao", "cafe", "Ørsted ø",
      "한국 ascii", "plain ascii"))
  }

  test("jaro_winkler: textbook values, boost threshold, empties, SQL parity") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "martha", "marhta"),   // transpositions + prefix boost
      (2L, "dixon", "dicksonx"),  // textbook 0.8133...
      (3L, "aaxxxx", "aayyyy"),   // jaro 0.5556 <= 0.7 → NO boost
      (4L, "crate", "trace"),     // jaro > 0.7 but prefix 0 → unchanged
      (5L, "same", "same"),
      (6L, "x", "y"),
      (7L, "", "abc"))
      .toDF("id", "a", "b")
    val got = df.select(col("id"), TextExprs.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-12
    assert(close(got(1L), 0.9611111111111111))
    assert(close(got(2L), 0.8133333333333332))
    assert(close(got(3L), 0.5555555555555555))  // unboosted despite "aa" prefix
    assert(close(got(4L), 0.7333333333333334))
    assert(got(5L) == 1.0 && got(6L) == 0.0 && got(7L) == 0.0)
    val n = df.select(TextExprs.jaroWinkler(lit(null).cast("string"), col("a"))).collect()
    assert(n.head.isNullAt(0))
    df.createOrReplaceTempView("jw_t")
    val viaSql = spark.sql("SELECT jaro_winkler(a, b) FROM jw_t ORDER BY id")
      .collect().map(_.getDouble(0)).toSeq
    assert(viaSql.zip(Seq(0.9611111111111111, 0.8133333333333332,
      0.5555555555555555, 0.7333333333333334, 1.0, 0.0, 0.0))
      .forall { case (x, y) => close(x, y) })
  }

  test("multi_match: Aho-Corasick failure links, overlaps, empties, naive parity") {
    val pats = Seq("he", "she", "his", "hers", "ushe")
    val texts = Seq(
      (1L, "ushers"),     // the classic: she, he (inside ushers), hers, ushe
      (2L, "this"),       // his via failure transition from t
      (3L, ""),           // empty text
      (4L, "xyz"),        // no matches
      (5L, "shehehers"))
    val df = texts.toDF("id", "t")
    val got = df.select(col("id"),
      TextExprs.multiMatch(col("t"), pats).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    // naive reference: substring containment per pattern, sorted
    val naive = texts.map { case (id, t) =>
      id -> pats.filter(t.contains).sorted.toList }.toMap
    assert(got == naive, s"got $got want $naive")
    assert(got(1L) == List("he", "hers", "she", "ushe"))
    assert(got(2L) == List("his"))
    assert(got(3L).isEmpty && got(4L).isEmpty)
    val n = df.select(TextExprs.multiMatch(lit(null).cast("string"), pats)).collect()
    assert(n.head.isNullAt(0))
  }

  test("porter_stem: paper vectors end-to-end, guards, SQL parity") {
    GraftFunctions.register(spark)
    // end-to-end expectations from the official Porter vocabulary output
    // (per-step paper examples differ: e.g. step 1b alone maps agreed →
    // agree, but the full run's 5a then drops the e → agre)
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "cats" -> "cat", "feed" -> "feed", "agreed" -> "agre",
      "plastered" -> "plaster", "motoring" -> "motor", "sing" -> "sing",
      "hopping" -> "hop", "falling" -> "fall", "hissing" -> "hiss",
      "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
      "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "oscillators" -> "oscil",
      "generalizations" -> "gener", "electricity" -> "electr",
      "roll" -> "roll", "sized" -> "size", "troubled" -> "troubl",
      "adjustable" -> "adjust", "replacement" -> "replac",
      "dependent" -> "depend", "adoption" -> "adopt",
      // guards: short, non-ascii, non-lowercase pass through unchanged
      "is" -> "is", "café" -> "café", "Cats" -> "Cats")
    val df = vectors.zipWithIndex.map { case ((in, _), i) => (i.toLong, in) }
      .toDF("id", "w")
    val got = df.select(col("id"), TextExprs.porterStemCol(col("w")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    vectors.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i.toLong) == want, s"stem($in) = ${got(i.toLong)}, want $want")
    }
    val n = df.select(TextExprs.porterStemCol(lit(null).cast("string"))).collect()
    assert(n.head.isNullAt(0))
    df.createOrReplaceTempView("stem_t")
    val viaSql = spark.sql("SELECT porter_stem(w) FROM stem_t WHERE id = 20")
      .collect().head.getString(0)
    assert(viaSql == "gener")
  }

  test("winnow: SQL surface matches the Column API and the ops wrapper") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "A do run run run, a do run run"),
      (2L, "the quick brown fox")).toDF("doc_id", "text")
    df.createOrReplaceTempView("win_t")
    val viaSql = spark.sql(
      """SELECT doc_id, f.pos, f.h
        |FROM win_t LATERAL VIEW explode(
        |  winnow(trim(regexp_replace(lower(text), '\\s+', ' ')), 5, 4)) t AS f
        |ORDER BY doc_id, f.pos""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val viaOps = graft.ops.Text.winnowingFingerprints(df, "doc_id", "text", 5, 4)
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaSql == viaOps && viaSql.nonEmpty)
  }

  test("preprocessed stage round-trips through the typed Dataset model") {
    val raw = spark.read.json(Seq(
      """{"_id": 7, "today": "2024-03-12", "landing_date": "2024-03-11",
         "fish_species": "Usipa", "weight": "24.5", "value_species": "30000",
         "value_type": "total", "vessel_number": "1", "catch_number": "1"}""").toDS)
      .withColumnRenamed("_id", "submission_id")
    val pre = graft.pipeline.Preprocess(raw.withColumn("form_name", lit("f")))
    val ds = Model.asPreprocessed(pre)
    val row = ds.collect().head
    assert(row.survey_id.contains("7-1-1"))
    assert(row.catch_kg.contains(24.5))
    assert(math.abs(row.price_kg.get - 30000.0 / 24.5) < 1e-9)
  }
}
