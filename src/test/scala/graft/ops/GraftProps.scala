package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkTestBase

/** Property-based invariants (SURVEY.md §5): bounds monotone in k,
  * explode row-count conservation, validators only ever null-out values.
  * Few-but-real Spark cases per property (each case runs a job).
  */
object GraftProps extends Properties("graft") {
  import graft.SparkTestBase.spark.implicits._
  private lazy val spark = SparkTestBase.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val values = Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1000.0))

  property("jaccardSorted equals the independent set-arithmetic definition") =
    forAll(Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd d", "e", "ff", "g hh")),
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd d", "e", "ff", "g hh", "zz"))) { (xs, ys) =>
      val a = xs.distinct
      val b = ys.distinct
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.size + b.size - inter
      val ref = inter.toDouble / union // 0/0 → NaN, the documented contract
      val df = Seq((a, b)).toDF("a", "b")
        .select(array_sort(col("a")).as("a"), array_sort(col("b")).as("b"))
      val j = df.select(
        graft.functions.HashExprs.jaccardSorted(col("a"), col("b")).as("j"))
        .collect()(0).getDouble(0)
      (j.isNaN && ref.isNaN) || j == ref
    }

  property("jaccardSortedLong equals the set definition AND the string kernel on hashes") =
    forAll(Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd d", "e", "ff", "g hh")),
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd d", "e", "ff", "g hh", "zz"))) { (xs, ys) =>
      val a = xs.distinct
      val b = ys.distinct
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.size + b.size - inter
      val ref = inter.toDouble / union // 0/0 → NaN, the documented contract
      // the minhash/ngram verify shape: xxhash64 per shingle, sorted longs
      val df = Seq((a, b)).toDF("a", "b").select(
        array_sort(transform(col("a"), x => xxhash64(x))).as("a"),
        array_sort(transform(col("b"), x => xxhash64(x))).as("b"))
      val j = df.select(
        graft.functions.HashExprs.jaccardSortedLong(col("a"), col("b")).as("j"))
        .collect()(0).getDouble(0)
      (j.isNaN && ref.isNaN) || j == ref
    }

  property("locscaleb bounds widen monotonically in k") =
    forAll(values, Gen.chooseNum(0.5, 3.0), Gen.chooseNum(0.5, 3.0)) { (xs, k1, k2) =>
      val (lo, hi) = if (k1 < k2) (k1, k2) else (k2, k1)
      def width(k: Double): Option[Double] = {
        val r = xs.toDF("x").agg(Bounds.locscaleb(col("x"), k, logt = true).as("b"))
          .select("b.lower_low", "b.upper_up").collect().head
        if (r.isNullAt(0)) None else Some(r.getDouble(1) - r.getDouble(0))
      }
      (width(lo), width(hi)) match {
        case (Some(a), Some(b)) => a <= b + 1e-12
        case (a, b) => a.isDefined == b.isDefined // guards trip identically
      }
    }

  property("explodeWithIndex conserves rows: sum of sizes + empties") =
    forAll(Gen.listOf(Gen.listOf(Gen.alphaStr))) { nested =>
      val df = nested.zipWithIndex.map { case (xs, i) => (i, xs) }.toDF("id", "xs")
      val out = Restructure.explodeWithIndex(df, "xs", "n", "x")
      val expected = nested.map(xs => math.max(xs.size, 1)).sum // empty → placeholder row
      out.count() == expected
    }

  property("validatePriceKg only masks: outputs are original value or null") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1.0, 500.0), Gen.oneOf("a", "b")))) { rows =>
      val df = rows.zipWithIndex.map { case ((p, t), i) => ("f", s"s$i", t, p, p * 2, 3.0) }
        .toDF("form_name", "survey_id", "catch_taxon", "price_kg", "catch_price", "catch_kg")
      val out = graft.pipeline.Validate.validatePriceKg(df, 2.5).collect()
      val orig = rows.zipWithIndex.map { case ((p, _), i) => s"s$i" -> p }.toMap
      out.forall { r =>
        val sid = r.getString(r.fieldIndex("survey_id"))
        val idx = r.fieldIndex("price_kg")
        r.isNullAt(idx) || r.getDouble(idx) == orig(sid)
      } && out.length == rows.length
    }

  // a few-word vocabulary + short docs force genuine span collisions
  private val spanDocs = Gen.nonEmptyListOf(
    Gen.listOfN(12, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
      .map(_.take(12))

  property("duplicatedSpanStats: totals conserve and spans bound tokens") =
    forAll(spanDocs, Gen.chooseNum(2, 5)) { (texts, k) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = Dedup.duplicatedSpanStats(df, "text", "doc_id", k).collect()
      // total function: one output row per input row, dup ≤ spans,
      // spans = max(tokens - k + 1, 0) for every doc
      out.length == texts.length && out.forall { r =>
        val toks = texts(r.getLong(0).toInt).split(" ").count(_.nonEmpty)
        val spans = math.max(toks - k + 1, 0)
        r.getLong(1) == spans && r.getLong(2) <= spans
      }
    }

  property("stripDuplicatedSpans: kept + removed = tokens; idempotent-safe totals") =
    forAll(spanDocs, Gen.chooseNum(2, 5)) { (texts, k) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = Dedup.stripDuplicatedSpans(df, "text", "doc_id", k).collect()
      out.length == texts.length && out.forall { r =>
        val toks = texts(r.getLong(0).toInt).split(" ").count(_.nonEmpty)
        val kept = r.getLong(2)
        val removed = r.getLong(3)
        kept + removed == toks &&
          r.getString(1).split(" ").count(_.nonEmpty) == kept
      }
    }

  // few distinct lines (3-word vocabulary, 1-3 words per line, up to 6
  // lines per doc, occasional blanks) force genuine cross-doc collisions
  private val lineDocs = Gen.nonEmptyListOf(
    Gen.listOfN(6, Gen.oneOf(
      Gen.listOfN(2, Gen.oneOf("x", "y", "z")).map(_.mkString(" ")),
      Gen.const(""))).map(_.mkString("\n")))
    .map(_.take(8))

  property("stripDuplicatedLines: keep-first conservation — each distinct dup line " +
           "survives exactly once corpus-wide, uniques and blanks untouched") =
    forAll(lineDocs) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = Dedup.stripDuplicatedLines(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
      val allIn = texts.zipWithIndex.flatMap { case (t, i) =>
        t.split("\n", -1).map(norm).filter(_.nonEmpty).map(_ -> i) }
      val occurrences = allIn.groupBy(_._1).view.mapValues(_.size).toMap
      val allOut = out.toSeq.flatMap { case (_, (clean, _, _)) =>
        clean.split("\n", -1).map(norm).filter(_.nonEmpty) }
      val outCounts = allOut.groupBy(identity).view.mapValues(_.size).toMap
      // every distinct non-blank line survives exactly once if duplicated,
      // at its original multiplicity if unique
      val conserved = occurrences.forall { case (line, n) =>
        outCounts.getOrElse(line, 0) == (if (n >= 2) 1 else n) }
      // totals: n_lines = split segments, removed = lines - kept non-blank... and
      // blank segments are never removed (kept count includes them)
      val totals = out.forall { case (id, (clean, nLines, nRemoved)) =>
        val segs = texts(id.toInt).split("\n", -1)
        val kept = segs.length - nRemoved
        nLines == segs.length &&
          (if (kept == 0) clean.isEmpty else clean.split("\n", -1).length == kept)
      }
      conserved && totals
    }

  // multiline docs over a tiny vocabulary: genuine cross-doc span
  // collisions AND line structure (blank lines included) in one corpus
  private val multilineDocs = Gen.nonEmptyListOf(
    Gen.listOfN(5, Gen.oneOf(
      Gen.listOfN(3, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")),
      Gen.const(""))).map(_.mkString("\n")))
    .map(_.take(8))

  property("stripDuplicatedSpans preserveNewlines: same cuts as the default " +
           "rebuild, newline runs the only delta, token counts conserved") =
    forAll(multilineDocs, Gen.chooseNum(2, 4)) { (texts, k) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def run(pn: Boolean) = Dedup.stripDuplicatedSpans(df, "text", "doc_id", k, pn)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val flat = run(false)
      val pres = run(true)
      texts.indices.map(_.toLong).forall { id =>
        val (fTxt, fKept, fRem) = flat(id)
        val (pTxt, pKept, pRem) = pres(id)
        // identical cut decisions (hashing is mode-independent)...
        fKept == pKept && fRem == pRem &&
          // ...the rebuilt token stream matches, newline runs aside...
          fTxt == pTxt.replaceAll("\n+", " ").trim.replaceAll(" +", " ") &&
          // ...and the preserved text carries exactly n_kept tokens
          pTxt.split("\\s+").count(_.nonEmpty) == pKept
      }
    }

  property("reweightMixture: per-row copies are floor(w) or ceil(w)") =
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.chooseNum(0.0, 3.0)) { (keys, w) =>
      val df = keys.distinct.zipWithIndex.map { case (s, i) => (i.toLong, s, "g") }
        .toDF("id", "key", "grp")
      val out = Corpus.reweightMixture(df, "grp", "key", Map("g" -> w))
        .groupBy("id").count().collect().map(_.getLong(1))
      val lo = math.floor(w).toLong
      out.forall(c => c == math.max(lo, 1L) || c == lo + 1) &&
        (w >= 1.0 || out.length <= keys.distinct.length) // weight<1 may drop rows
    }

  // random tails behind valid magic prefixes steer the fuzz into the
  // parsers' chunk/bit-unpacking paths instead of the magic-check reject
  private val headerFuzz: Gen[Array[Byte]] = for {
    prefix <- Gen.oneOf("", "RIFF", "fLaC", "ID3", "RIFFxxxxWEBP", "RIFFxxxxWAVE")
    tail <- Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  } yield prefix.getBytes("US-ASCII") ++ tail

  property("multimodal header parsers never throw on arbitrary bytes") =
    forAll(headerFuzz) { p =>
      // a messy corpus feeds these parsers garbage constantly; the
      // contract is None (or a stub downstream), never an exception
      Multimodal.parseWavHeader(p)
      Multimodal.parseMp3Header(p)
      Multimodal.parseFlacHeader(p)
      Multimodal.parseWebpHeader(p)
      true
    }

  property("selectByQualityBudget: kept set grows monotonically with budget") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(1L, 50L))),
      Gen.chooseNum(0L, 500L), Gen.chooseNum(0L, 500L)) { (rows, b1, b2) =>
      val (small, big) = if (b1 < b2) (b1, b2) else (b2, b1)
      val df = rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
        .toDF("id", "score", "toks")
      def kept(b: Long) = Corpus.selectByQualityBudget(df, "score", "toks", b)
        .select("id").collect().map(_.getLong(0)).toSet
      kept(small).subsetOf(kept(big))
    }

  property("shuffleShard: a bijective relabeling — ids conserved, (shard,pos) unique, pos dense") =
    forAll(Gen.chooseNum(1, 40), Gen.chooseNum(1, 16), Gen.alphaStr) { (n, shards, seed) =>
      val ids = (0 until n).map(_.toLong)
      val out = Corpus.shuffleShard(ids.toDF("id"), "id", shards, seed)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val keys = out.map(t => (t._2, t._3))
      out.map(_._1).toSet == ids.toSet &&
        keys.distinct.length == n &&
        out.groupBy(_._2).values.forall(g => g.map(_._3).sorted.toSeq == (1 to g.length))
    }

  property("packChunksBucketed: offsets advance by n_tokens within each pack chain") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 40L)), Gen.chooseNum(8, 64)) { (lens, seqLen) =>
      val chunks = lens.zipWithIndex.map { case (l, i) => (1L, i + 1, l, "train") }
        .toDF("doc_id", "chunk_id", "n_tokens", "split")
      val out = Corpus.packChunksBucketed(chunks, "doc_id", "chunk_id",
        "n_tokens", "split", seqLen, nShards = 1, bucketBounds = Seq(8, 16, 32))
        .select("chunk_id", "n_tokens", "len_bucket", "pack_id", "pack_offset")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      // within each bucket, running position (pack_id*seqLen + offset)
      // equals the cumsum of preceding chunk lengths — no gaps, no overlap
      out.groupBy(_._3).values.forall { g =>
        val sorted = g.sortBy(_._1)
        sorted.scanLeft(0L) { case (acc, c) => acc + c._2 }.init
          .zip(sorted).forall { case (cum, c) => c._4 * seqLen + c._5 == cum }
      }
    }

  property("packChunksFFD: every chunk packed once; packs respect capacity unless oversize-alone") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 200L)), Gen.chooseNum(32, 128)) { (lens, seqLen) =>
      val chunks = lens.zipWithIndex.map { case (l, i) => (1L, i + 1, l, "train") }
        .toDF("doc_id", "chunk_id", "n_tokens", "split")
      val out = Corpus.packChunksFFD(chunks, "doc_id", "chunk_id",
        "n_tokens", "split", seqLen, nShards = 1).collect()
        .map(r => (r.getInt(1), r.getLong(4)))
      val lensById = lens.zipWithIndex.map { case (l, i) => (i + 1) -> l }.toMap
      out.map(_._1).sorted.toSeq == (1 to lens.length) &&
        out.groupBy(_._2).values.forall { g =>
          val tot = g.map(c => lensById(c._1)).sum
          tot <= seqLen || (g.length == 1 && lensById(g.head._1) > seqLen)
        }
    }

  property("png codec round-trips arbitrary pixels under cycling filters") =
    forAll(Gen.chooseNum(1, 24), Gen.chooseNum(1, 20), Gen.oneOf(1, 3, 4),
      Gen.chooseNum(0L, Long.MaxValue / 2)) { (w, h, ch, seed) =>
      val rnd = new scala.util.Random(seed)
      val px = Array.fill[Byte](w * h * ch)(rnd.nextInt(256).toByte)
      Multimodal.parsePng(
        Multimodal.pngPayload(px, w, h, ch, y => (y + (seed % 5).toInt) % 5))
        .exists { case (pw, ph, pc, out) =>
          pw == w && ph == h && pc == ch && out.sameElements(px)
        }
    }

  property("intervalOverlapJoin equals the naive overlap join on random intervals") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 2000L), Gen.chooseNum(0L, 600L))),
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 2000L), Gen.chooseNum(0L, 600L))),
      Gen.chooseNum(60L, 900L)) { (as, bs, bucket) =>
      def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
      val a = as.zipWithIndex.map { case ((s, len), i) =>
        (i.toLong, "k", ts(s), ts(s + len)) }.toDF("a_id", "k", "a_s", "a_e")
      val b = bs.zipWithIndex.map { case ((s, len), i) =>
        (i.toLong, "k", ts(s), ts(s + len)) }.toDF("b_id", "k", "b_s", "b_e")
      val naive = as.zipWithIndex.flatMap { case ((s1, l1), i) =>
        bs.zipWithIndex.collect {
          case ((s2, l2), j) if s1 <= s2 + l2 && s2 <= s1 + l1 => (i.toLong, j.toLong)
        }
      }.sorted
      val got = Matching.intervalOverlapJoin(
        a, b, Seq("k"), "a_s", "a_e", "b_s", "b_e", bucket)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // sequence equality: multi-bucket overlaps must emit exactly once
      got == naive
    }

  /** The `endsWith` nested-loop formulation [[Matching.suffixMatchCount]]
    * replaced: the reference the suffix-exploded equi-join must equal. */
  private def nestedLoopSuffixMatch(probe: DataFrame, probeCol: String,
                                    registry: DataFrame, registryCol: String): DataFrame = {
    val reg = registry.select(col(registryCol).cast("string").as("__reg")).distinct()
    probe.join(broadcast(reg), col("__reg").endsWith(col(probeCol).cast("string")), "left")
      .groupBy(probe.columns.map(c => col(s"`$c`")): _*)
      .agg(count(col("__reg")).as("match_count"), min(col("__reg")).as("__only"))
      .withColumn("matched_value", when(col("match_count") === 1, col("__only")))
      .drop("__only")
  }

  // a tiny alphabet (digits plus multi-byte characters) forces shared
  // suffixes, values shorter than the probe, and non-ASCII boundaries
  private val suffixStr = Gen.choose(0, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("1", "2", "9", "é", "日")).map(_.mkString))
  private val maybeStr = Gen.frequency(6 -> suffixStr.map(Option(_)), 1 -> Gen.const(None))

  property("suffixMatchCount equals the endsWith nested-loop formulation") =
    forAll(Gen.listOf(maybeStr), Gen.listOf(Gen.zip(Gen.choose(0, 3), maybeStr))) { (reg, rows) =>
      // duplicated registry values and duplicated probe rows on purpose
      val registry = (reg ++ reg.take(2)).toDF("r")
      val probe = (rows ++ rows.take(2)).toDF("id", "p")
      def bag(df: DataFrame) =
        df.select("id", "p", "match_count", "matched_value").collect()
          .map(_.toSeq.mkString("|")).toSeq.sorted
      // sorted-row equality: same multiset, hence same row count
      bag(Matching.suffixMatchCount(probe, "p", registry, "r")) ==
        bag(nestedLoopSuffixMatch(probe, "p", registry, "r"))
    }

  /** The per-row V6 formulation `Runner.mergeTrips` used before
    * [[graft.pipeline.Validate.attachImeis]], unchanged: the suffix match
    * runs once per landing row's (survey_id, raw IMEI) probe, and the
    * verdicts are left-joined back on survey_id. */
  private def perRowImeis(data: DataFrame, imeiCol: String, registry: DataFrame,
                          registryCol: String): DataFrame = {
    val probe = data.select(col("survey_id"), col(imeiCol).as("__raw"))
      .withColumn("__num", abs(expr("try_cast(__raw as double)")))
      .withColumn("__str", col("__num").cast("long").cast("string"))
    val matched = Matching.suffixMatchCount(probe, "__str",
      registry.select(col(registryCol).cast("string").as("__reg")), "__reg")
    val imeis = matched.select(
      col("survey_id"),
      when(col("__raw").isNull || col("__raw") === "0", lit(null).cast("string"))
        .when(col("__num") < 9999, lit(null).cast("string"))
        .when(col("match_count") === 1, col("matched_value"))
        .otherwise(lit(null).cast("string")).as("imei"),
      when(col("__raw").isNull || col("__raw") === "0", lit(null).cast("int"))
        .when(col("__num") < 9999, lit(1))
        .when(col("match_count") === 1, lit(null).cast("int"))
        .when(col("match_count") > 1, lit(2))
        .otherwise(lit(3)).as("alert_number"))
    data.join(imeis, Seq("survey_id"), "left")
  }

  // registry values sharing suffixes (multi-match probes), a duplicate
  // and a null; tracker values drawn from full devices, suffixes, short
  // and negative numbers, "0", unregistered, non-numeric and null
  private val devices = Seq("869606024123456", "869606000123456", "869606024777001",
    "350000000777001", "869606024123456", null)
  private val trackerValue: Gen[Option[String]] = Gen.frequency(
    3 -> Gen.oneOf(devices.flatMap(Option(_))).map(Option(_)),
    3 -> Gen.oneOf("123456", "4123456", "777001", "24777001", "9123456").map(Option(_)),
    1 -> Gen.oneOf("0", "-4123456", "-12", "1234", "9998", "abc", "350000000000009").map(Option(_)),
    1 -> Gen.const(None))
  // two forms drawing survey_ids from a small pool: the same survey_id
  // shows up in both forms, with the same or a different tracker
  private val landingRow = for {
    form <- Gen.oneOf("legacy", "current")
    sid <- Gen.frequency(8 -> Gen.oneOf("1-1-1", "1-1-2", "2-1-1", "3-1-1").map(Option(_)),
      1 -> Gen.const(None))
    imei <- trackerValue
    kg <- Gen.chooseNum(1, 99)
  } yield (form, sid, imei, kg)

  property("attachImeis equals the per-row validateImeis + survey_id join") =
    forAll(Gen.listOf(landingRow), Gen.someOf(devices)) { (rows, reg) =>
      // planted cross-form collisions per case: one with different
      // trackers, one with the same tracker
      val planted = Seq(("legacy", Some("9-1-1"), Some("123456"), 1),
        ("current", Some("9-1-1"), Some("869606024777001"), 2),
        ("legacy", Some("8-1-1"), Some("4123456"), 3),
        ("current", Some("8-1-1"), Some("4123456"), 4))
      val data = (rows ++ planted).toDF("form_name", "survey_id", "tracker_imei", "catch_kg")
      val registry = reg.toSeq.toDF("IMEI")
      val cols = Seq("form_name", "survey_id", "tracker_imei", "catch_kg", "imei", "alert_number")
      def bag(df: DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val got = graft.pipeline.Validate.attachImeis(data, "tracker_imei", registry, "IMEI")
      val want = perRowImeis(data, "tracker_imei", registry, "IMEI")
      got.columns.sameElements(want.columns) && bag(got) == bag(want)
    }

  property("pageRank conserves mass exactly when no node dangles") =
    forAll(Gen.chooseNum(2, 12), Gen.chooseNum(1L, 99L)) { (n, salt) =>
      // every node gets an out-edge (a pseudo-random functional graph),
      // so no dangling leak: Σ ranks = 1 up to fp rounding at any iters
      val edges = (0 until n).map(i =>
        (i.toLong, ((i * 7 + salt) % n).toLong)).toDF("src", "dst")
      val total = Graph.pageRank(edges, "src", "dst", iters = 4)
        .agg(sum(col("rank"))).collect().head.getDouble(0)
      math.abs(total - 1.0) < 1e-6
    }

  property("sq8TopK: rank is dense 1..k per query and cosines are non-increasing") =
    forAll(Gen.chooseNum(5, 20), Gen.chooseNum(2, 6), Gen.chooseNum(1L, 99L)) { (n, k, salt) =>
      val vecs = (0 until n).map(i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17 + salt) % 13 - 6).toDouble)))
      val df = vecs.toDF("vec_id", "embedding")
      val out = Similarity.sq8TopK(
        df.filter(col("vec_id") < 2), df, "vec_id", "embedding", "vec_id", "embedding", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      out.groupBy(_._1).values.forall { g =>
        val sorted = g.sortBy(_._4).toSeq
        sorted.map(_._4) == (1 to g.length) &&
          sorted.sliding(2).forall {
            case Seq(a, b) => a._3 >= b._3 || (a._3.isNaN && b._3.isNaN)
            case _ => true
          }
      }
    }

  private def levRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // random strings over a 3-letter alphabet, lengths straddling the
  // short/long route split (lmin = 9 at q=3, d=2) with heavy duplicates —
  // the regime where both the rarity-prefix pigeonhole and the
  // distinct-value expansion must stay complete
  private val edWord: Gen[String] = for {
    n <- Gen.chooseNum(1, 14)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
  } yield cs.mkString

  property("editDistancePairs equals the naive all-pairs definition") =
    forAll(Gen.chooseNum(2, 14).flatMap(n => Gen.listOfN(n, edWord))) { words =>
      val rows = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "s", "id",
          maxDist = 2, q = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, va) <- rows; (ib, vb) <- rows
        if ia < ib
        d = levRef(va, vb)
        if d <= 2
      } yield (ia, ib, d)).toSet
      got == want
    }

  // feature values spanning sign, magnitude, and dyadic vs non-dyadic
  // fractions — the quantization floor and the fixed-association IEEE
  // chains must agree with the reference on all of them
  private val lrVal: Gen[Double] =
    Gen.oneOf(0.0, 1.0, -1.0, 0.1, -2.5, 3.75, -0.125, 7.25)

  property("lrTrain equals an in-memory quantized-GD reference bit-for-bit") =
    forAll(for {
      n <- Gen.chooseNum(1, 10)
      rows <- Gen.listOfN(n, for {
        y <- Gen.oneOf(0.0, 1.0); a <- lrVal; b <- lrVal
      } yield (y, a, b))
      iters <- Gen.chooseNum(1, 3)
    } yield (rows, iters)) { case (rows, iters) =>
      val got = Classifier
        .lrTrain(rows.toDF("y", "a", "b"), Seq("a", "b"), "y", iters)
        .map(_.weights.toVector)
      // driver-side reference with the IDENTICAL arithmetic: softsign
      // link, per-row long-quantized gradient terms, left-associated z
      // chain, update w − lr·(Σg/scale/n). Any divergence — a changed
      // association order, a rounding mode, a lost quantization — is a
      // broken cross-engine replay contract, caught here without DuckDB.
      val scale = 1e8
      var w = Vector(0.0, 0.0, 0.0)
      val want = (1 to iters).map { _ =>
        val gs = Array(0L, 0L, 0L)
        rows.foreach { case (y, a, b) =>
          val xs = Array(1.0, a, b)
          val z = w(0) * xs(0) + w(1) * xs(1) + w(2) * xs(2)
          val p = 0.5 + 0.5 * z / (1.0 + math.abs(z))
          var j = 0
          while (j <= 2) {
            gs(j) += math.floor((p - y) * xs(j) * scale + 0.5).toLong; j += 1
          }
        }
        w = Vector.tabulate(3)(j => w(j) - 1.0 * (gs(j).toDouble / scale / rows.size))
        w
      }.toList
      got == want
    }
}
