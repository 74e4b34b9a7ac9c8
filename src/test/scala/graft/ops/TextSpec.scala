package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.SparkTestBase

class TextSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenChunks: overlap windows, short tail, empty doc") {
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens, size 3 stride 2 → starts 0,2,4,6
      (2L, "x"),
      (3L, "   ")).toDF("id", "t")
    val out = docs.select(col("id"),
      posexplode_outer(Text.tokenChunks(Text.tokens(col("t")), 3, 2))
        .as(Seq("pos", "c")))
      .select(col("id"), col("pos"), col("c.chunk_text"), col("c.n_tokens"))
      .collect().map(r => (r.getLong(0), r.toSeq.drop(1)))
    val byId = out.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byId(1L) == Seq(
      Seq(0, "a b c", 3), Seq(1, "c d e", 3), Seq(2, "e f g", 3), Seq(3, "g", 1)))
    assert(byId(2L) == Seq(Seq(0, "x", 1)))
    assert(byId(3L) == Seq(Seq(null, null, null))) // empty doc → no chunks
  }

  test("stripHtml: blocks before tags, entities decoded, whitespace collapsed") {
    import spark.implicits._
    val cases = Seq(
      // script body contains a bare '<' — block removal must run first,
      // or the tag eater would swallow from '<' to the next '>'
      (1L, "<p>hello</p><script>if (a < b) { x() }</script><p>world</p>"),
      (2L, "<style>p { color: red }</style>plain <!-- hidden note --> text"),
      (3L, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
      (4L, "no markup at all"),
      (5L, "<div class=\"x\" data-y='1'>nested <b>bold</b> run</div>"),
      // doubly-escaped: the author WROTE "&lt;" (escaped as &amp;lt;) —
      // decoding &amp; last keeps it "&lt;" instead of collapsing to "<"
      (6L, "shows &amp;lt;tag&amp;gt; literally"))
      .toDF("id", "html")
    val out = cases.select($"id", Text.stripHtml($"html").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "plain text")
    assert(out(3L) == "a & b <tag> \"q\" 's' end")
    assert(out(4L) == "no markup at all")
    assert(out(5L) == "nested bold run")
    assert(out(6L) == "shows &lt;tag&gt; literally")
  }

  test("normalize lowers, collapses whitespace, trims") {
    val out = Seq("  Hello   WORLD \t x ").toDF("t")
      .select(Text.normalize(col("t"))).collect().head.getString(0)
    assert(out == "hello world x")
  }

  test("tokens and counts") {
    val r = Seq("The cat, the hat!").toDF("t").select(
      Text.tokenCount(col("t")).as("n"),
      Text.bpeishTokenCount(col("t")).as("bpe")).collect().head
    assert(r.getAs[Int]("n") == 4)
    assert(r.getAs[Int]("bpe") == 6) // The cat , the hat !
  }

  test("charShingles: short text yields the whole text as one shingle") {
    val r = Seq("abc", "abcdefg").toDF("t")
      .select(Text.charShingles(col("t"), 5)).collect()
    assert(r(0).getSeq[String](0) == Seq("abc"))
    assert(r(1).getSeq[String](0).toSet == Set("abcde", "bcdef", "cdefg"))
  }

  test("langId scores stopword profiles, und on zero hits") {
    val r = Seq(
      "the cat sat of the mat and it is that for",
      "el perro y la casa de los que se en un por",
      "zzz qqq www").toDF("t")
      .select(Text.langId(col("t"))).collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "es", "und"))
  }

  test("quality struct ratios") {
    val r = Seq("The cat.").toDF("t").select(Text.qualityStruct(col("t")).as("q"))
      .select("q.*").collect().head
    assert(r.getAs[Long]("n_chars") == 8)
    assert(r.getAs[Long]("n_tokens") == 2)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 1.0 / 8) < 1e-12)
    assert(math.abs(r.getAs[Double]("upper_ratio") - 1.0 / 8) < 1e-12)
  }

  test("fingerprints are stable under whitespace/case noise") {
    val r = Seq("Hello  World", "hello world").toDF("t").select(
      Text.fingerprintMd5(col("t")).as("md5"),
      Text.fingerprintRolling(col("t")).as("roll")).collect()
    assert(r(0).getString(0) == r(1).getString(0))
    assert(r(0).getLong(1) == r(1).getLong(1))
  }

  test("gopher rule bank: hand-computed signals and the keep decision") {
    // 3 lines: a bullet line, a prose line, an ellipsis line
    val doc = "- item one\nthe cat sat of a mat and it is that for\nwait for it..."
    val r = Seq(doc).toDF("t").select(Text.gopherStruct(col("t")).as("g"))
      .select("g.*").collect().head
    assert(r.getAs[Long]("n_tokens") == 17) // 3 + 11 + 3
    // every token has a letter except "-" ("it..." keeps its letters) → 16/17
    assert(math.abs(r.getAs[Double]("alpha_word_frac") - 16.0 / 17) < 1e-12)
    // one "..." occurrence, no '#'
    assert(math.abs(r.getAs[Double]("symbol_word_ratio") - 1.0 / 17) < 1e-12)
    assert(math.abs(r.getAs[Double]("bullet_line_frac") - 1.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("ellipsis_line_frac") - 1.0 / 3) < 1e-12)
    // distinct stopwords present: the, of, a, and, it, is, that, for = 8
    assert(r.getAs[Long]("n_stopword_hits") == 8)
    // keep: fails only the 50-token floor
    val kept = Seq(doc).toDF("t")
      .select(Text.gopherKeep(Text.gopherStruct(col("t"))).as("k")).collect().head
    assert(!kept.getBoolean(0))
    // pad beyond 50 tokens with clean prose → all rules pass
    val padded = doc + (" the cat sat of a mat and it is that for" * 5)
    val kept2 = Seq(padded).toDF("t")
      .select(Text.gopherKeep(Text.gopherStruct(col("t"))).as("k")).collect().head
    assert(kept2.getBoolean(0))
  }

  test("gopher rule bank: degenerate docs fail closed, not crash") {
    val rows = Seq("", "   ", "### ### ###", "- a\n- b\n- c")
    val got = rows.toDF("t")
      .select(Text.gopherKeep(Text.gopherStruct(col("t"))).as("k"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(false, false, false, false))
  }

  test("hashingTfVector: permutation-invariant, zero vector for empty, counts conserved") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"), // same multiset, different order
      (3L, "completely different words here"),
      (4L, "")).toDF("doc_id", "text")
    val vecs = Text.hashingTfVector(docs, "doc_id", "text", dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vecs.size == 4 && vecs.values.forall(_.length == 32))
    assert(vecs(1) == vecs(2)) // vectorization sees the multiset only
    assert(vecs(1) != vecs(3))
    assert(vecs(4).forall(_ == 0.0)) // token-less doc → zero vector
    assert(vecs(1).sum == 6.0) // counts conserved (6 tokens, 'the' twice)
    // the long form agrees with the dense form bucket by bucket
    val long = Text.hashingTfBuckets(docs, "doc_id", "text", dim = 32)
      .filter(col("doc_id") === 1).collect()
      .map(r => (r.getLong(1).toInt, r.getLong(2))).toMap
    vecs(1).zipWithIndex.foreach { case (v, i) =>
      assert(v == long.getOrElse(i, 0L).toDouble)
    }
  }

  test("hashingTfVector is one shuffle-free projection; the md5 bucketing is not re-inlined per cell") {
    // round 18: the densifier folds the vector per row — the plan must
    // carry NO exchange and no join at any corpus size, and the token
    // bucket array must stay its own projection (CollapseProject
    // inlining the md5 transform into the per-cell filter would re-hash
    // every token once per cell — the wordShingled trap; the double
    // reference below is what blocks it)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Text.hashingTfVector(docs, "doc_id", "text", dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    val md5Count = "md5".r.findAllIn(plan.toLowerCase).size
    assert(md5Count == 1,
      s"md5 bucketing appears $md5Count times - the bucket array was inlined per cell:\n$plan")
  }

  test("urlDomain: host extraction across port/path/query/case/www edges") {
    val cases = Seq(
      "https://www.Example.COM/path?q=1" -> "example.com",
      "http://sub.example.org:8080/x" -> "sub.example.org",
      "https://example.net#frag" -> "example.net",
      "https://wwwx.example.net/" -> "wwwx.example.net", // www-strip needs the dot
      "ftp://example.com/x" -> "", // not http(s)
      "plain text, no url" -> "")
    val got = cases.map(_._1).toDF("u")
      .select(Text.urlDomain(col("u"))).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
  }

  test("canonicalUrl: alias collapse across every normalization rule") {
    val cases = Seq(
      // scheme/host case + default port + www + trailing slash
      "HTTPS://WWW.Example.COM:443/Docs/" -> "https://example.com/Docs",
      "http://example.com:80/a" -> "http://example.com/a",
      // non-default port survives
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      // fragment dropped; empty path → "/"
      "https://example.com#top" -> "https://example.com/",
      "https://example.com/" -> "https://example.com/",
      // tracking params: leading-with-successor, mid, leading-at-end
      "https://a.com/p?utm_source=x&id=1" -> "https://a.com/p?id=1",
      "https://a.com/p?id=1&fbclid=zz" -> "https://a.com/p?id=1",
      "https://a.com/p?gclid=9" -> "https://a.com/p",
      // ref strips, but only as a whole param name
      "https://a.com/p?ref=rss" -> "https://a.com/p",
      "https://a.com/p?href=rss" -> "https://a.com/p?href=rss",
      // query values may end in "/" — no trailing-slash strip with a query
      "https://a.com/p/?x=/" -> "https://a.com/p/?x=/",
      // a literal '&ref=…' inside a PATH segment (legal per RFC 3986) is
      // NOT a tracking param — the strip only sees the query string
      "https://a.com/a&ref=x/b?id=1" -> "https://a.com/a&ref=x/b?id=1",
      // …while the same bytes after '?' still strip
      "https://a.com/p?id=1&ref=x/b" -> "https://a.com/p?id=1",
      // tracking-param names are case-sensitive: UTM_SOURCE is kept
      "https://a.com/p?UTM_SOURCE=x" -> "https://a.com/p?UTM_SOURCE=x",
      // a query that strips to nothing re-enables the trailing-slash rule
      "https://a.com/dir/?utm_medium=m" -> "https://a.com/dir",
      // path case preserved; param order preserved
      "https://a.com/CaseS?b=2&a=1" -> "https://a.com/CaseS?b=2&a=1")
    val got = cases.map(_._1).toDF("u")
      .select(Text.canonicalUrl(col("u"))).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2),
      cases.map(_._1).zip(got).mkString("\n"))
    // non-URLs canonicalize to null (they must drop out of URL keys)
    val nu = Seq("no url here", "ftp.example.com/x").toDF("u")
      .select(Text.canonicalUrl(col("u"))).collect()
    assert(nu.forall(_.isNullAt(0)))
  }

  // local mirror of the winnowing definition, for exact-parity checks
  private def md5long15(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
  private def winnowLocal(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    val s = text.toLowerCase.replaceAll("\\s+", " ").trim
    val ng = math.max(s.length - (k - 1), 1)
    val grams = (1 to ng).map(i =>
      (i, md5long15(s.substring(i - 1, math.min(i - 1 + k, s.length)))))
    val nw = math.max(ng - (w - 1), 1)
    (1 to nw).map { widx =>
      grams.slice(widx - 1, widx - 1 + w)
        .minBy { case (pos, h) => (h, -pos) } // min hash, rightmost tie
    }.toSet
  }

  test("winnowingFingerprints matches the local definition exactly") {
    val texts = Seq(
      (0L, "A do run run run, a do run run"), // the paper's example text
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaa"), // all-equal hashes exercise the tie rule
      (3L, "hi"), // shorter than k: one whole-text gram, one window
      (4L, ""))
    val got = Text.winnowingFingerprints(
      texts.toDF("doc_id", "text"), "doc_id", "text", k = 5, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
    texts.foreach { case (id, t) =>
      assert(got(id) == winnowLocal(t, 5, 4), s"doc $id")
    }
    // the fused kernel and the HOF formulation select identically —
    // same convention as the cosine/hyperplane twins
    val hof = TextTwins.winnowingFingerprintsHof(
      texts.toDF("doc_id", "text"), "doc_id", "text", k = 5, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
    assert(hof == got)
    // density sanity: selections ≈ 2/(w+1) of grams, never more than windows
    val dense = got(1L)
    assert(dense.size >= 5 && dense.size <= 40 - 4 + 1)
  }

  test("winnowing guarantee: shared substrings >= w+k-1 chars share a fingerprint") {
    val shared = "xqzvkwpmdjrtbn yfhcg" // 20 chars > w+k-1 = 8
    val docs = Seq(
      (0L, s"left padding words $shared and then a different tail"),
      (1L, s"completely other prefix text $shared trailing junk here"))
    val fps = Text.winnowingFingerprints(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = 5, w = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fps(0L) & fps(1L)).nonEmpty,
      "documents sharing a 20-char substring must share a fingerprint")
  }
}

/** Builtin-HOF twin of the fused text kernels, the reference TextSpec
  * compares [[Text.winnowingFingerprints]] against.
  */
object TextTwins {

  /** Winnowing over builtin HOFs: md5-prefix k-gram hashes, each window's
    * minimum (ties → rightmost position), distinct (fingerprint, pos).
    */
  def winnowingFingerprintsHof(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w must be >= 1")
    // each stage materializes its column so the next stage's lambdas
    // slice an attribute instead of re-running the whole chain per
    // element (the tokens-materialization trap, same as wordShingles)
    val norm = df.select(col(idCol), Text.normalize(col(textCol)).as("__s"))
    norm.select(col(idCol),
      transform(
        sequence(lit(1), greatest(length(col("__s")) - lit(k - 1), lit(1))),
        i => struct(
          conv(substring(md5(col("__s").substr(i, lit(k))), 1, 15), 16, 10)
            .cast(LongType).as("h"),
          i.cast(IntegerType).as("pos"))).as("__grams"))
      .select(col(idCol),
        transform(
          sequence(lit(1), greatest(size(col("__grams")) - lit(w - 1), lit(1))),
          widx => aggregate(
            slice(col("__grams"), widx, lit(w)),
            struct(lit(Long.MaxValue).as("h"), lit(-1).as("pos")),
            (acc, g) => when(
              g.getField("h") < acc.getField("h") ||
                (g.getField("h") === acc.getField("h") &&
                  g.getField("pos") > acc.getField("pos")),
              g).otherwise(acc))).as("__sel"))
      .select(col(idCol), explode(array_distinct(col("__sel"))).as("__fp"))
      .select(col(idCol),
        col("__fp.pos").as("pos"), col("__fp.h").as("fingerprint"))
  }
}
