package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkTestBase

/** Vector similarity: fused expressions vs HOF builtins (bit parity) and
  * exact top-k correctness against a local computation.
  */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val rng = new scala.util.Random(11)
  private val vecs = Seq.tabulate(50)(i =>
    (i.toLong, Array.fill(16)(rng.nextDouble() * 2 - 1)))
  private val df = vecs.toDF("vec_id", "embedding")

  test("CosineSim expression is bit-identical to the HOF form") {
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("expr"),
        SimilarityTwins.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .collect()
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("HyperplaneBucket expression is bit-identical to the HOF form") {
    val out = df.select(
      Similarity.hyperplaneBucket(col("embedding"), 8).as("expr"),
      SimilarityTwins.hyperplaneBucketHof(col("embedding"), 8).as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(out.map(_.getLong(0)).distinct.length > 1) // buckets actually spread
  }

  test("IVF with nprobe = nlist is exact (equals brute force)") {
    val exact = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq)
    val ivf = Similarity.ivfTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, nlist = 8, nprobe = 8)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq)
    assert(ivf.toSeq == exact.toSeq)
  }

  test("IVF centroids: Lloyd refinement produces cells covering the corpus") {
    val one = Similarity.ivfCentroids(df, "vec_id", "embedding", 8, iters = 1).collect()
    assert(one.length == 8)
    assert(one.forall(_.getSeq[Double](1).length == 16))
    // multi-step refinement keeps valid dims; cells may die (standard
    // Lloyd behavior on cosine) but most must survive
    val refined = Similarity.ivfCentroids(df, "vec_id", "embedding", 8).collect()
    assert(refined.length >= 4 && refined.length <= 8)
    assert(refined.forall(_.getSeq[Double](1).length == 16))
  }

  test("lshTopK probes the full Hamming radius: probeHamming = bits equals brute force") {
    // with radius = bits every one of the 2^bits buckets is probed, so the
    // candidate set is the whole corpus — results must equal brute force
    val exact = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    val allProbes = Similarity.lshTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, bits = 4, probeHamming = 4)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(allProbes == exact)
  }

  test("multiprobe radius monotonically improves recall (real corpus floors)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def lshRecall(radius: Int): Double = {
      val got = Similarity.lshTopK(
        queries, emb, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, bits = 8, probeHamming = radius)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = lshRecall(1)
    val r2 = lshRecall(2)
    assert(r2 >= r1, s"radius-2 recall $r2 < radius-1 recall $r1")
    // near-uniform synthetic corpus → recall tracks the scanned fraction
    // (radius-2 probes 1+8+28 = 37 of 256 buckets ≈ 0.14; measured 0.31);
    // gate at the scanned-fraction baseline, which clustered data beats
    assert(r2 >= 37.0 / 256, s"radius-2 recall below scanned-fraction baseline: $r2")
    def ivfRecall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(
        queries, emb, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = nprobe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    // With the default 3 Lloyd steps the cells adapt to the corpus and
    // recall leaves the scanned-fraction baseline far behind: measured
    // 0.9125 at nprobe=4 (1-step seeds scored 0.31 ≈ the 0.25 baseline)
    // and 0.975 at nprobe=8. Gate at 0.7/0.85 — far above the baselines,
    // with margin for float-sum order wobble in the centroid means.
    val i4 = ivfRecall(4)
    val i8 = ivfRecall(8)
    info(s"IVF recall: nprobe=4 -> $i4, nprobe=8 -> $i8")
    assert(i4 >= 0.7, s"IVF nprobe=4/nlist=16 recall below refined-centroid floor: $i4")
    assert(i8 >= i4, s"IVF recall not monotone in nprobe: $i8 < $i4")
    assert(i8 >= 0.85, s"IVF nprobe=8/nlist=16 recall below refined-centroid floor: $i8")
  }

  test("sq8TopK: near-exact recall vs brute force, deterministic reruns") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.sq8TopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = run()
    // 256 quantization levels per dim → reconstruction error ~span/512;
    // top-5 sets should barely move. Gate at 0.9 (measured well above).
    val gotSet = got.map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])).toSet
    val recall = gotSet.intersect(exact).size.toDouble / exact.size
    info(s"SQ8 recall@5 = $recall")
    assert(recall >= 0.9, s"SQ8 recall collapsed: $recall")
    // quantization is hash-free and data-deterministic — rerun is identical
    assert(run() == got)
    // reconstructed cosines stay within quantization error of the exact ones
    val exactCos = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val k = (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])
      exactCos.get(k).foreach { c =>
        assert(math.abs(c - r(3).asInstanceOf[Double]) < 0.02,
          s"SQ8 cosine drifted: $k exact=$c sq8=${r(3)}")
      }
    }
  }

  test("pqTopK with shortlist >= corpus is exact (re-rank covers everything)") {
    // every corpus row survives the shortlist, so the exact re-rank must
    // reproduce brute force bit-for-bit regardless of codebook quality
    val exact = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id", "cosine").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    val pq = Similarity.pqTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, m = 4, dsub = 4, ksub = 8, iters = 2, shortlist = 100)
      .select("query_id", "rank", "neighbor_id", "cosine").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(pq == exact)
  }

  test("pqCodebooks: per-subspace frames with dsub-dim centroids, deterministic rerun") {
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, dsub = 4, ksub = 8)
      .orderBy("__s", "code").collect()
    assert(cb.nonEmpty && cb.length <= 4 * 8)
    assert(cb.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    assert(cb.forall(_.getSeq[Double](2).length == 4))
    // quantized-integer means → the codebook stream is bit-reproducible
    val again = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, dsub = 4, ksub = 8)
      .orderBy("__s", "code").collect()
    assert(again.map(_.toSeq).toSeq == cb.map(_.toSeq).toSeq)
  }

  test("pqTopK: shortlisted recall on the real corpus, deterministic reruns") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.pqTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, m = 8, dsub = 8, ksub = 16, iters = 3, shortlist = 50)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = run()
    val gotSet = got.map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])).toSet
    val recall = gotSet.intersect(exact).size.toDouble / exact.size
    info(s"PQ recall@5 (shortlist=50) = $recall")
    // 16 codes × 8 subspaces on gaussian 64-d data is a coarse code, but
    // the 50-deep shortlist + exact re-rank recovers most of the top-5
    assert(recall >= 0.6, s"PQ recall collapsed: $recall")
    // codebooks, codes and shortlists are all deterministic — rerun is identical
    assert(run() == got)
    // survivors carry EXACT cosines (re-ranked), not reconstructed ones
    val exactCos = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val key = (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])
      exactCos.get(key).foreach(c => assert(c == r(3).asInstanceOf[Double],
        s"PQ emitted a non-exact cosine for $key"))
    }
  }

  test("ivfPqTopK: exact at full probe + full shortlist; probed recall floor") {
    // probing every cell with an uncut shortlist must equal brute force —
    // the exact re-rank then covers the entire corpus
    val exact = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id", "cosine").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    val full = Similarity.ivfPqTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, nlist = 8, nprobe = 8, m = 4, dsub = 4, ksub = 8, shortlist = 100)
      .select("query_id", "rank", "neighbor_id", "cosine").orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(full == exact)
    // probed mode on the real corpus: recall bounded by the IVF probe
    // (0.91 at nprobe=4) times PQ shortlist loss — gate well below both
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 16)
    val truth = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(
      queries, emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, m = 8, dsub = 8, ksub = 16, shortlist = 32)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(s"IVF-PQ recall@5 (nprobe=4, shortlist=32) = $recall")
    assert(recall >= 0.5, s"IVF-PQ recall collapsed: $recall")
  }

  test("ivfPq corpus-sized recon join is shuffled, never broadcast") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.ivfPqTopK(
      emb.filter(col("vec_id") < 4), emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "cells x reconstruction (both corpus-sized) must hash-shuffle, not broadcast")
  }

  test("native pq encode is bit-identical to the HOF min-struct assignment") {
    val vecs = df.select(col("vec_id").as("__id"),
      col("embedding").cast("array<double>").as("__v"))
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, dsub = 4, ksub = 8)
    val hof = SimilarityTwins.pqAssignHof(Similarity.pqSubvectors(vecs, 4, 4), cb)
      .select("__id", "__s", "code").orderBy("__id", "__s")
      .collect().map(_.toSeq).toSeq
    val nat = {
      import graft.functions.VectorExprs
      val rows = cb.select(col("__s").cast("int"), col("code").cast("long"),
        col("cent").cast("array<double>")).collect()
      val by = rows.groupBy(_.getInt(0))
      val ids = Array.tabulate(4)(s => by(s).map(_.getLong(1)).sorted)
      val mats = Array.tabulate(4)(s => by(s).sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray))
      vecs.select(col("__id"),
        posexplode(VectorExprs.pqEncode(col("__v"), ids, mats, 4)).as(Seq("__s", "code")))
        .orderBy("__id", "__s").collect().map(_.toSeq).toSeq
    }
    assert(nat == hof)
  }

  test("sq8 codes stay in the signed-byte domain and constant dims decode to mn") {
    // a corpus with one constant dimension (span = 0) and extreme values
    val rows = Seq(
      (0L, Array(1.0, -3.0, 7.0)),
      (1L, Array(1.0, 5.0, -2.0)),
      (2L, Array(1.0, 0.0, 4.0)))
    val d = rows.toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(
      d.filter(col("vec_id") === 0), d, "vec_id", "embedding", "vec_id", "embedding", 2)
      .collect()
    assert(out.length == 2) // no crash on span-0 dim; both neighbors ranked
    assert(out.forall(r => !r.isNullAt(2)))
  }

  test("bruteForceTopK matches a local exact computation") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val local = vecs.take(3).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(4).map(_._1)
    }.toMap
    val viaSpark = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .orderBy("query_id", "rank")
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getAs[Int]("rank")).map(_.getLong(1)).toSeq }
    assert(viaSpark == local.map { case (k, v) => k -> v.toSeq })
  }

  test("centerVectors: exact quantized mean, centered corpus re-centers to zero") {
    val out = Similarity.centerVectors(df, "embedding", "centered")
    // local mean with the same quantization
    val local = Array.tabulate(16) { i =>
      vecs.map(v => math.floor(v._2(i) * 1048576.0 + 0.5)).sum / 1048576.0 / vecs.length
    }
    val got = out.select("vec_id", "centered").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.take(5).foreach { case (id, v) =>
      val want = v.zip(local).map { case (x, m) => x - m }.toSeq
      assert(got(id) == want, s"vec $id") // bit-exact, not approx
    }
    // idempotence-ish: centering the centered corpus moves ~nothing
    // (means are already < quantization step from zero)
    val mean2 = Similarity.centerVectors(
      out.select(col("vec_id"), col("centered").as("embedding")),
      "embedding", "c2")
      .select(posexplode(col("c2")).as(Seq("i", "x")))
      .groupBy("i").agg(avg(col("x")).as("m"))
      .agg(max(abs(col("m")))).collect().head.getDouble(0)
    assert(mean2 < 2.0 / 1048576.0, s"re-centered mean $mean2 not near zero")
  }

  test("centerVectors: ragged vectors center to null (randomProject contract)") {
    val ragged = Seq(
      (0L, Seq(1.0, 2.0)),            // shorter than corpus dim
      (1L, Seq(4.0, 6.0, 8.0)),
      (2L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.centerVectors(ragged, "embedding", "centered")
      .orderBy("vec_id").select("centered").collect()
    assert(got(0).isNullAt(0), "short vector must center to null, not null-pad")
    assert(!got(1).isNullAt(0) && !got(2).isNullAt(0))
    // per-dimension means still average only the vectors that HAVE the
    // dimension: dim 0 mean = (1+4+0)/3, dim 2 mean = (8+0)/2
    assert(got(1).getSeq[Double](0).head == 4.0 - (1.0 + 4.0 + 0.0) / 3.0)
    assert(got(1).getSeq[Double](0)(2) == 8.0 - (8.0 + 0.0) / 2.0)
  }

  test("recallAtK: intersection within rank k, zero-hit queries stay in the report") {
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      // query 1: two of three right; the rank-4 row is beyond k and ignored
      (1L, 11L, 1), (1L, 99L, 2), (1L, 12L, 3), (1L, 10L, 4))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.recallAtK(approx, exact, 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((2L, 0.666666667))) // round(2/3, 9)
    // query 2 got NO approximate results — it must report 0, not vanish
    assert(got(2L) == ((0L, 0.0)))
    assert(got.size == 2)
    // self-recall is exactly 1 on a real top-k frame
    val base = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 4), df, "vec_id", "embedding", "vec_id", "embedding", 5)
    val self = Similarity.recallAtK(base, base, 5).collect()
    assert(self.length == 4 && self.forall(_.getDouble(2) == 1.0))
    // denominator is the query's OWN exact count, not a flat k: a query
    // whose corpus holds only 2 exact neighbors reaches 1.0 with both hit
    val shortExact = Seq((3L, 30L, 1), (3L, 31L, 2)).toDF("query_id", "neighbor_id", "rank")
    val shortApprox = Seq((3L, 31L, 1), (3L, 30L, 2)).toDF("query_id", "neighbor_id", "rank")
    val shortGot = Similarity.recallAtK(shortApprox, shortExact, 3).collect()
    assert(shortGot.length == 1 && shortGot.head.getLong(1) == 2L
      && shortGot.head.getDouble(2) == 1.0)
  }

  test("randomProject matches a local computation of the md5 sign matrix") {
    val signs = Similarity.rpSigns(4, 16, "")
    // the sign matrix is genuinely mixed (md5 first hex digit, p = 1/2)
    assert(signs.flatten.toSet == Set(1.0, -1.0))
    val local = vecs.take(5).map { case (id, v) =>
      id -> signs.map(row => v.zip(row).map { case (x, s) => x * s }.sum / 2.0).toSeq
    }.toMap
    val out = Similarity.randomProject(df.filter(col("vec_id") < 5),
        "embedding", 16, 4, "rp")
      .select("vec_id", "rp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // same sequential fold both sides — exact equality, not approx
    assert(out == local)
  }

  test("randomProject: wrong-length vectors project to null") {
    val d = Seq((0L, Array(1.0, 2.0)), (1L, Array.fill(16)(1.0))).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(d, "embedding", 16, 4, "rp")
      .orderBy("vec_id").select("rp").collect()
    assert(out(0).isNullAt(0) && !out(1).isNullAt(0))
  }

  test("rpTopK with shortlist >= corpus is exact (re-rank covers everything)") {
    val exact = Similarity.bruteForceTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq)
    val rp = Similarity.rpTopK(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, inDim = 16, outDim = 4, shortlist = 100)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(_.toSeq)
    assert(rp.toSeq == exact.toSeq)
  }

  test("rpTopK: shortlisted recall on the real corpus, deterministic reruns") {
    val qs = df.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(
      qs, df, "vec_id", "embedding", "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.rpTopK(
      qs, df, "vec_id", "embedding", "vec_id", "embedding",
      k = 4, inDim = 16, outDim = 8, shortlist = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run()
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"rp recall $recall below floor") // measured 0.75+
    assert(run() == got) // projection is deterministic — reruns identical
  }

  test("clusterBalancedSample: per-cell quotas, short cells kept whole, deterministic reruns") {
    import spark.implicits._
    // two well-separated directions; nCells = 2 seeds on ids 1,2 puts
    // ids 1,3,4,5 in the x-cluster and id 2 alone in the y-cluster
    val pts = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.9, 0.1)),
      (4L, Seq(0.95, 0.05)), (5L, Seq(0.99, 0.01))).toDF("vec_id", "embedding")
    def run() = Similarity.clusterBalancedSample(
      pts, "vec_id", "embedding", nCells = 2, perCell = 2)
      .orderBy("centroid_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = run()
    // the quota binds the big cell to 2 rows; the singleton cell is kept
    // whole — stratum semantics, and every rank is 1-based per cell
    val byCell = got.groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    assert(byCell.values.toSet == Set(Seq(1, 2), Seq(1)), s"got: ${got.toSeq}")
    assert(got.length == 3)
    // the y-singleton must be id 2 in its own cell
    assert(got.filter(_._3 == 1).map(_._2).contains(2L))
    assert(run().toSeq == got.toSeq) // md5-rank sampling is deterministic
  }

  test("kCenterSelect: hand-traced greedy farthest-point picks, tiebreak, coverage radii") {
    import spark.implicits._
    // 2-d layout where every greedy decision is hand-checkable:
    //   1 (0,0)  2 (0.1,0)  3 (10,0)  4 (10,0.1)  5 (5,0)
    // seed = min id = 1; round 2: farthest is 4 (d²=100.01 beats 3's 100);
    // round 3: mins are 2:0.01, 3:0.01, 5:25 → 5 (d²=25);
    // round 4: 2 and 3 TIE at quantized 0.01 → min id wins → 2; round 5: 3
    val pts = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.1, 0.0)), (3L, Seq(10.0, 0.0)),
      (4L, Seq(10.0, 0.1)), (5L, Seq(5.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(pts, "vec_id", "embedding", k = 5)
      .orderBy("pick_order")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq(
      (1, 1L, -1L),
      (2, 4L, (100.01e12 + 0.5).toLong),
      (3, 5L, 25e12.toLong),
      (4, 2L, (0.01e12 + 0.5).toLong),
      (5, 3L, (0.01e12 + 0.5).toLong)), s"picks: ${got.toSeq}")
    // k beyond the corpus stops at exhaustion; k=1 is just the seed
    assert(Similarity.kCenterSelect(pts, "vec_id", "embedding", k = 9)
      .count() == 5)
    assert(Similarity.kCenterSelect(pts, "vec_id", "embedding", k = 1)
      .collect().map(_.getLong(1)).toSeq == Seq(1L))
    // null vectors are excluded, never selected
    val withNull = pts.unionByName(
      Seq((0L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding"))
    assert(Similarity.kCenterSelect(withNull, "vec_id", "embedding", k = 2)
      .collect().map(_.getLong(1)).toSet == Set(1L, 4L))
  }
}

/** Builtin-HOF and relational twins of the fused vector kernels: the
  * references SimilaritySpec compares the production kernels against.
  */
object SimilarityTwins {

  /** Σ aᵢ·bᵢ (sequential left-to-right double sum — deterministic). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  private def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** HOF form of [[Similarity.cosine]]: null on zero vectors. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = l2norm(a)
    val nb = l2norm(b)
    when(na > 0 && nb > 0, d / (na * nb))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * xxhash64 folded into [-1, 1).
    */
  private def planeWeight(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000001L)).cast(DoubleType) - 1000000.0) / 1000000.0

  /** HOF form of [[Similarity.hyperplaneBucket]] (xxhash64 planes). */
  def hyperplaneBucketHof(vec: Column, bits: Int, planeOffset: Int = 0): Column = {
    val idx = sequence(lit(0), size(vec) - 1)
    val bitCols: Seq[Column] = (0 until bits).map { p =>
      val proj = aggregate(
        zip_with(vec, idx, (x, i) => x * planeWeight(planeOffset + p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Squared L2 distance `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩`, each inner product a
    * sequential left-to-right double sum — the association order of
    * DuckDB's `LIST_INNER_PRODUCT`.
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Relational PQ assignment over [[Similarity.pqSubvectors]]: min over
    * the broadcast codebook of (squared L2 asc, code asc) — the
    * deterministic tie rule, as a min-struct so the per-(id, subspace)
    * reduction map-side combines. The native `pqEncode` expression
    * replaced it on the hot path (its ×ksub candidate fan-out took 45 s
    * at sf0.1, the native loop ~1 s).
    */
  def pqAssignHof(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), Seq("__s"))
      .select(col("__id"), col("__s"),
        struct(l2sq(col("__sv"), col("cent")).as("__d"), col("code").as("__code"))
          .as("__cand"))
      .groupBy("__id", "__s")
      .agg(min(col("__cand")).as("__w"))
      .select(col("__id"), col("__s"), col("__w.__code").cast("long").as("code"))
}
