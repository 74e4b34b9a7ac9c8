package graft.ops

import graft.ops.Materialize.ForkOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`array<float>`):
  * exact cosine top-k as the baseline, hyperplane-LSH buckets as the
  * 100 TB scale path.
  *
  * Vector math is fused Catalyst expressions ([[graft.functions
  * .VectorExprs]]) or `zip_with`/`aggregate` higher-order functions — no
  * UDF/serialization cost, and arithmetic is double everywhere so results
  * are engine-reproducible.
  */
object Similarity {

  /** Cosine similarity; null-safe on zero vectors (returns null).
    * Fused expression ([[graft.functions.VectorExprs.CosineSim]]) — one
    * eval per row; SimilaritySpec pins it to a builtin-HOF form.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** Hyperplane-LSH bucket id: `bits` sign bits of projections onto
    * deterministic hyperplanes. Nearby (cosine) vectors collide with high
    * probability; bucket count = 2^bits bounds candidate-set size.
    * `planeOffset` selects an independent plane family — table t of an
    * OR-amplified scheme passes offset t*bits.
    * Fused expression; SimilaritySpec pins it to a builtin-HOF form.
    */
  def hyperplaneBucket(vec: Column, bits: Int, planeOffset: Int = 0,
                       planeHash: String = "xxhash64"): Column =
    graft.functions.VectorExprs.hyperplaneBucket(vec, bits, planeOffset, planeHash)

  /** Exact brute-force cosine top-k: every query row scored against the
    * whole corpus, top k per query by (cosine desc, corpus id asc — the
    * deterministic tie-break). Queries are broadcast (the small side);
    * the corpus streams, so cost is one corpus scan + one shuffle of
    * (query, candidate, score) tuples for the per-query ranking.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Recall@k of an approximate top-k result against the exact baseline
    * — the ANN family's self-evaluation operator. Both inputs are
    * `(query_id, neighbor_id, rank, …)` frames as produced by
    * [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] / [[pqTopK]] /
    * [[ivfPqTopK]] / [[rpTopK]] / [[sq8TopK]]; rows beyond rank `k` are
    * ignored on both sides. Emits one row per exact-side query:
    * `(query_id, n_hit, recall)` with `n_hit` = |approx∩exact| within
    * rank ≤ k and `recall` = n_hit / |exact rows for the query| — the
    * denominator is the query's OWN exact-neighbor count, not a flat k,
    * so a query whose corpus holds fewer than k neighbors can still
    * score a perfect 1.0 (a fixed-k denominator would cap it below 1
    * forever). A query the approximate method returned nothing for
    * (empty LSH bucket, all-null projections) scores 0, it does not
    * drop out of the report.
    *
    * Scale shape: every frame here is QUERY-SET-sized (|Q|·k rows), not
    * corpus-sized — recall evaluation is run on a sampled query set, so
    * the semi-join and the per-query count are trivially small at any
    * corpus scale; the planner is free to broadcast either side. The
    * expensive part is producing the inputs, which the *TopK operators
    * already bound (broadcast queries × streamed corpus).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val a = approx.filter(col("rank") <= k).select(col("query_id"), col("neighbor_id"))
    val e = exact.filter(col("rank") <= k).select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("__n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("__n_exact"), 9)
          .as("recall"))
  }

  /** Quantization scale for [[ivfCentroids]]' per-cell means: components
    * round to the nearest 2⁻²⁰ (≈1e-6 — far below any embedding's signal)
    * and accumulate as EXACT 64-bit integer sums, so the mean is
    * independent of Spark's partial-aggregation order. A double `avg`
    * here would make every centroid — and everything downstream of it
    * (cell assignment, SemDeDup pairs, IVF top-k) — nondeterministic
    * across runs, partitionings, and engines, because float addition is
    * not associative. The scale is a power of two so the de-scaling
    * division is exact; headroom: |sum| ≤ 2²⁰·|cell|·max|x|, overflowing
    * long only past ~10¹² unit-scale members per cell.
    */
  val CentroidQuantScale: Double = 1048576.0 // 2^20

  /** Deterministic IVF coarse quantizer: K seed centroids (the first K
    * corpus vectors by id — no RNG) refined by `iters` Lloyd steps
    * (assign all vectors to the nearest centroid by cosine, then
    * element-wise mean per cell). Returns (centroid_id, centroid
    * array<double>); a cell that empties out during refinement drops from
    * the result. Per step: one broadcast-join assignment pass over the
    * corpus + two shuffles of (cell, dim) partial means; the K-row result
    * of each step is eagerly localCheckpoint-ed so the next step (and
    * every downstream broadcast) starts from materialized rows instead of
    * replaying the whole refinement chain. Seeds are deterministic and
    * the cell means accumulate as quantized integer sums
    * ([[CentroidQuantScale]]), so the centroid stream is BIT-reproducible
    * at any `iters`, any partitioning, any scale — which is what lets the
    * SemDeDup and IVF correctness gates rebuild the whole refinement in
    * the relational oracle.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val vecs = corpus.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val seeds = vecs.orderBy("__id").limit(k)
      .select(col("__id").as("centroid_id"), col("__v").as("centroid"))
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      // element-wise mean per cell: explode dims, sum exact quantized
      // longs (order-independent), de-scale, re-assemble. floor(x·S + ½)
      // rather than round(): floor on a double is defined identically in
      // every IEEE engine, while round's tie rule differs across engines.
      assignToCentroids(vecs, cents)
        .select(col("centroid_id"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy("centroid_id", "__dim")
        .agg(sum(floor(col("__x") * CentroidQuantScale + 0.5)).as("__qs"),
          // count(__x), not count(*): sum(floor(...)) skips null components,
          // so the denominator must skip them too or a null-bearing vector
          // would bias its cell mean toward zero
          count(col("__x")).as("__n"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("__dim"),
          (col("__qs").cast(DoubleType) / CentroidQuantScale /
            col("__n").cast(DoubleType)).as("__m")))).as("__dm"))
        .select(col("centroid_id"),
          transform(col("__dm"), s => s.getField("__m")).as("centroid"))
        .lineageCut()
    }
  }

  /** Nearest centroid per vector via the native
    * [[graft.functions.VectorExprs.TopCells]] expression (k = 1):
    * centroids collect to the driver — the same √n-bounded object the
    * previous formulation broadcast — and each vector's cell is one
    * tight JVM loop. Replaces an n × nlist crossJoin + max-struct
    * argmax whose throughput proved hostage to JIT profile state at
    * sf30 (see [[graft.ops.Dedup.semdedupPairs]]); ordering semantics
    * are bit-identical (cosine desc, centroid_id asc, uncomputable
    * cosines last) and SimilaritySpec's IVF gates replay this
    * assignment in SQL unchanged.
    */
  private def assignToCentroids(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val centRows = centroids
      .select(col("centroid_id").cast("long"), col("centroid").cast("array<double>"))
      .collect()
    val ids = centRows.map(_.getLong(0))
    val mat = centRows.map(_.getSeq[Double](1).toArray)
    if (ids.isEmpty) // empty corpus → no cells, typed-compatible empty frame
      return vecs.limit(0).select(col("__id"),
        lit(null).cast("long").as("centroid_id"), col("__v"))
    vecs.select(col("__id"),
      element_at(graft.functions.VectorExprs.topCells(col("__v"), ids, mat, 1), 1)
        .as("centroid_id"),
      col("__v"))
  }

  /** IVF approximate top-k: corpus vectors are partitioned into `nlist`
    * centroid cells; each query scores only the `nprobe` nearest cells.
    * The 100 TB path when hyperplane LSH's fixed buckets fit the data
    * poorly — cells adapt to the corpus distribution. ~nprobe/nlist of
    * the corpus is scanned per query.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nlist: Int, nprobe: Int,
              fittedCentroids: Option[DataFrame] = None): DataFrame = {
    // `fittedCentroids`: a caller that runs SEVERAL IVF-family probes
    // over one corpus (the recall report fits the same nlist twice —
    // here and in ivfPqTopK) passes the shared [[ivfCentroids]] result;
    // the fit is deterministic, so the output is identical either way
    val centroids = fittedCentroids.getOrElse(ivfCentroids(corpus, cId, cVec, nlist))
    val corpusCells = assignToCentroids(
      corpus.select(col(cId).as("__id"), col(cVec).cast("array<double>").as("__v")), centroids)
      .select(col("centroid_id"), col("__id").as("neighbor_id"), col("__v").as("__cv"))
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv"))
    val qCells = q.crossJoin(broadcast(centroids))
      .withColumn("__cos", cosine(col("__qv"), col("centroid")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cos").desc, col("centroid_id"))))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    broadcast(qCells).join(corpusCells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Per-dimension corpus [min, max-min] for scalar quantization, as a
    * single-row frame of two aligned arrays (`__mnArr`, `__spanArr`).
    * `posexplode` fans out N·d rows but the groupBy keys on the d dim
    * indices, so map-side partial aggregation collapses each scan
    * partition to d rows before the (tiny) shuffle — the pass costs one
    * corpus read regardless of N.
    */
  private def sqBounds(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("__dim", "__x")))
      .groupBy("__dim").agg(min("__x").as("__mn"), max("__x").as("__mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("__dim"), col("__mn"), col("__mx")))).as("__dm"))
      .select(
        transform(col("__dm"), s => s.getField("__mn")).as("__mnArr"),
        transform(col("__dm"), s => s.getField("__mx") - s.getField("__mn")).as("__spanArr"))

  /** Scalar-quantized (SQ8) approximate top-k: every embedding component
    * is quantized to one signed byte (`array<tinyint>` — 4× smaller than
    * float, 8× smaller than double), and scoring runs on the dequantized
    * reconstruction. The 100 TB path when the bottleneck is scan/shuffle
    * bandwidth rather than candidate count: codes travel the wire, the
    * (d-element, broadcast) bounds dequantize them at the consumer, and
    * recall stays near-exact because 256 levels per dimension keep the
    * reconstruction error ~span/512 per component.
    *
    * Codes are `floor((x-mn)/span·255) - 128` — pure IEEE double ops in a
    * fixed association order, so quantization is bit-reproducible across
    * engines (the correctness gate runs the same formula in SQL).
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int): DataFrame = {
    val c0 = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__v"))
    val q0 = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__v"))
    // both the corpus and the query side cross-join the bounds row; an
    // unmaterialized plan would re-run the whole bounds aggregation (its
    // own corpus scan) once per side — eagerly checkpoint the single row
    // so the corpus is scanned once for bounds, period
    val bounds = sqBounds(corpus, cVec).lineageCut()
    // shift by -128 so the code domain is exactly TINYINT; span=0 dims
    // (constant across the corpus) code to 0 and dequantize to mn
    def encode(v: Column): Column =
      zip_with(zip_with(v, col("__mnArr"), (x, mn) => x - mn), col("__spanArr"),
        (d, s) => (when(s > 0, least(lit(255L), greatest(lit(0L), floor(d / s * 255))))
          .otherwise(lit(0L)) - 128).cast(ByteType))
    def dequant(code: Column): Column =
      zip_with(zip_with(code, col("__spanArr"),
        (q, s) => (q.cast(IntegerType) + 128).cast(DoubleType) * s / 255.0),
        col("__mnArr"), (r, mn) => r + mn)
    def enc(df: DataFrame, outId: String, outVec: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .withColumn("__code", encode(col("__v")))
        .withColumn(outVec, dequant(col("__code")))
        .select(col(df.columns.head).as(outId), col(outVec))
    val c = enc(c0, "neighbor_id", "__cv")
    val q = enc(q0, "query_id", "__qv")
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Per-subspace view of a vector frame: one row per (vector, subspace)
    * with the `dsub`-component subvector. The explode is narrow (no
    * shuffle) — the ×m fan-out exists only inside the training/encode
    * stages and never carries full vectors across the wire.
    */
  private[ops] def pqSubvectors(vecs: DataFrame, m: Int, dsub: Int): DataFrame =
    vecs.select(col("__id"), explode(sequence(lit(0), lit(m - 1))).as("__s"), col("__v"))
      .select(col("__id"), col("__s"),
        slice(col("__v"), col("__s") * dsub + 1, lit(dsub)).as("__sv"))

  /** Collect a codebook frame to the driver as code-sorted per-subspace
    * (ids, centroid matrices) — the √-corpus-free, ksub·d-double object
    * [[graft.functions.VectorExprs.PqEncode]] references from the plan.
    * A subspace whose every cell died collapses to empty arrays; the
    * expression then emits Long.MaxValue for it, which joins nothing
    * downstream (the degenerate-corpus case, matching the relational
    * formulation where the assignment join simply finds no candidates).
    */
  private def collectCodebook(codebook: DataFrame, m: Int)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val rows = codebook.select(col("__s").cast("int"), col("code").cast("long"),
      col("cent").cast("array<double>")).collect()
    val by = rows.groupBy(_.getInt(0))
    val ids = Array.tabulate(m)(s =>
      by.get(s).fold(Array.empty[Long])(_.map(_.getLong(1)).sorted))
    val mats = Array.tabulate(m)(s =>
      by.get(s).fold(Array.empty[Array[Double]])(
        _.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray)))
    (ids, mats)
  }

  /** All m codes per vector via the native [[graft.functions.VectorExprs
    * .PqEncode]] expression — one tight JVM loop per row, no candidate
    * fan-out. Returns (__id, __s, code) long-format; SimilaritySpec pins
    * it bit-identical to the relational min over the broadcast codebook.
    */
  private def pqAssignNative(vecs: DataFrame, codebook: DataFrame,
                             m: Int, dsub: Int): DataFrame = {
    val (ids, mats) = collectCodebook(codebook, m)
    vecs.select(col("__id"),
      posexplode(graft.functions.VectorExprs.pqEncode(col("__v"), ids, mats, dsub))
        .as(Seq("__s", "code")))
  }

  /** Codebook reconstruction of every coded vector: codes → centroids
    * via the broadcast codebook, flattened in (subspace, dim) order —
    * the decoded form of the m-byte stored representation. Returns
    * (neighbor_id, __recon).
    */
  private def reconFromCodes(codes: DataFrame, codebook: DataFrame): DataFrame =
    codes.join(broadcast(codebook), Seq("__s", "code"))
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__s"), col("cent")))).as("__sc"))
      .select(col("__id").as("neighbor_id"),
        flatten(transform(col("__sc"), s => s.getField("cent"))).as("__recon"))

  /** Deterministic product-quantization codebooks: the d-dim space splits
    * into `m` subspaces of `dsub` dims; each subspace gets `ksub`
    * centroids seeded from the first `ksub` corpus vectors by id (code =
    * 1-based rank — no RNG) and refined by `iters` Lloyd steps under
    * squared-L2 assignment ([[pqAssignNative]]) with the same quantized-integer
    * mean update as [[ivfCentroids]] ([[CentroidQuantScale]]), so the
    * whole codebook stream is BIT-reproducible at any partitioning and
    * rebuildable in the relational oracle. Returns (__s, code, cent).
    *
    * Scale note: training cost is one corpus pass per Lloyd step (the
    * per-candidate work is ksub tiny dot products), but at 100 TB you
    * train on a deterministic id-bounded sample (`corpus.filter(id <
    * cap)`) — PQ codebooks converge on ~10⁵–10⁶ vectors and nothing
    * downstream cares that the trainer saw a subset; the gates train on
    * the full (small) corpus so the oracle replays every row.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, dsub: Int, ksub: Int, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val vecs = corpus.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val sv = pqSubvectors(vecs, m, dsub)
    val seedRanks = vecs.orderBy("__id").limit(ksub)
      .select(col("__id"), row_number().over(Window.orderBy("__id")).as("code"))
    val c0 = sv.join(broadcast(seedRanks), "__id")
      .select(col("__s"), col("code").cast("long").as("code"), col("__sv").as("cent"))
      .lineageCut()
    (1 to iters).foldLeft(c0) { (cents, _) =>
      // element-wise mean per (subspace, code): exact quantized long sums
      // (order-independent), de-scale, re-assemble — see [[ivfCentroids]].
      // Assignment is the native encode; the full-vector posexplode
      // re-derives (subspace, in-subspace dim) from the flat dim index,
      // so the whole step is one narrow pass over the corpus — no
      // candidate join, no subvector fan-out.
      val (ids, mats) = collectCodebook(cents, m)
      vecs.select(
          graft.functions.VectorExprs.pqEncode(col("__v"), ids, mats, dsub).as("__codes"),
          posexplode(col("__v")).as(Seq("__d0", "__x")))
        .select(
          (col("__d0") / dsub).cast(IntegerType).as("__s"),
          element_at(col("__codes"), (col("__d0") / dsub).cast(IntegerType) + 1).as("code"),
          pmod(col("__d0"), lit(dsub)).as("__dim"), col("__x"))
        .groupBy("__s", "code", "__dim")
        .agg(sum(floor(col("__x") * CentroidQuantScale + 0.5)).as("__qs"),
          count(col("__x")).as("__n"))
        .groupBy("__s", "code")
        .agg(array_sort(collect_list(struct(col("__dim"),
          (col("__qs").cast(DoubleType) / CentroidQuantScale /
            col("__n").cast(DoubleType)).as("__m")))).as("__dm"))
        .select(col("__s"), col("code"),
          transform(col("__dm"), s => s.getField("__m")).as("cent"))
        .lineageCut()
    }
  }

  /** Product-quantized approximate top-k: every corpus vector is stored
    * as `m` small codes (one per subspace — at m=8 that is 8 bytes
    * against 256 for float64, a 32× memory/bandwidth compression, the
    * standard way a 100 TB embedding corpus fits an ANN serving tier),
    * candidates are shortlisted by approximate cosine against the
    * codebook RECONSTRUCTION, and the `shortlist` survivors per query are
    * re-ranked by exact cosine. Classic ADC evaluates the same score as
    * per-subspace lookup-table partial sums; here the score is computed
    * as one full-length sequential dot against the reconstructed vector —
    * mathematically identical, and bit-identical across engines (the LUT
    * association order would differ from SQL's `LIST_INNER_PRODUCT`),
    * which is what lets the gate oracle replay shortlist DECISIONS, not
    * just the output shape.
    *
    * Scale shape: codebooks are ksub·d doubles (broadcast, ~KB);
    * reconstruction is a broadcast join + flatten on the corpus side (no
    * corpus shuffle); the only shuffles are the per-query rank windows,
    * sized |queries|·|corpus| and |queries|·shortlist.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, qVec: String, cId: String, cVec: String,
             k: Int, m: Int = 8, dsub: Int = 8, ksub: Int = 16,
             iters: Int = 3, shortlist: Int = 50,
             fittedCodebook: Option[DataFrame] = None): DataFrame = {
    // `fittedCodebook`: same sharing contract as ivfTopK's
    // fittedCentroids — [[pqCodebooks]] is deterministic, so a caller
    // running pq AND ivfpq over one corpus fits once and passes it here
    val codebook = fittedCodebook.getOrElse(
      pqCodebooks(corpus, cId, cVec, m, dsub, ksub, iters))
    val cVecs = corpus.select(col(cId).as("__id"), col(cVec).cast("array<double>").as("__v"))
    val recon = reconFromCodes(pqAssignNative(cVecs, codebook, m, dsub), codebook)
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv"))
    val short = broadcast(q).crossJoin(recon)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", cosine(col("__qv"), col("__recon")))
      .withColumn("__srk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__approx").desc, col("neighbor_id"))))
      .filter(col("__srk") <= shortlist)
      .select(col("query_id"), col("__qv"), col("neighbor_id"))
    val cRaw = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv"))
    broadcast(short).join(cRaw, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF-PQ: the two ANN reductions composed — IVF cells bound the
    * CANDIDATE COUNT (each query scores ~nprobe/nlist of the corpus),
    * PQ codes bound the BYTES PER CANDIDATE (m codes instead of d
    * floats) — which is how a 100 TB embedding corpus becomes servable:
    * the scan per query is (nprobe/nlist)·n·m bytes. Codes here quantize
    * the RAW vectors against one global codebook (IVFFlat-with-PQ-storage)
    * rather than per-cell residuals: residual codebooks buy accuracy at
    * the cost of nlist× codebook state and a train/encode coupling the
    * relational oracle would have to replay per cell; the shortlist +
    * exact re-rank recovers the recall either way. Shortlist by
    * approximate cosine against the reconstruction within probed cells,
    * exact re-rank of the survivors — every stage deterministic and
    * replayed by the gate's SQL.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                qId: String, qVec: String, cId: String, cVec: String,
                k: Int, nlist: Int, nprobe: Int,
                m: Int = 8, dsub: Int = 8, ksub: Int = 16,
                iters: Int = 3, shortlist: Int = 32,
                fittedCentroids: Option[DataFrame] = None,
                fittedCodebook: Option[DataFrame] = None): DataFrame = {
    // shared-fit hooks (see ivfTopK/pqTopK): both fits are deterministic
    val centroids = fittedCentroids.getOrElse(ivfCentroids(corpus, cId, cVec, nlist))
    val cVecs = corpus.select(col(cId).as("__id"), col(cVec).cast("array<double>").as("__v"))
    val cells = assignToCentroids(cVecs, centroids)
      .select(col("centroid_id"), col("__id").as("neighbor_id"))
    val codebook = fittedCodebook.getOrElse(
      pqCodebooks(corpus, cId, cVec, m, dsub, ksub, iters))
    val recon = reconFromCodes(pqAssignNative(cVecs, codebook, m, dsub), codebook)
    // shuffle_hash: BOTH sides are corpus-sized; Catalyst's agg estimate
    // would broadcast the reconstruction frame (vectors to the driver)
    val corpusSide = cells.join(recon.hint("shuffle_hash"), Seq("neighbor_id"))
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv"))
    val qCells = q.crossJoin(broadcast(centroids))
      .withColumn("__cos", cosine(col("__qv"), col("centroid")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cos").desc, col("centroid_id"))))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    val short = broadcast(qCells).join(corpusSide, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", cosine(col("__qv"), col("__recon")))
      .withColumn("__srk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__approx").desc, col("neighbor_id"))))
      .filter(col("__srk") <= shortlist)
      .select(col("query_id"), col("__qv"), col("neighbor_id"))
    val cRaw = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv"))
    broadcast(short).join(cRaw, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** LSH-bucketed approximate top-k: corpus and queries bucketed by
    * [[hyperplaneBucket]]; each query only scores its own bucket. The
    * 100 TB path — candidate work divides by 2^bits at some recall cost
    * (multiprobe: probe all buckets within `probeHamming` bit flips of the
    * query's bucket to recover recall).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, bits: Int, probeHamming: Int = 1,
              planeHash: String = "xxhash64"): DataFrame = {
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv"))
      .withColumn("__bkt", hyperplaneBucket(col("__cv"), bits, 0, planeHash))
    val q0 = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv"))
      .withColumn("__qbkt", hyperplaneBucket(col("__qv"), bits, 0, planeHash))
    // multiprobe: expand each query to every bucket within Hamming distance
    // `probeHamming` of its own bucket — C(bits,1)+…+C(bits,r) probes/query
    // (the flip masks are computed once on the driver; the per-row work is
    // one XOR per probe)
    val probes: Column =
      if (probeHamming <= 0) array(col("__qbkt"))
      else {
        val flipMasks: Seq[Long] = (1 to math.min(probeHamming, bits)).flatMap(r =>
          (0 until bits).combinations(r).map(_.map(1L << _).reduce(_ | _)))
        require(flipMasks.size <= 4096,
          s"multiprobe explosion: ${flipMasks.size} probes for bits=$bits radius=$probeHamming")
        val flips = flipMasks.map(m => col("__qbkt").bitwiseXOR(lit(m)))
        array_distinct(array(col("__qbkt") +: flips: _*))
      }
    val q = q0.select(col("query_id"), col("__qv"), explode(probes).as("__bkt"))
    val scored = broadcast(q).join(c, Seq("__bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    scored
      .select("query_id", "neighbor_id", "cosine").distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Mean-center an embedding corpus: subtract the per-dimension corpus
    * mean from every vector — the standard anisotropy correction before
    * cosine retrieval (embedding spaces cluster around a dominant mean
    * direction; centering spreads the cosine distribution so neighbor
    * rankings discriminate again). The mean uses the SAME quantized
    * integer-sum trick as [[ivfCentroids]] ([[CentroidQuantScale]]):
    * components round to 2⁻²⁰ and accumulate as exact long sums, so the
    * mean — and every centered component — is BIT-reproducible across
    * partitionings and engines (an `avg` would be order-dependent).
    *
    * Scale shape: one narrow posexplode pass + one d-row hash aggregate
    * for the means; the d-element mean array rides a broadcast 1-row
    * cross join (the sq8-bounds shape) and the subtraction is a pure
    * zip_with — the corpus itself never shuffles. Long-sum headroom ends
    * past ~10¹² unit-scale rows per dimension (the [[CentroidQuantScale]]
    * contract); shard and average hierarchically beyond that.
    *
    * Dimension contract (mirrors [[randomProject]]): the corpus is
    * expected fixed-dimension; a vector whose length differs from the
    * mean array's (= the corpus max dimension — per-dimension means only
    * see the vectors long enough to have that dimension) centers to
    * NULL rather than silently acquiring null padding components.
    */
  def centerVectors(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    val means = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")))
      .groupBy("__i")
      .agg(sum(floor(col("__x") * CentroidQuantScale + 0.5)).as("__qs"),
        count(col("__x")).as("__n"))
      .agg(array_sort(collect_list(struct(col("__i"),
        (col("__qs").cast(DoubleType) / CentroidQuantScale /
          col("__n").cast(DoubleType)).as("__m")))).as("__dm"))
      .select(transform(col("__dm"), s => s.getField("__m")).as("__meanArr"))
      .lineageCut()
    df.crossJoin(broadcast(means))
      .withColumn(outCol,
        when(size(col(vecCol)) === size(col("__meanArr")),
          zip_with(col(vecCol).cast("array<double>"), col("__meanArr"),
            (x, m) => x - m))
          .otherwise(lit(null).cast("array<double>")))
      .drop("__meanArr")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Deterministic ±1 sign matrix for [[randomProject]]: sign(j, i) = +1
    * iff the first hex digit of md5("rp:seed:j:i") is below '8' — exactly
    * reproducible in SQL as `SUBSTR(MD5(...), 1, 1) < '8'`, which is what
    * lets the correctness gate rebuild the whole projection. Computed
    * once on the driver (outDim·inDim md5 calls — microseconds) and
    * shipped as a LITERAL, so per-row work is pure multiply-add.
    */
  private[ops] def rpSigns(outDim: Int, inDim: Int,
                           seed: String): Seq[Seq[Double]] =
    Seq.tabulate(outDim)(j => Seq.tabulate(inDim)(i =>
      if (md5hex(s"rp:$seed:$j:$i").charAt(0) < '8') 1.0 else -1.0))

  /** Johnson–Lindenstrauss sign random projection: maps `inDim`-vectors
    * to `outDim` components, out_j = Σᵢ vᵢ·sign(j,i) / √outDim. With
    * ±1 signs (Achlioptas' database-friendly construction) pairwise
    * distances — and so cosine neighborhoods — are preserved to within
    * ~√(ln n / outDim) distortion, which is the cheap way to cut an
    * embedding corpus's bandwidth 4× (64→16 dims) before brute-force or
    * LSH search. Deterministic end to end: the sign matrix derives from
    * md5 ([[rpSigns]]), products are exact sign flips, and the component
    * sum is the same sequential left-to-right double fold both engines
    * use — so projected vectors are BIT-reproducible, not just close.
    *
    * Scale shape: the sign matrix rides the fused
    * [[graft.functions.VectorExprs.RandomProject]] kernel as a reference
    * object (outDim·inDim doubles, ~KBs — no join, nothing broadcast
    * through the shuffle system, never rendered into generated source);
    * the projection is one per-row expression inside whole-stage codegen,
    * zero shuffle. Vectors whose length ≠ `inDim` project to null,
    * matching cosine's null-safety downstream.
    */
  def randomProject(df: DataFrame, vecCol: String, inDim: Int, outDim: Int,
                    outCol: String, seed: String = ""): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"inDim=$inDim outDim=$outDim must be >= 1")
    val signs = rpSigns(outDim, inDim, seed).map(_.toArray).toArray
    df.withColumn(outCol,
      graft.functions.VectorExprs.randomProject(
        col(vecCol), signs, math.sqrt(outDim.toDouble)))
  }

  /** ANN via random projection: shortlist by cosine in the PROJECTED
    * space (outDim ≪ d — the cheap scan), then re-rank the `shortlist`
    * survivors per query by exact full-dimension cosine. The same
    * shortlist-then-rerank shape as [[pqTopK]]: the projection bounds
    * BYTES per candidate (outDim/inDim of the full scan), the re-rank
    * restores exactness on what survives. Every stage is deterministic —
    * the gate's SQL replays the sign matrix, both cosines, and both rank
    * cuts.
    */
  def rpTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, qVec: String, cId: String, cVec: String,
             k: Int, inDim: Int, outDim: Int, shortlist: Int = 50,
             seed: String = ""): DataFrame = {
    val c = randomProject(
      corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv")),
      "__cv", inDim, outDim, "__cp", seed)
    val q = randomProject(
      queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("__qv")),
      "__qv", inDim, outDim, "__qp", seed)
    val short = broadcast(q).crossJoin(c.select("neighbor_id", "__cp"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", cosine(col("__qp"), col("__cp")))
      .withColumn("__srk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__approx").desc, col("neighbor_id"))))
      .filter(col("__srk") <= shortlist)
      .select(col("query_id"), col("__qv"), col("neighbor_id"))
    val cRaw = corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv"))
    broadcast(short).join(cRaw, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Quantized squared-Euclidean distance from a vector column to a
    * LITERAL center, as a long: Σᵢ ⌊(vᵢ−cᵢ)²·10¹² + ½⌋. Integer terms
    * make the sum order-independent and the downstream argmax an integer
    * comparison — the same cross-engine determinism discipline as
    * [[ivfCentroids]]' quantized means (floor, not round: round's tie
    * rule differs across engines). Codegen'd builtin HOFs, no UDF; at
    * unit-scale embeddings each term is ≤ ~10¹², so thousands of
    * dimensions fit a long with headroom.
    */
  private def d2qTo(v: Column, center: Seq[Double]): Column =
    aggregate(
      zip_with(v, array(center.map(lit): _*),
        (x, c) => floor((x - c) * (x - c) * lit(1e12) + lit(0.5)).cast(LongType)),
      lit(0L), (acc, e) => acc + e)

  /** Topic-balanced subsample: fit the deterministic [[ivfCentroids]]
    * quantizer, assign every vector to its nearest cell (the TopCells
    * rule every IVF/SemDeDup op shares), keep the `perCell`
    * pseudo-randomly-ranked smallest per cell — rank key
    * `(md5(id), id)`, the repo's deterministic sampling idiom
    * ([[graft.ops.Corpus.sampleExactKPerStratum]]), so reruns pick the
    * same rows on any engine. The selection family's BALANCED-COVERAGE
    * member: DSIR matches a target, [[kCenterSelect]] spans the
    * extremes, this one equalizes topic mass — the "don't let one
    * domain drown the mixture" subsample (cells with fewer than
    * `perCell` members are kept whole, the stratum semantics).
    *
    * 100 TB shape: one TopCells assignment scan (centroids are bounded
    * broadcast-class model state), then ONE shuffle on `centroid_id`
    * for the per-cell window — whose `row_number ≤ k` filter compiles
    * to the rank-limited WindowGroupLimit path, so each cell's
    * partition stops ranking past the quota. Returns
    * (`centroid_id`, `idCol`, `rank`).
    */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, perCell: Int,
                            iters: Int = 3): DataFrame = {
    require(perCell >= 1, s"perCell=$perCell must be >= 1")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, iters)
    val assigned = graft.ops.Dedup
      .semanticCellIndex(corpus, vecCol, idCol, cents, indexAssign = 1)
    val w = Window.partitionBy("centroid_id")
      .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
    assigned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("centroid_id"), col(idCol), col("rank"))
  }

  /** Greedy k-center diverse-subset selection (Gonzalez 1985 — the
    * classic farthest-point 2-approximation): seed with the smallest id,
    * then k−1 times pick the point FARTHEST (quantized squared
    * Euclidean, ties to the smaller id) from everything chosen so far.
    * The selection family's diversity member, complementing
    * [[graft.ops.Corpus.dsirScores]] (match-a-target) and the domain
    * caps/budgets (quota): k-center picks the spanning subset — coreset
    * seeds, eval-set anchors, dedup-cluster exemplars.
    *
    * Returns one row per pick: (`pick_order` 1-based, `idCol`, `d2q` =
    * the pick's quantized squared distance to the previously chosen set
    * at selection time — the classic coverage-radius curve; null for the
    * seed). Deterministic end-to-end: quantized-integer distances, the
    * min-id seed, and the (distance desc, id asc) argmax make every
    * decision engine-reproducible — the oracle gate replays all k rounds
    * in DuckDB decision-for-decision.
    *
    * 100 TB shape: the exact greedy algorithm is inherently O(n·k) —
    * each round is ONE narrow scan of (id, vec, running-min) computing
    * the distance to the single NEW center (a broadcast-literal array)
    * plus a TakeOrdered(1) reduce; no shuffle anywhere. The running-min
    * frame is lineage-cut per round with the superseded frame's blocks
    * released at the RDD level once its successor materializes
    * ([[Materialize.release]] — `Dataset.unpersist` is a silent no-op
    * on checkpointed frames, so the r17 version of this loop really
    * accumulated k frames until GC; block-manager residency now stays
    * ONE corpus-sized frame, deterministically), and the chosen centers
    * are bounded model state (k rows) on
    * the driver, the [[ivfCentroids]] contract. For k beyond a few
    * hundred at corpus scale, compose with sampling or an IVF
    * pre-partition; exactness of the greedy decisions is this
    * operator's point.
    *
    * Null vectors are unscreenable (every distance null) and are
    * EXCLUDED up front — a null-distance row would otherwise keep its
    * +∞ running-min forever and win every argmax.
    */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val spark = corpus.sparkSession
    val vecs = corpus
      .select(col(idCol).cast(LongType).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
    val outSchema = StructType(Seq(
      StructField("pick_order", IntegerType, nullable = false),
      StructField(idCol, LongType),
      StructField("d2q", LongType)))
    def result(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), outSchema)
    val seed = vecs.orderBy("__id").limit(1).collect()
    if (seed.isEmpty) return result(Nil)
    var picks = Vector(org.apache.spark.sql.Row(1, seed(0).getLong(0), null))
    var centerVec: Seq[Double] = seed(0).getSeq[Double](1)
    // running min-distance state; each round folds in ONLY the newest
    // center's distance (least), so round cost is one scan, not |centers|
    var state = vecs.filter(col("__id") =!= seed(0).getLong(0))
      .withColumn("__mind", d2qTo(col("__v"), centerVec))
      .lineageCut()
    var round = 2
    var exhausted = false
    while (round <= k && !exhausted) {
      val top = state
        .orderBy(col("__mind").desc, col("__id").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val id = top(0).getLong(0)
        picks :+= org.apache.spark.sql.Row(round, id, top(0).getLong(2))
        centerVec = top(0).getSeq[Double](1)
        val old = state
        state = state.filter(col("__id") =!= id)
          .withColumn("__mind",
            least(col("__mind"), d2qTo(col("__v"), centerVec)))
          .lineageCut()
        Materialize.release(old)
        round += 1
      }
    }
    Materialize.release(state)
    result(picks)
  }
}
