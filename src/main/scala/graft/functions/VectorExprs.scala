package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused vector-math expressions for embedding columns.
  *
  * The zip_with/aggregate HOF forms in graft.ops.Similarity evaluate an
  * interpreted lambda per vector element; these expressions run the loop
  * in plain JVM code — one eval per row, ~100× less overhead, which is
  * what makes all-pairs verification and LSH bucketing tractable.
  * Arithmetic is identical (sequential left-to-right double accumulation)
  * so results are bit-equal to the HOF forms (property-tested).
  *
  * Both expressions implement `doGenCode`, not CodegenFallback: a
  * fallback expression anywhere in a Project/Filter evicts that operator
  * from whole-stage codegen, which de-optimizes the entire surrounding
  * stage. The LSH dedup bucket join pays the cost everywhere it matters —
  * its verify filter runs cosine over the full candidate stream (~200M
  * rows at 20k vectors), and interpreted eval there showed up as ~1.4 µs
  * per candidate at sf1 where the generated loop is ~100× cheaper.
  */
object VectorExprs {

  /** Cosine similarity of two array<double> vectors; null on zero norms,
    * mismatched lengths, or null elements.
    */
  case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    /** Nullable even when both children are non-nullable: the kernel
      * returns null on mismatched lengths or zero norms. Without this
      * override, non-nullable inputs (e.g. a `coalesce`-built vector)
      * make `nullable=false`, and nullSafeCodeGen then emits
      * `${ev.isNull} = true` assignments against an isNull that was
      * never declared — Janino rejects the class ("is not an rvalue")
      * and the WHOLE whole-stage-codegen subtree falls back to
      * interpreted eval (measured: q_knn_text_hashtf pays the brute
      * cosine loop per pair in the interpreted path).
      */
    override def nullable: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getDouble(i)
        val y = b.getDouble(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      if (na > 0 && nb > 0) java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
      else null
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $dot = 0.0;
           |  double $na = 0.0;
           |  double $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    final double $x = $a.getDouble($i);
           |    final double $y = $b.getDouble($i);
           |    $dot += $x * $y;
           |    $na += $x * $x;
           |    $nb += $y * $y;
           |  }
           |  if ($na > 0 && $nb > 0) {
           |    ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
           |  } else {
           |    ${ev.isNull} = true;
           |  }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
      copy(left = newLeft, right = newRight)
  }

  /** Hyperplane-LSH bucket: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes, weight(p, i) derived from
    * `planeHash`. `planeOffset` selects an independent plane family
    * (planes planeOffset..planeOffset+bits-1) — the OR-amplification
    * hook: each LSH table t uses offset t*bits.
    *
    * `planeHash` = `"xxhash64"` (exactly the HOF plane weight SimilaritySpec
    * keeps as its reference, bit-parity property-tested — the default)
    * or `"md5"` (first 15 hex digits of md5("p_i") mod 2000001, mapped
    * to [-1, 1] — reproducible in any engine with an md5(), which makes
    * the bucketing itself SQL-oracle-able; projections are sequential
    * double adds in index order, bit-identical to DuckDB's ordered
    * LIST_INNER_PRODUCT, verified on the gate corpus). Either family is
    * a deterministic pseudo-random direction set; recall behavior is
    * identical in distribution.
    */
  case class HyperplaneBucket(child: Expression, bits: Int, planeOffset: Int = 0,
                              planeHash: String = "xxhash64")
    extends UnaryExpression {

    require(planeHash == "xxhash64" || planeHash == "md5",
      s"unknown plane hash '$planeHash' (xxhash64 | md5)")

    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_bucket"

    // weight(p, i) = (pmod(h(p, i), 2000001) - 1e6) / 1e6, where h is
    // the xxhash64 fold hash(i, hash(p, seed=42)) — SQL builtin order —
    // or the 60-bit md5 prefix of "p_i"
    private def weight(p: Int, i: Int): Double = {
      val m = 2000001L
      val pm =
        if (planeHash == "md5") {
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"${p}_$i".getBytes("UTF-8"))
            .take(8).map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.take(15), 16) % m
        } else {
          val h = XxHash64Function.hash(i, IntegerType,
            XxHash64Function.hash(p, IntegerType, 42L))
          ((h % m) + m) % m
        }
      (pm - 1000000.0) / 1000000.0
    }

    // Per-plane weight rows, memoized per task lifetime: the hash fold is
    // ~10 arithmetic ops per (plane, dim) and recomputing it per ROW is
    // what made the pre-cache eval dominate bucketing cost. Transient —
    // each executor rebuilds its own cache lazily after deserialization.
    @transient private lazy val weightCache =
      new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()

    /** Cached weight row for plane `p`, grown to at least `n` entries.
      * Public only for the generated code, which calls it through a
      * reference to this expression object.
      */
    def planeWeights(p: Int, n: Int): Array[Double] = {
      val cur = weightCache.get(p)
      if (cur != null && cur.length >= n) cur
      else {
        val w = Array.tabulate(n)(weight(p, _))
        weightCache.put(p, w)
        w
      }
    }

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      var bucket = 0L
      var p = 0
      while (p < bits) {
        val w = planeWeights(planeOffset + p, n)
        var proj = 0.0
        var i = 0
        while (i < n) {
          proj += v.getDouble(i) * w(i)
          i += 1
        }
        if (proj >= 0) bucket |= (1L << p)
        p += 1
      }
      java.lang.Long.valueOf(bucket)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("hyperplaneBucket", this,
        classOf[HyperplaneBucket].getName)
      nullSafeCodeGen(ctx, ev, v => {
        val n = ctx.freshName("n")
        val bucket = ctx.freshName("bucket")
        val p = ctx.freshName("p")
        val w = ctx.freshName("w")
        val proj = ctx.freshName("proj")
        val i = ctx.freshName("i")
        s"""
           |final int $n = $v.numElements();
           |long $bucket = 0L;
           |for (int $p = 0; $p < $bits; $p++) {
           |  final double[] $w = $self.planeWeights($planeOffset + $p, $n);
           |  double $proj = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $proj += $v.getDouble($i) * $w[$i];
           |  }
           |  if ($proj >= 0) $bucket |= (1L << $p);
           |}
           |${ev.value} = $bucket;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
      copy(child = newChild)
  }

  /** Runtime helper for [[TopCells]]: ids of the `k` centroids with the
    * highest cosine against `v`, ordered best-first, ties to the SMALLER
    * centroid id — bit-compatible with the peel-argmax-by
    * `max(struct(cos, -centroid_id))` formulation it replaces
    * (uncomputable cosines — zero norms, length mismatch — rank as -∞,
    * exactly where SQL null sorts under max). `norms` carries the
    * precomputed centroid L2 norms so the hot loop is one fused
    * dot+query-norm pass per centroid.
    */
  def topCellsEval(v: ArrayData, mat: Array[Array[Double]], ids: Array[Long],
                   norms: Array[Double], k: Int): ArrayData = {
    val d = v.numElements()
    val q = new Array[Double](d)
    var nq = 0.0
    var i = 0
    while (i < d) {
      val x = v.getDouble(i)
      q(i) = x
      nq += x * x
      i += 1
    }
    val nqs = math.sqrt(nq)
    val bestIds = new Array[Long](k)
    val bestScores = new Array[Double](k)
    java.util.Arrays.fill(bestScores, Double.NegativeInfinity)
    java.util.Arrays.fill(bestIds, Long.MaxValue)
    var c = 0
    while (c < mat.length) {
      val cent = mat(c)
      val score =
        if (cent.length != d || nq <= 0 || norms(c) <= 0) Double.NegativeInfinity
        else {
          var dot = 0.0
          var j = 0
          while (j < d) { dot += q(j) * cent(j); j += 1 }
          dot / (nqs * norms(c))
        }
      val id = ids(c)
      // insertion into the top-k, ordered by (score desc, id asc)
      var pos = k
      while (pos > 0 && (score > bestScores(pos - 1) ||
        (score == bestScores(pos - 1) && id < bestIds(pos - 1)))) pos -= 1
      if (pos < k) {
        var m = k - 1
        while (m > pos) { bestScores(m) = bestScores(m - 1); bestIds(m) = bestIds(m - 1); m -= 1 }
        bestScores(pos) = score
        bestIds(pos) = id
      }
      c += 1
    }
    val out = new Array[Long](math.min(k, mat.length))
    System.arraycopy(bestIds, 0, out, 0, out.length)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Best-`k` centroid ids for a vector against a plan-referenced
    * centroid matrix — the IVF/SemDeDup assign step as ONE native
    * expression: n rows × one tight JVM loop, replacing an
    * n × nCells crossJoin stream through join/aggregate machinery
    * whose throughput proved hostage to JIT profile state (r10: the
    * same sf30 semdedup section ran 19 s or 483 s across identical
    * runs with clean calibration brackets; the tight loop has no
    * megamorphic dispatch to lose).
    */
  case class TopCells(child: Expression, ids: Array[Long],
                      mat: Array[Array[Double]], k: Int)
    extends UnaryExpression {

    require(k >= 1 && k <= mat.length, s"k=$k out of [1, ${mat.length}]")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "top_cells"

    @transient private lazy val norms: Array[Double] =
      mat.map(c => math.sqrt(c.map(x => x * x).sum))

    override def nullSafeEval(v: Any): Any =
      topCellsEval(v.asInstanceOf[ArrayData], mat, ids, norms, k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val matRef = ctx.addReferenceObj("topCellsMat", mat, "double[][]")
      val idsRef = ctx.addReferenceObj("topCellsIds", ids, "long[]")
      val normsRef = ctx.addReferenceObj("topCellsNorms", norms, "double[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExprs.topCellsEval($c, $matRef, $idsRef, $normsRef, $k)")
    }

    override protected def withNewChildInternal(newChild: Expression): TopCells =
      copy(child = newChild)
  }

  def topCells(v: Column, ids: Array[Long], mat: Array[Array[Double]],
               k: Int): Column =
    GraftShim.column(TopCells(
      GraftShim.expression(v.cast("array<double>")), ids, mat, k))

  /** Runtime helper for [[PqEncode]]: per subspace, the code id of the
    * nearest centroid by squared L2, computed as `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩`
    * with each inner product a sequential index-order sum — the exact
    * association order of the HOF formulation it replaces and of the
    * oracle's `LIST_INNER_PRODUCT` decomposition, so assignment DECISIONS
    * are bit-compatible. Ties go to the smaller code id (codebooks are
    * code-sorted, so first-strictly-less wins); an uncomputable distance
    * (NaN) ranks last, where SQL null sorts under `ASC NULLS LAST`.
    * `dbb` carries the per-centroid self-products precomputed in the same
    * index order.
    */
  def pqEncodeEval(v: ArrayData, cents: Array[Array[Array[Double]]],
                   codeIds: Array[Array[Long]], dbb: Array[Array[Double]],
                   dsub: Int): ArrayData = {
    val m = cents.length
    if (v.numElements() != m * dsub) return null
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var daa = 0.0
      var j = 0
      while (j < dsub) { val x = v.getDouble(base + j); daa += x * x; j += 1 }
      val cs = cents(s)
      var bestD = Double.PositiveInfinity
      var bestId = Long.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var dab = 0.0
        j = 0
        while (j < dsub) { dab += v.getDouble(base + j) * cent(j); j += 1 }
        val d = daa - 2.0 * dab + dbb(s)(c)
        if (d < bestD || (d == bestD && codeIds(s)(c) < bestId)) {
          bestD = d; bestId = codeIds(s)(c)
        }
        c += 1
      }
      // all-NaN distances (a NaN/Inf vector component poisons every
      // candidate): fall back to the smallest code — the min-struct HOF
      // twin (NaN compares equal-and-largest, ties to smallest code) and
      // the oracle's ASC NULLS LAST row_number both land there, and the
      // parity contract covers degenerate vectors too
      if (bestId == Long.MaxValue && cs.nonEmpty) bestId = codeIds(s)(0)
      out(s) = bestId
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** All m PQ codes of a vector in ONE native pass — the product-
    * quantization assign/encode step without the (vector × subspace ×
    * centroid) candidate fan-out: the HOF formulation streamed ~m·ksub
    * candidate rows per vector through zip_with/aggregate lambdas (three
    * array allocations per candidate) and an interpreted struct-min, and
    * measured 45 s warm at sf0.1 where IVF's native assign runs ~1 s.
    * Returns `array<long>` of the per-subspace code ids (position =
    * subspace), or null when the vector's length isn't m·dsub.
    */
  case class PqEncode(child: Expression, codeIds: Array[Array[Long]],
                      cents: Array[Array[Array[Double]]], dsub: Int)
    extends UnaryExpression {

    require(cents.length == codeIds.length && cents.length >= 1 && dsub >= 1,
      s"malformed PQ codebook: m=${cents.length}/${codeIds.length} dsub=$dsub")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_encode"

    @transient private lazy val dbb: Array[Array[Double]] =
      cents.map(_.map { c =>
        var s = 0.0; var j = 0
        while (j < c.length) { s += c(j) * c(j); j += 1 }
        s
      })

    override def nullSafeEval(v: Any): Any =
      pqEncodeEval(v.asInstanceOf[ArrayData], cents, codeIds, dbb, dsub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
      val idsRef = ctx.addReferenceObj("pqIds", codeIds, "long[][]")
      val dbbRef = ctx.addReferenceObj("pqDbb", dbb, "double[][]")
      val code = ctx.freshName("pqCodes")
      nullSafeCodeGen(ctx, ev, c =>
        s"""org.apache.spark.sql.catalyst.util.ArrayData $code =
           |  graft.functions.VectorExprs.pqEncodeEval($c, $centsRef, $idsRef, $dbbRef, $dsub);
           |if ($code == null) { ${ev.isNull} = true; } else { ${ev.value} = $code; }
           |""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): PqEncode =
      copy(child = newChild)
  }

  def pqEncode(v: Column, codeIds: Array[Array[Long]],
               cents: Array[Array[Array[Double]]], dsub: Int): Column =
    GraftShim.column(PqEncode(
      GraftShim.expression(v.cast("array<double>")), codeIds, cents, dsub))

  /** Runtime helper for [[RandomProject]]: out[j] = ⟨v, signs[j]⟩ / scale,
    * each inner product a sequential index-order double sum — the exact
    * association order of SQL's `LIST_INNER_PRODUCT`, so projected
    * components are bit-reproducible across engines. Null on a length
    * mismatch (the sign matrix is sized to the corpus dimension).
    */
  def randomProjectEval(v: ArrayData, signs: Array[Array[Double]],
                        scale: Double): ArrayData = {
    val outDim = signs.length
    val inDim = if (outDim == 0) 0 else signs(0).length
    if (v.numElements() != inDim) return null
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      val row = signs(j)
      var s = 0.0
      var i = 0
      while (i < inDim) { s += v.getDouble(i) * row(i); i += 1 }
      out(j) = s / scale
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Johnson–Lindenstrauss sign projection as ONE fused per-row kernel.
    * The HOF formulation (transform over a 16×64 literal matrix with an
    * aggregate(zip_with(...)) lambda per component) rendered the literal
    * into generated Java and blew Janino's method limit — whole-stage
    * codegen failed and the stage fell back to interpreted eval. Here the
    * matrix rides as a REFERENCE OBJECT (one java array, never rendered
    * into source), so the generated code is a 3-line helper call and the
    * stage stays inside whole-stage codegen.
    */
  case class RandomProject(child: Expression, signs: Array[Array[Double]],
                           scale: Double)
    extends UnaryExpression {

    require(signs.nonEmpty && signs.forall(_.length == signs(0).length) && scale > 0,
      s"malformed projection: outDim=${signs.length} scale=$scale")

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "random_project"

    override def nullSafeEval(v: Any): Any =
      randomProjectEval(v.asInstanceOf[ArrayData], signs, scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val signsRef = ctx.addReferenceObj("rpSigns", signs, "double[][]")
      val out = ctx.freshName("rpOut")
      nullSafeCodeGen(ctx, ev, c =>
        s"""org.apache.spark.sql.catalyst.util.ArrayData $out =
           |  graft.functions.VectorExprs.randomProjectEval($c, $signsRef, $scale);
           |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
           |""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): RandomProject =
      copy(child = newChild)
  }

  def randomProject(v: Column, signs: Array[Array[Double]],
                    scale: Double): Column =
    GraftShim.column(RandomProject(
      GraftShim.expression(v.cast("array<double>")), signs, scale))

  def cosineSim(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(
      GraftShim.expression(a.cast("array<double>")),
      GraftShim.expression(b.cast("array<double>"))))

  def hyperplaneBucket(v: Column, bits: Int, planeOffset: Int = 0,
                       planeHash: String = "xxhash64"): Column =
    GraftShim.column(HyperplaneBucket(
      GraftShim.expression(v.cast("array<double>")), bits, planeOffset, planeHash))
}
