package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic scale-up generator: synthesizes an sf1-shaped dataset
  * from an existing sf dir (default: ×10 of sf0.1) WITHOUT touching the
  * read-only driver data. Used by the Bench sf1 memory-scaling smoke
  * (SPARK_GRAFT_SF1_DIR) — the point is realistic CARDINALITY, not
  * byte-for-byte fidelity to the driver's generator.
  *
  *   - Relational tables replicate ×N with per-copy key shifts that
  *     preserve referential integrity (copy i of orders points at copy i
  *     of customer, etc.), so join selectivities match the source, keys
  *     stay unique (the v7 surrogate key stays collision-free), and no
  *     artificial hot keys appear.
  *   - `documents` / `embeddings` are generated FRESH (per-id seeded
  *     PRNG, fully deterministic) rather than replicated: replication
  *     would hand every row 9 exact twins, inflating near-dup cluster
  *     sizes ~10× and LSH bucket joins ~100× — a different (much harder)
  *     workload, not a scaled one. Fresh docs reuse the source
  *     vocabulary and length band; dup/near-dup groups are planted at
  *     the source corpus's observed rates (≈0.2% exact-dup docs, ≈7%
  *     of vectors in a near-identical pair).
  *   - `region`/`nation` are true dimensions — copied as-is.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [multiplier]
  */
/** Document text synthesis, hoisted out of ScaleGen so mapPartitions
  * closures reference it via a static module load instead of capturing
  * the (non-serializable) ScaleGen$ object. Round 4's recursive local
  * `textFor` def compiled to an INSTANCE method of ScaleGen$ (scalac
  * lifts self-recursive local defs non-statically), which made every
  * closure in the file capture the module and fail with
  * NotSerializableException at runtime. The dup-chain resolve is now an
  * explicit loop — no self-recursion, nothing to capture.
  */
private object DocTextGen extends Serializable {
  def genText(id: Long, vocab: Array[String]): String = {
    val rnd = new java.util.Random(id * 2654435761L + 42L)
    val n = 8 + rnd.nextInt(89)
    Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  /** The text a row ACTUALLY carries. Dup branches copy / mutate the
    * REALIZED text of id-1 (not genText(id-1)): when id-1 is itself a
    * planted near-dup its realized text differs from its genText, and
    * copying the unmutated form would silently plant a NON-duplicate.
    * The chain of consecutive special ids is resolved bottom-up with a
    * loop: walk down to the first non-special id, generate its text,
    * then re-apply the near-dup token swaps innermost-first.
    */
  def textFor(id0: Long, vocab: Array[String]): String = {
    var id = id0
    var swaps: List[Long] = Nil // near-dup ids on the chain, innermost at head
    while (id > 0 && (id % 613 == 7 || id % 617 == 11)) {
      if (id % 617 == 11 && id % 613 != 7) swaps ::= id
      id -= 1
    }
    var t = genText(id, vocab)
    for (sid <- swaps) {
      val arr = t.split(" ")
      arr(arr.length / 2) = vocab(math.floorMod(sid, vocab.length).toInt)
      t = arr.mkString(" ")
    }
    t
  }
}

object ScaleGen {

  /** Union of `n` copies with the listed key columns shifted by
    * copy × (max key + 1) — disjoint key ranges per copy, FK edges
    * stay within a copy.
    */
  private def replicateShifted(df: DataFrame, n: Int,
                               keyShifts: Map[String, Long]): DataFrame =
    (0 until n).map { i =>
      keyShifts.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + lit(i * span))
      }
    }.reduce(_ unionByName _)

  // getAs[Number]: the key column may be int- or long-typed depending on
  // the source generator; a hard getLong throws on IntegerType.
  private def maxPlus1(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect().head.getAs[Number](0).longValue() + 1L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    // 32 shuffle partitions on any host: the generated corpora keep one
    // file layout wherever they are built
    val spark = Session(confs = Seq("spark.sql.shuffle.partitions" -> "32"))

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Non-destructive write: the table publishes through StageIO.replace
    // and is verified readable and non-empty before the swap. Round 4's
    // direct mode("overwrite") deleted the existing sf1 documents table
    // BEFORE the (failing) job ran, leaving an empty dir that poisoned the
    // three heaviest dedup bench queries with UNABLE_TO_INFER_SCHEMA.
    def wr(df: DataFrame, t: String): Unit =
      graft.sources.StageIO.replace(spark, s"$out/$t.parquet") { tmp =>
        df.write.parquet(tmp)
        require(spark.read.parquet(tmp).head(1).nonEmpty,
          s"ScaleGen produced an empty $t table; refusing to replace $out/$t.parquet")
      }

    // true dimensions: verbatim
    Seq("region", "nation").foreach(t => wr(rd(t), t))

    // relational fact/dim graph: ×mult with consistent key shifts
    val custSpan = maxPlus1(rd("customer"), "c_custkey")
    val suppSpan = maxPlus1(rd("supplier"), "s_suppkey")
    val partSpan = maxPlus1(rd("part"), "p_partkey")
    val orderSpan = maxPlus1(rd("orders"), "o_orderkey")
    wr(replicateShifted(rd("customer"), mult, Map("c_custkey" -> custSpan)), "customer")
    wr(replicateShifted(rd("supplier"), mult, Map("s_suppkey" -> suppSpan)), "supplier")
    wr(replicateShifted(rd("part"), mult, Map("p_partkey" -> partSpan)), "part")
    wr(replicateShifted(rd("orders"), mult,
      Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)), "orders")
    wr(replicateShifted(rd("lineitem"), mult,
      Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> suppSpan)), "lineitem")
    val events = rd("events")
    wr(replicateShifted(events, mult,
      Map("event_id" -> maxPlus1(events, "event_id"),
        "user_id" -> maxPlus1(events, "user_id"))), "events")

    // fresh documents: source vocabulary, source length band (8–96
    // tokens ≈ the observed 44–577 chars), source lang mix, planted
    // exact dups (id % 613 == 7 copies id-1) and near-dups
    // (id % 617 == 11 copies id-1 with one token swapped)
    val srcDocs = rd("documents")
    val nDocs = srcDocs.count() * mult
    val srcVocab = srcDocs
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("t"))
      .distinct().orderBy("t").collect().map(_.getString(0)).filter(_.nonEmpty)
    // Heaps'-law vocabulary growth (V ∝ corpus^β, β ≈ 0.5): a real corpus
    // gains new vocabulary as it grows; replaying the SOURCE vocabulary at
    // ×mult size instead saturates the whole shingle space (the 31-word
    // source yields exactly 31³ = 29,791 possible trigrams, all present at
    // mult = 10) and every shingle's doc-frequency then grows linearly
    // with the corpus — so inverted-index dedup degenerates quadratically
    // and the scale smoke measures a vocabulary-ceiling artifact instead
    // of the operator. Extension words are deterministic mutations of
    // source words (realistic lengths/characters, guaranteed distinct).
    val vocab = {
      val target = math.ceil(srcVocab.length * math.pow(mult.toDouble, 0.5)).toInt
      val extra = Array.tabulate(math.max(0, target - srcVocab.length)) { i =>
        srcVocab(i % srcVocab.length) + "x" + i
      }
      srcVocab ++ extra
    }
    val langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de") // ≈ source mix
    val bVocab = spark.sparkContext.broadcast(vocab)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .repartition(32)
      .mapPartitions { rows =>
        val v = bVocab.value
        rows.map { r =>
          val id = r.getLong(0)
          val text = DocTextGen.textFor(id, v)
          Row(id, text, langs(math.floorMod(id * 31 + 5, langs.length).toInt),
            s"src${math.floorMod(id, 20)}", text.length.toLong)
        }
      }(org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(docSchema)))
    wr(docs, "documents")

    // fresh embeddings: 64-dim per-id gaussian; id % 14 == 1 is a small
    // perturbation of id-1 (cosine ≈ 0.99) → near-dup pair rate ≈ the
    // source's 144/2000
    val nVecs = rd("embeddings").count() * mult
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def genVec(id: Long): Array[Float] = {
      val rnd = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
      Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"))
      .repartition(32)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val v =
            if (id % 14 == 1 && id > 0) {
              val rnd = new java.util.Random(id)
              genVec(id - 1).map(x => x + 0.02f * rnd.nextGaussian().toFloat)
            } else genVec(id)
          Row(id, v, math.floorMod(id, 10).toInt)
        }
      }(org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(vecSchema)))
    wr(vecs, "embeddings")

    // One-line manifest inside the output dir: the bench scale sections
    // echo it into bench_out.json, so every artifact records WHICH
    // generated corpus (source, multiplier, sizes, when) it measured —
    // without it, a stale or hand-edited dir silently changes the numbers
    // and nothing in the artifact can show it.
    val manifest =
      s"""{"src":"$src","mult":$mult,"docs":$nDocs,"vecs":$nVecs,""" +
        s""""vocab":${vocab.length},""" +
        s""""generated_epoch":${System.currentTimeMillis() / 1000L}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/manifest.json"),
      (manifest + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(manifest)
    spark.stop()
  }
}
