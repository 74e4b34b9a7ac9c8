package graft.ops

/** FLAC (RFC 9639) codec, pure JVM, both directions.
  *
  * Scope — the full fixed-blocksize decode subset a curation pipeline
  * meets in bulk audio data: CONSTANT / VERBATIM / FIXED(0–4) / LPC(1–32)
  * subframes, Rice residual methods 0 and 1 with partition orders 0–15
  * and escape partitions, all block-size and sample-rate header codes,
  * independent + left/side + right/side + mid/side stereo decorrelation,
  * wasted bits, CRC-8 header and CRC-16 frame verification, and the
  * STREAMINFO MD5 as an end-to-end PCM integrity check. Anything that
  * fails a CRC, the MD5, or uses a reserved code returns None and falls
  * through to the caller's next decoder — on a 100 TB corpus an
  * unsupported or corrupt stream must degrade, not throw.
  *
  * The encoder emits fixed-blocksize frames with CONSTANT / FIXED+Rice
  * subframes (VERBATIM fallback), exact per-partition Rice parameter
  * search, and a cost-based stereo-mode decision per frame — enough to
  * losslessly round-trip arbitrary PCM through every stereo decode path.
  * LPC analysis is deliberately out of encoder scope (FIXED already
  * compresses the fixtures; the LPC DECODE path is exercised by
  * hand-built bitstreams in FlacSpec).
  *
  * Mirrors the reference's posture of doing real work on binary columns
  * (peskas.malawi.data.pipeline R/export.R:18-60 treats tracks as opaque
  * typed payloads); the codec itself is implemented from the public FLAC
  * format spec (RFC 9639: frame header §9.1, subframes §9.2, residual
  * §9.2.7, stereo decorrelation §4.2, CRC polynomials §9.1.8/§9.3).
  *
  * Determinism contract (the q_mm_flac_pcm gate relies on it): FLAC is
  * lossless by construction, so decode(encode(pcm)) == pcm bit-exactly
  * and a DuckDB oracle can recompute every decoded sample of a
  * closed-form fixture signal without ever seeing a FLAC byte.
  */
object Flac {

  /** Decoded (or to-encode) PCM: samples(channel)(i), channel-major. */
  final case class FlacAudio(sampleRate: Int, channels: Int,
                             bitsPerSample: Int, samples: Array[Array[Int]]) {
    def numSamples: Int = if (samples.isEmpty) 0 else samples(0).length
  }

  // ---------------------------------------------------------------- CRC

  // CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame-header checksum
  private val Crc8Table: Array[Int] = Array.tabulate(256) { b =>
    var c = b
    var i = 0
    while (i < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; i += 1 }
    c
  }

  // CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — whole-frame checksum
  private val Crc16Table: Array[Int] = Array.tabulate(256) { b =>
    var c = b << 8
    var i = 0
    while (i < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; i += 1 }
    c
  }

  private def crc8(p: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table(c ^ (p(i) & 0xff)); i += 1 }
    c
  }

  private def crc16(p: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc16Table(((c >> 8) ^ (p(i) & 0xff)) & 0xff) ^ ((c << 8) & 0xffff); i += 1 }
    c
  }

  // --------------------------------------------------------- bit writer

  /** MSB-first bit writer (FLAC has no byte stuffing, unlike JPEG). */
  private final class BitWriter {
    private var buf = new Array[Byte](1 << 12)
    private var len = 0
    private var acc = 0L
    private var nbits = 0

    private def ensure(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

    def put(v: Long, bits: Int): Unit = {
      require(bits >= 0 && bits <= 57, s"put $bits bits")
      if (bits == 0) return
      acc = (acc << bits) | (v & ((1L << bits) - 1))
      nbits += bits
      while (nbits >= 8) {
        nbits -= 8
        ensure(1)
        buf(len) = ((acc >>> nbits) & 0xff).toByte
        len += 1
      }
    }

    /** Unary-coded unsigned: v zero bits then a one bit (RFC 9639 §9.2.7). */
    def putUnary(v: Int): Unit = {
      var r = v
      while (r >= 32) { put(0L, 32); r -= 32 }
      put(1L, r + 1)
    }

    def alignByte(): Unit = if (nbits > 0) put(0L, 8 - nbits)

    def bytePos: Int = { require(nbits == 0, "unaligned"); len }

    def putBytes(bs: Array[Byte]): Unit = {
      require(nbits == 0, "unaligned")
      ensure(bs.length)
      System.arraycopy(bs, 0, buf, len, bs.length)
      len += bs.length
    }

    def result(): Array[Byte] = { require(nbits == 0, "unaligned"); java.util.Arrays.copyOf(buf, len) }

    /** Patch a previously written aligned byte (for CRC backfill). */
    def patch(pos: Int, b: Int): Unit = buf(pos) = (b & 0xff).toByte

    /** CRCs computed in place over the internal buffer — per-frame, not
      * per-stream, so a many-frame encode stays linear (copying the
      * whole buffer per frame would be O(frames²)).
      */
    def crc8Over(from: Int, until: Int): Int = crc8(buf, from, until)
    def crc16Over(from: Int, until: Int): Int = crc16(buf, from, until)
  }

  // --------------------------------------------------------- bit reader

  /** MSB-first bit reader; throws Eof on exhaustion (decode() catches). */
  private final class BitReader(p: Array[Byte], private var bytePosV: Int) {
    private var bitPos = 0 // bits consumed in current byte, 0..7

    def bit(): Int = {
      if (bytePosV >= p.length) throw Eof
      val b = (p(bytePosV) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePosV += 1 }
      b
    }

    def bits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    def signedBits(n: Int): Int = {
      if (n == 0) return 0
      val v = bits(n)
      (v << (64 - n) >> (64 - n)).toInt
    }

    def unary(): Int = {
      var q = 0
      while (bit() == 0) q += 1
      q
    }

    def alignByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePosV += 1 }

    def bytePos: Int = { require(bitPos == 0, "unaligned"); bytePosV }
  }

  private object Eof extends RuntimeException("flac eof") {
    override def fillInStackTrace(): Throwable = this
  }

  // ------------------------------------------------------------- tables

  // Fixed-predictor residual: r = x convolved with these (RFC 9639 §9.2.6)
  private val FixedCoef: Array[Array[Int]] = Array(
    Array(),
    Array(1),
    Array(2, -1),
    Array(3, -3, 1),
    Array(4, -6, 4, -1))

  // frame-header sample-rate codes 0001..1011 (RFC 9639 table 4)
  private val RateCodes: Array[Int] =
    Array(-1, 88200, 176400, 192000, 8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000)

  private def sampleSizeCode(bps: Int): Int = bps match {
    case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6; case 32 => 7
    case _ => 0 // from STREAMINFO
  }

  private val SampleSizeFromCode: Array[Int] = Array(0, 8, 12, -1, 16, 20, 24, 32)

  // ------------------------------------------------------------ encoder

  /** Lossless FLAC encode. Fixed block size (any 16 ≤ blockSize ≤ 32768);
    * bps 8–24 supported (side channel adds one bit). STREAMINFO carries
    * the true MD5 of the interleaved little-endian PCM, which [[decode]]
    * re-verifies — the same end-to-end posture as the PNG CRC gate.
    */
  def encode(audio: FlacAudio, blockSize: Int = 1024): Array[Byte] = {
    val FlacAudio(rate, channels, bps, samples) = audio
    require(rate > 0 && rate < (1 << 20), s"rate $rate")
    require(channels >= 1 && channels <= 8, s"channels $channels")
    require(bps >= 8 && bps <= 24, s"bps $bps")
    require(blockSize >= 16 && blockSize <= 32768, s"blockSize $blockSize")
    require(samples.length == channels && samples.forall(_.length == samples(0).length))
    val n = audio.numSamples

    val w = new BitWriter
    w.putBytes("fLaC".getBytes("US-ASCII"))
    // STREAMINFO, last metadata block
    w.put(1L, 1); w.put(0L, 7) // last, type 0
    w.put(34L, 24)
    w.put(blockSize.toLong, 16); w.put(blockSize.toLong, 16)
    w.put(0L, 24); w.put(0L, 24) // frame sizes unknown
    w.put(rate.toLong, 20)
    w.put((channels - 1).toLong, 3)
    w.put((bps - 1).toLong, 5)
    w.put(n.toLong, 36)
    w.putBytes(pcmMd5(samples, bps))

    var frameNo = 0L
    var off = 0
    while (off < n) {
      val bs = math.min(blockSize, n - off)
      encodeFrame(w, samples, off, bs, rate, bps, frameNo, blockSize)
      frameNo += 1
      off += bs
    }
    w.result()
  }

  /** MD5 of the PCM stream as FLAC defines it: samples interleaved by
    * frame, each as ceil(bps/8) little-endian bytes (RFC 9639 §8.2).
    */
  private def pcmMd5(samples: Array[Array[Int]], bps: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytesPer = (bps + 7) / 8
    val n = if (samples.isEmpty) 0 else samples(0).length
    val row = new Array[Byte](samples.length * bytesPer)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < samples.length) {
        val v = samples(c)(i)
        var b = 0
        while (b < bytesPer) { row(c * bytesPer + b) = ((v >> (8 * b)) & 0xff).toByte; b += 1 }
        c += 1
      }
      md.update(row)
      i += 1
    }
    md.digest()
  }

  /** Per-frame stereo-mode decision + header + subframes + CRCs. */
  private def encodeFrame(w: BitWriter, samples: Array[Array[Int]], off: Int,
                          bs: Int, rate: Int, bps: Int, frameNo: Long,
                          nominalBlockSize: Int): Unit = {
    val channels = samples.length

    // candidate channel layouts: (assignmentCode, per-channel (data, bps))
    def slice(c: Int): Array[Int] = java.util.Arrays.copyOfRange(samples(c), off, off + bs)
    val layouts: Seq[(Int, Array[(Array[Int], Int)])] =
      if (channels != 2) {
        Seq((channels - 1, Array.tabulate(channels)(c => (slice(c), bps))))
      } else {
        val l = slice(0); val r = slice(1)
        val side = Array.tabulate(bs)(i => l(i) - r(i))
        val mid = Array.tabulate(bs)(i => (l(i) + r(i)) >> 1)
        Seq(
          (1, Array((l, bps), (r, bps))),              // independent
          (8, Array((l, bps), (side, bps + 1))),       // left/side
          (9, Array((side, bps + 1), (r, bps))),       // right/side
          (10, Array((mid, bps), (side, bps + 1))))    // mid/side
      }
    val (assign, chans) = layouts.minBy(_._2.map(cd => estimateSubframeBits(cd._1, cd._2)).sum)

    val headerStart = w.bytePos
    w.put(0x3ffe, 14) // sync
    w.put(0L, 1)      // reserved
    w.put(0L, 1)      // fixed blocking strategy → UTF-8 frame number
    // block-size code: exact table hit, else 8/16-bit end-of-header form
    val (bsCode, bsExtra) = bs match {
      case 192 => (1, -1)
      case 576 => (2, -1); case 1152 => (3, -1); case 2304 => (4, -1); case 4608 => (5, -1)
      case 256 => (8, -1); case 512 => (9, -1); case 1024 => (10, -1); case 2048 => (11, -1)
      case 4096 => (12, -1); case 8192 => (13, -1); case 16384 => (14, -1); case 32768 => (15, -1)
      case b if b <= 256 => (6, b - 1)
      case b => (7, b - 1)
    }
    w.put(bsCode.toLong, 4)
    // sample-rate code: exact table hit exercises the table; else code 0
    // (read from STREAMINFO) — both decode paths are in round-trip use
    val rateCode = RateCodes.indexOf(rate) match { case -1 => 0; case i => i }
    w.put(rateCode.toLong, 4)
    w.put(assign.toLong, 4)
    w.put(sampleSizeCode(bps).toLong, 3)
    w.put(0L, 1) // reserved
    putUtf8(w, frameNo)
    if (bsExtra >= 0) { if (bsCode == 6) w.put(bsExtra.toLong, 8) else w.put(bsExtra.toLong, 16) }
    w.alignByte()
    val crc8Pos = w.bytePos
    w.put(0L, 8) // CRC-8 placeholder
    w.patch(crc8Pos, w.crc8Over(headerStart, crc8Pos))

    var c = 0
    while (c < chans.length) {
      val (data, cbps) = chans(c)
      writeSubframe(w, data, cbps)
      c += 1
    }
    w.alignByte()
    val end = w.bytePos
    w.put(w.crc16Over(headerStart, end).toLong, 16)
    val _ = nominalBlockSize // nominal size is STREAMINFO-only; frames self-describe
  }

  /** UTF-8-style coded number, up to 36 bits (RFC 9639 §9.1.5). */
  private def putUtf8(w: BitWriter, v0: Long): Unit = {
    require(v0 >= 0 && v0 < (1L << 36))
    if (v0 < 0x80) { w.put(v0, 8); return }
    val nBytes =
      if (v0 < (1L << 11)) 2 else if (v0 < (1L << 16)) 3 else if (v0 < (1L << 21)) 4
      else if (v0 < (1L << 26)) 5 else if (v0 < (1L << 31)) 6 else 7
    val firstBits = 7 - nBytes // payload bits in the first byte (0 when 7 bytes)
    val contBits = 6 * (nBytes - 1)
    val first = (0xff << (8 - nBytes)) & 0xff
    w.put((first | ((v0 >> contBits) & ((1 << firstBits) - 1))).toLong, 8)
    var i = nBytes - 2
    while (i >= 0) {
      w.put(0x80L | ((v0 >> (6 * i)) & 0x3f), 8)
      i -= 1
    }
  }

  /** Exact Rice cost of residuals at parameter k (escape not counted —
    * the writer falls back to escape only when it wins).
    */
  private def riceBits(res: Array[Int], from: Int, k: Int): Long = {
    var total = 0L
    var i = from
    while (i < res.length) {
      val z = (res(i) << 1) ^ (res(i) >> 31)
      total += (z >>> k) + 1L + k
      i += 1
    }
    total
  }

  /** Rice parameter by the standard mean estimate (k ≈ log2 of the mean
    * zigzag magnitude), refined by exact bit counts at k−1/k/k+1. A
    * 31-value exhaustive scan is ~10× more O(n) passes for <0.1% size —
    * at 60k docs per partition that was the whole encode cost.
    */
  private def bestRiceK(res: Array[Int], from: Int): (Int, Long) = {
    var sumZ = 0L
    var i = from
    while (i < res.length) { sumZ += ((res(i) << 1) ^ (res(i) >> 31)).toLong & 0xffffffffL; i += 1 }
    val cnt = res.length - from
    val mean = if (cnt == 0) 0L else sumZ / cnt
    val est = if (mean <= 0) 0 else math.min(30, 63 - java.lang.Long.numberOfLeadingZeros(mean))
    var bestK = math.max(0, est - 1)
    var bestBits = riceBits(res, from, bestK)
    var k = bestK + 1
    while (k <= math.min(30, est + 1)) {
      val b = riceBits(res, from, k)
      if (b < bestBits) { bestBits = b; bestK = k }
      k += 1
    }
    (bestK, bestBits)
  }

  private def fixedResidual(data: Array[Int], order: Int): Array[Int] = {
    val co = FixedCoef(order)
    Array.tabulate(data.length - order) { j =>
      val i = j + order
      var r = data(i).toLong
      var t = 0
      while (t < order) { r -= co(t).toLong * data(i - 1 - t); t += 1 }
      r.toInt
    }
  }

  /** Sum of |order-2 residual| — the standard one-pass proxy for coded
    * size, used only for the stereo-layout pick (a near-tie mis-pick
    * costs bits, never correctness). Order 2 because it discriminates
    * both tonal and noisy material without favoring either.
    */
  private def estimateSubframeBits(data: Array[Int], bps: Int): Long = {
    val n = data.length
    if (n < 3) return n.toLong * bps
    var s = 0L
    var i = 2
    while (i < n) {
      val r = data(i).toLong - 2L * data(i - 1) + data(i - 2)
      s += math.abs(r)
      i += 1
    }
    s
  }

  /** CONSTANT when flat; else best FIXED order with exact per-partition
    * Rice search; VERBATIM when Rice loses to raw (white noise at low
    * bps). Wasted-bits flag always 0 — the encoder never shifts.
    */
  private def writeSubframe(w: BitWriter, data: Array[Int], bps: Int): Unit = {
    require(bps <= 32)
    val n = data.length
    if (data.forall(_ == data(0))) {
      w.put(0L, 1); w.put(0L, 6); w.put(0L, 1) // CONSTANT, no wasted bits
      w.put(data(0).toLong, bps)
      return
    }
    // FIXED order by the one-pass sum-|residual| proxy (the standard
    // encoder heuristic — optimality affects size, never correctness),
    // then ONE partition-order choice sized so partitions hold ≥64
    // samples, then the estimate-refined Rice k per partition. The
    // previous exhaustive order×po×k scan was ~1000 O(n) passes per
    // block and made fixture synthesis the dominant cost of the gate.
    var bestOrder = 0
    var bestScore = Long.MaxValue
    var order = 0
    while (order <= 4 && order < n) {
      val co = FixedCoef(order)
      var s = 0L
      var i = order
      while (i < n) {
        var r = data(i).toLong
        var t = 0
        while (t < order) { r -= co(t).toLong * data(i - 1 - t); t += 1 }
        s += math.abs(r)
        i += 1
      }
      if (s < bestScore) { bestScore = s; bestOrder = order }
      order += 1
    }
    val bestRes = fixedResidual(data, bestOrder)
    var bestPo = 0
    while (bestPo < 6 && n % (1 << (bestPo + 1)) == 0 &&
      (n >> (bestPo + 1)) >= 64 && (n >> (bestPo + 1)) > bestOrder) bestPo += 1
    var bestBits = 0L
    var pScan = 0
    while (pScan < (1 << bestPo)) {
      val from = if (pScan == 0) 0 else pScan * (n >> bestPo) - bestOrder
      val until = (pScan + 1) * (n >> bestPo) - bestOrder
      val seg = java.util.Arrays.copyOfRange(bestRes, from, until)
      bestBits += bestRiceK(seg, 0)._2 + 4
      pScan += 1
    }
    val headerAndWarmup = 8L + bestOrder.toLong * bps + 2 + 4
    if (bestRes == null || bestBits + headerAndWarmup >= n.toLong * bps + 8) {
      // VERBATIM
      w.put(0L, 1); w.put(1L, 6); w.put(0L, 1)
      var i = 0
      while (i < n) { w.put(data(i).toLong, bps); i += 1 }
      return
    }
    w.put(0L, 1)
    w.put((0x08 | bestOrder).toLong, 6) // FIXED, order
    w.put(0L, 1)                        // no wasted bits
    var i = 0
    while (i < bestOrder) { w.put(data(i).toLong, bps); i += 1 }
    // residual: method 0 (4-bit Rice), chosen partition order
    w.put(0L, 2)
    w.put(bestPo.toLong, 4)
    val parts = 1 << bestPo
    var p = 0
    while (p < parts) {
      val from = if (p == 0) 0 else p * (n >> bestPo) - bestOrder
      val until = (p + 1) * (n >> bestPo) - bestOrder
      val seg = java.util.Arrays.copyOfRange(bestRes, from, until)
      val (k0, kBits) = bestRiceK(seg, 0)
      // escape partition when raw n-bit beats Rice (and param fits 4 bits)
      val maxAbsBits = {
        var m = 1
        var j = 0
        while (j < seg.length) {
          val z = (seg(j) << 1) ^ (seg(j) >> 31)
          val b = 32 - Integer.numberOfLeadingZeros(z | 1)
          if (b > m) m = b
          j += 1
        }
        m
      }
      val escBits = 5L + seg.length.toLong * maxAbsBits
      if (k0 > 14 || escBits < kBits) {
        w.put(0xfL, 4) // escape
        w.put(maxAbsBits.toLong, 5)
        var j = 0
        while (j < seg.length) {
          // escape partitions carry the SIGNED residuals raw, not zigzag;
          // maxAbsBits from the zigzag width is exactly the signed width
          w.put(seg(j).toLong, maxAbsBits)
          j += 1
        }
      } else {
        w.put(k0.toLong, 4)
        var j = 0
        while (j < seg.length) {
          val z = (seg(j) << 1) ^ (seg(j) >> 31)
          w.putUnary(z >>> k0)
          if (k0 > 0) w.put(z.toLong & ((1L << k0) - 1), k0)
          j += 1
        }
      }
      p += 1
    }
  }

  // ------------------------------------------------------------ decoder

  /** Decode a complete FLAC stream to PCM. None (never a throw) on
    * anything that is not a fully CRC- and MD5-clean stream within the
    * documented subset; see object scaladoc for the subset.
    */
  def decode(p: Array[Byte]): Option[FlacAudio] =
    try decodeImpl(p)
    catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException => None }

  private def decodeImpl(p: Array[Byte]): Option[FlacAudio] = {
    if (p.length < 42 || new String(p, 0, 4, "US-ASCII") != "fLaC") return None
    // metadata walk: STREAMINFO must come first, skip the rest
    var off = 4
    var last = false
    var first = true
    var rate = 0; var channels = 0; var bps = 0; var totalSamples = 0L
    var md5: Array[Byte] = null
    while (!last) {
      if (off + 4 > p.length) return None
      last = (p(off) & 0x80) != 0
      val btype = p(off) & 0x7f
      val blen = ((p(off + 1) & 0xff) << 16) | ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
      if (off + 4 + blen > p.length) return None
      if (first) {
        if (btype != 0 || blen != 34) return None
        val o = off + 4
        def u8(i: Int): Int = p(o + i) & 0xff
        rate = (u8(10) << 12) | (u8(11) << 4) | (u8(12) >> 4)
        channels = ((u8(12) >> 1) & 0x07) + 1
        bps = (((u8(12) & 0x01) << 4) | ((u8(13) >> 4) & 0x0f)) + 1
        totalSamples = ((u8(13) & 0x0fL) << 32) |
          ((u8(14) & 0xffL) << 24) | ((u8(15) & 0xffL) << 16) |
          ((u8(16) & 0xffL) << 8) | (u8(17) & 0xffL)
        md5 = java.util.Arrays.copyOfRange(p, o + 18, o + 34)
        first = false
      }
      off += 4 + blen
    }
    if (rate <= 0 || totalSamples < 0 || totalSamples > Int.MaxValue) return None
    // Int headroom: side channels add a bit and residuals add order+1
    // more; above 24-bit PCM the Int sample type would overflow
    if (bps > 24) return None
    // allocation guard on UNTRUSTED headers: a frame is ≥16 bytes and
    // ≤32768 samples, so a payload of b bytes can't decode more than
    // 2048·b samples — a garbage 8 GiB totalSamples must not allocate
    if (totalSamples > p.length.toLong * 2048L) return None
    val n = totalSamples.toInt
    val out = Array.fill(channels)(new Array[Int](n))
    var written = 0
    val r = new BitReader(p, off)
    while (written < n) {
      val got = decodeFrame(p, r, rate, channels, bps, out, written, n) match {
        case Some(g) => g
        case None => return None
      }
      written += got
    }
    // end-to-end integrity: STREAMINFO MD5 (when set) must match the PCM
    if (md5 != null && md5.exists(_ != 0) &&
        !java.util.Arrays.equals(md5, pcmMd5(out, bps))) return None
    Some(FlacAudio(rate, channels, bps, out))
  }

  /** One frame: header (CRC-8), subframes per channel assignment, CRC-16.
    * Returns the block size decoded into `out` at `at`, or None.
    */
  private def decodeFrame(p: Array[Byte], r: BitReader, siRate: Int, siChannels: Int,
                          siBps: Int, out: Array[Array[Int]], at: Int, n: Int): Option[Int] = {
    r.alignByte()
    val frameStart = r.bytePos
    if (r.bits(14) != 0x3ffe) return None
    if (r.bit() != 0) return None
    val variable = r.bit() == 1
    val bsCode = r.bits(4).toInt
    val rateCode = r.bits(4).toInt
    val assign = r.bits(4).toInt
    val sizeCode = r.bits(3).toInt
    if (r.bit() != 0) return None
    readUtf8(r) // frame/sample number: position is implied by decode order
    val _ = variable
    val bs = bsCode match {
      case 0 => return None
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.bits(8).toInt + 1
      case 7 => r.bits(16).toInt + 1
      case c => 256 << (c - 8)
    }
    rateCode match {
      case 0 => ()
      case c if c <= 11 => if (RateCodes(c) != siRate) return None
      case 12 => if (r.bits(8).toInt * 1000 != siRate) return None
      case 13 => if (r.bits(16).toInt != siRate) return None
      case 14 => if (r.bits(16).toInt * 10 != siRate) return None
      case _ => return None
    }
    val frameChannels = if (assign < 8) assign + 1 else 2
    if (frameChannels != siChannels) return None
    if (assign > 10) return None
    val bps = sizeCode match {
      case 0 => siBps
      case 3 => return None
      case c => SampleSizeFromCode(c)
    }
    if (bps != siBps) return None
    r.alignByte()
    val hdrCrcPos = r.bytePos
    val hdrCrc = r.bits(8).toInt
    if (crc8(p, frameStart, hdrCrcPos) != hdrCrc) return None
    if (at + bs > n) return None

    val chans = new Array[Array[Int]](frameChannels)
    var c = 0
    while (c < frameChannels) {
      val extra = assign match {
        case 8 => if (c == 1) 1 else 0  // left/side
        case 9 => if (c == 0) 1 else 0  // right/side
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      chans(c) = decodeSubframe(r, bs, bps + extra) match {
        case Some(d) => d
        case None => return None
      }
      c += 1
    }
    r.alignByte()
    val crcPos = r.bytePos
    val fcrc = r.bits(16).toInt
    if (crc16(p, frameStart, crcPos) != fcrc) return None

    // stereo decorrelation (RFC 9639 §4.2)
    assign match {
      case 8 => // left/side: R = L − S
        var i = 0
        while (i < bs) { out(0)(at + i) = chans(0)(i); out(1)(at + i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // right/side: L = S + R
        var i = 0
        while (i < bs) { out(0)(at + i) = chans(0)(i) + chans(1)(i); out(1)(at + i) = chans(1)(i); i += 1 }
      case 10 => // mid/side
        var i = 0
        while (i < bs) {
          val side = chans(1)(i)
          val m2 = (chans(0)(i) << 1) | (side & 1)
          out(0)(at + i) = (m2 + side) >> 1
          out(1)(at + i) = (m2 - side) >> 1
          i += 1
        }
      case _ =>
        var ch = 0
        while (ch < frameChannels) {
          System.arraycopy(chans(ch), 0, out(ch), at, bs)
          ch += 1
        }
    }
    Some(bs)
  }

  private def readUtf8(r: BitReader): Long = {
    val b0 = r.bits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var nBytes = 0
    var mask = 0x80
    while (nBytes < 8 && (b0 & mask) != 0) { nBytes += 1; mask >>= 1 }
    if (nBytes < 2 || nBytes > 7) throw Eof
    var v = (b0 & (0xff >> (nBytes + 1))).toLong
    var i = 1
    while (i < nBytes) {
      val b = r.bits(8).toInt
      if ((b & 0xc0) != 0x80) throw Eof
      v = (v << 6) | (b & 0x3f)
      i += 1
    }
    v
  }

  private def decodeSubframe(r: BitReader, bs: Int, bps: Int): Option[Array[Int]] = {
    if (r.bit() != 0) return None
    val typ = r.bits(6).toInt
    val wasted =
      if (r.bit() == 1) r.unary() + 1 else 0
    val effBps = bps - wasted
    if (effBps <= 0 || effBps > 33) return None
    val data: Array[Int] =
      if (typ == 0) { // CONSTANT
        val v = r.signedBits(effBps)
        Array.fill(bs)(v)
      } else if (typ == 1) { // VERBATIM
        Array.fill(bs)(r.signedBits(effBps))
      } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED
        val order = typ & 0x07
        if (order > bs) return None
        val d = new Array[Int](bs)
        var i = 0
        while (i < order) { d(i) = r.signedBits(effBps); i += 1 }
        decodeResidual(r, bs, order) match {
          case Some(res) =>
            val co = FixedCoef(order)
            var j = order
            while (j < bs) {
              var v = res(j - order).toLong
              var t = 0
              while (t < order) { v += co(t).toLong * d(j - 1 - t); t += 1 }
              d(j) = v.toInt
              j += 1
            }
          case None => return None
        }
        d
      } else if ((typ & 0x20) != 0) { // LPC
        val order = (typ & 0x1f) + 1
        if (order > bs) return None
        val d = new Array[Int](bs)
        var i = 0
        while (i < order) { d(i) = r.signedBits(effBps); i += 1 }
        val precision = r.bits(4).toInt + 1
        if (precision == 16) return None // 1111 reserved
        val shift = r.signedBits(5)
        if (shift < 0) return None
        val coef = Array.fill(order)(r.signedBits(precision))
        decodeResidual(r, bs, order) match {
          case Some(res) =>
            var j = order
            while (j < bs) {
              var acc = 0L
              var t = 0
              while (t < order) { acc += coef(t).toLong * d(j - 1 - t); t += 1 }
              d(j) = (res(j - order) + (acc >> shift)).toInt
              j += 1
            }
          case None => return None
        }
        d
      } else return None
    if (wasted > 0) {
      var i = 0
      while (i < bs) { data(i) = data(i) << wasted; i += 1 }
    }
    Some(data)
  }

  /** Rice-coded residual, methods 0 (4-bit params) and 1 (5-bit), with
    * escape partitions (RFC 9639 §9.2.7).
    */
  private def decodeResidual(r: BitReader, bs: Int, order: Int): Option[Array[Int]] = {
    val method = r.bits(2).toInt
    if (method > 1) return None
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val po = r.bits(4).toInt
    val parts = 1 << po
    if (bs % parts != 0 || (bs >> po) <= order) return None
    val res = new Array[Int](bs - order)
    var idx = 0
    var p0 = 0
    while (p0 < parts) {
      val count = (bs >> po) - (if (p0 == 0) order else 0)
      val param = r.bits(paramBits).toInt
      if (param == escape) {
        val raw = r.bits(5).toInt
        var i = 0
        while (i < count) { res(idx) = if (raw == 0) 0 else r.signedBits(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary()
          val z = (q.toLong << param) | (if (param > 0) r.bits(param) else 0L)
          res(idx) = ((z >>> 1) ^ -(z & 1L)).toInt
          idx += 1
          i += 1
        }
      }
      p0 += 1
    }
    Some(res)
  }
}
