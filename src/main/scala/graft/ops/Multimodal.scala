package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, processed batch-wise with mapPartitions.
  *
  * Decode is REAL end to end for PNG, baseline JPEG, GIF, BMP
  * ([[graft.ops.Jpeg]]/[[graft.ops.Gif]]/[[graft.ops.Bmp]] and the PNG
  * codec below — hand-rolled pure JVM, both directions, imageio only
  * for profiles outside their scope), FLAC and 16-bit WAV PCM
  * ([[graft.ops.Flac]], `parseWavPcm`); image geometry additionally
  * via javax.imageio header reads, audio geometry via pure-JVM
  * RIFF/WAVE + MPEG-header + STREAMINFO parses, MP4 sample schedules
  * via the ISO-BMFF stbl walk. MP3 (Layer III) and H.264 FRAME decode
  * are explicit NON-GOALS (COVERAGE.md "Explicit non-goals": lossy
  * transform codecs are not relationally oracle-able here, and their
  * normative constant tables can't be verified without the spec) —
  * those payloads yield null rows through `decodeAudioPcm`/
  * `audioFeatures`, the same degrade-don't-throw contract corrupt
  * payloads get, while header parses stay real. Unrecognized payloads
  * in the METADATA ops fall back to a clearly-marked deterministic
  * stub so a messy corpus flows through reproducibly. The schema
  * contract, per-partition batching, encoder round-trip, and partition
  * sizing are exactly what a production decode (ffmpeg via JNI, or
  * mapInPandas on PySpark) plugs into.
  *
  * Scale: payloads never shuffle through these ops — mapPartitions is
  * narrow; keep `spark.sql.files.maxPartitionBytes` at 128-256 MB so a
  * partition of payloads fits executor memory.
  */
object Multimodal {

  val imageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("format", StringType)))

  /** FNV-1a over the payload bytes — the seed for every deterministic
    * stub below, so unrecognized payloads still flow through the pipeline
    * reproducibly.
    */
  private def fnv1a(payload: Array[Byte]): Long =
    payload.foldLeft(1469598103934665603L)((a, b) => (a ^ (b & 0xff)) * 1099511628211L)

  private def imageStub(payload: Array[Byte]): (Int, Int, Int, String) = {
    val hsh = fnv1a(payload)
    val w = 64 + math.floorMod(hsh, 1024).toInt
    val ht = 64 + math.floorMod(hsh >> 16, 1024).toInt
    (w, ht, 3, if (math.floorMod(hsh, 2) == 0) "jpeg" else "png")
  }

  /** Image metadata decode. REAL for formats the JDK's javax.imageio
    * recognizes (PNG, JPEG, GIF, BMP — header-only read: width/height/
    * component count come from the stream metadata, the pixel payload is
    * never decoded, so cost is O(header) not O(pixels)); payloads no
    * reader claims — and payloads a reader claims by magic bytes but then
    * chokes on (truncated/corrupt files are a fact of life in a messy
    * corpus, and one bad row must not fail a 100 TB job) — fall back to
    * the deterministic pseudo-metadata stub. The input stream is a
    * MemoryCacheImageInputStream: the ImageIO factory default writes a
    * disk-cache temp file PER ROW, pure overhead for byte-array payloads.
    */
  private def decodeOne(payload: Array[Byte]): (Int, Int, Int, String) = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (readers.hasNext) {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val types = r.getImageTypes(0)
          val channels =
            if (types != null && types.hasNext) types.next().getNumComponents else 3
          (w, h, channels, r.getFormatName.toLowerCase)
        } catch {
          case scala.util.control.NonFatal(_) => imageStub(payload)
        } finally r.dispose()
      } else parseWebpHeader(payload).getOrElse(imageStub(payload))
    } finally iis.close()
  }

  /** Pure-JVM WebP header parse — the JDK's imageio has no WebP reader,
    * but the geometry lives in the RIFF container header, so like
    * WAV/MP3/MP4 this is REAL without codec libraries. Handles all three
    * container layouts: VP8X (extended — canvas size + alpha flag),
    * VP8 (lossy — keyframe start code then 14-bit dimensions), VP8L
    * (lossless — packed 14-bit dimensions + alpha bit). Returns
    * (width, height, channels, "webp") or None; never throws on garbage.
    */
  private[ops] def parseWebpHeader(p: Array[Byte]): Option[(Int, Int, Int, String)] = {
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    def le24(o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) | ((p(o + 2) & 0xff) << 16)
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    if (p.length < 30 || tag(0) != "RIFF" || tag(8) != "WEBP") return None
    tag(12) match {
      case "VP8X" if p.length >= 30 =>
        val alpha = (p(20) & 0x10) != 0
        Some((1 + le24(24), 1 + le24(27), if (alpha) 4 else 3, "webp"))
      case "VP8 " if p.length >= 30 &&
        (p(23) & 0xff) == 0x9d && (p(24) & 0xff) == 0x01 && (p(25) & 0xff) == 0x2a =>
        Some((le16(26) & 0x3fff, le16(28) & 0x3fff, 3, "webp"))
      case "VP8L" if p.length >= 25 && (p(20) & 0xff) == 0x2f =>
        val bits = (p(21) & 0xffL) | ((p(22) & 0xffL) << 8) |
          ((p(23) & 0xffL) << 16) | ((p(24) & 0xffL) << 24)
        val w = 1 + (bits & 0x3fff).toInt
        val h = 1 + ((bits >> 14) & 0x3fff).toInt
        val alpha = ((bits >> 28) & 1) != 0
        Some((w, h, if (alpha) 4 else 3, "webp"))
      case _ => None
    }
  }

  /** Canonical VP8X WebP envelope (RIFF + extended-header chunk carrying
    * canvas dimensions + alpha flag, arbitrary bytes as the unread body)
    * — the fixture half of the `q_mm_webp_meta` gate, mirroring
    * [[wavPayload]].
    */
  def webpPayload(data: Array[Byte], width: Int, height: Int,
                  alpha: Boolean): Array[Byte] = {
    require(width >= 1 && height >= 1 && width <= (1 << 24) && height <= (1 << 24))
    val bb = java.nio.ByteBuffer.allocate(30 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(22 + data.length)
      .put("WEBP".getBytes("US-ASCII"))
      .put("VP8X".getBytes("US-ASCII")).putInt(10)
      .put((if (alpha) 0x10 else 0x00).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // reserved
    def put24(v: Int): Unit = {
      bb.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
        .put(((v >> 16) & 0xff).toByte)
    }
    put24(width - 1); put24(height - 1)
    bb.put(data)
    bb.array()
  }

  /** Attach decoded metadata to a (id, payload) frame. Batch shape: one
    * decode call per row inside a single partition iterator — no
    * per-row task or encoder setup cost.
    */
  def decodeImages(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("n_bytes", LongType),
      StructField("meta", imageMetaType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        // null payloads are as much a fact of a messy corpus as corrupt
        // ones: route them through the same deterministic-stub path
        // (seeded from the empty array, n_bytes=0) instead of NPE-ing
        // the whole job on one bad row.
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val payload = if (raw == null) Array.emptyByteArray else raw
        val (w, h, c, fmt) = decodeOne(payload)
        Row(r.get(idIdx), payload.length.toLong, Row(w, h, c, fmt))
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // PNG codec — REAL pixels end to end, pure JVM. PNG's only
  // compression is zlib (java.util.zip, JDK-bundled), so unlike
  // JPEG/video this modality needs no native codec: the encoder below
  // writes spec-conformant files (signature, IHDR, filtered scanlines,
  // deflated IDAT, CRC-32 per chunk) and the decoder walks chunks,
  // validates CRCs, inflates and reverses all five scanline filters
  // (None/Sub/Up/Average/Paeth). MultimodalSpec cross-validates both
  // directions against the JDK's independent javax.imageio PNG codec.
  // ------------------------------------------------------------------

  private val pngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG Paeth predictor (RFC 2083 §6.6) — shared by filter apply and
    * reverse; ties break left, then up, as the spec requires.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(typ: String, body: Array[Byte]): Array[Byte] = {
    val tb = typ.getBytes("US-ASCII")
    val bb = java.nio.ByteBuffer.allocate(12 + body.length) // big-endian
    bb.putInt(body.length).put(tb).put(body)
    val crc = new java.util.zip.CRC32
    crc.update(tb); crc.update(body)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  /** Real PNG encoder: 8-bit gray (1 channel), RGB (3) or RGBA (4),
    * row-major interleaved `pixels`, per-scanline filter chosen by
    * `filterOf(row)` (mod 5 — the default cycles through all five so
    * every filter path is exercised and regression-visible). Output is
    * readable by any conformant decoder (spec-checked against
    * javax.imageio in MultimodalSpec).
    */
  def pngPayload(pixels: Array[Byte], width: Int, height: Int, channels: Int,
                 filterOf: Int => Int = identity): Array[Byte] = {
    require(width >= 1 && height >= 1, s"degenerate geometry ${width}x$height")
    require(channels == 1 || channels == 3 || channels == 4,
      s"channels=$channels (gray/RGB/RGBA only)")
    require(pixels.length == width * height * channels,
      s"pixel buffer ${pixels.length} != $width*$height*$channels")
    val colorType = channels match { case 1 => 0; case 3 => 2; case _ => 6 }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    val rowLen = width * channels
    val raw = new Array[Byte](height * (rowLen + 1))
    var y = 0
    while (y < height) {
      val f = math.floorMod(filterOf(y), 5)
      val base = y * (rowLen + 1)
      raw(base) = f.toByte
      var i = 0
      while (i < rowLen) {
        val cur = pixels(y * rowLen + i) & 0xff
        val left = if (i >= channels) pixels(y * rowLen + i - channels) & 0xff else 0
        val up = if (y > 0) pixels((y - 1) * rowLen + i) & 0xff else 0
        val ul = if (y > 0 && i >= channels) pixels((y - 1) * rowLen + i - channels) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        raw(base + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    val out = new java.io.ByteArrayOutputStream(zOut.size() + 64)
    out.write(pngSignature)
    out.write(pngChunk("IHDR", ihdr))
    out.write(pngChunk("IDAT", zOut.toByteArray))
    out.write(pngChunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** Decoded-pixel cap: a conformant but hostile header (2^31-px canvas)
    * must degrade to a skipped row, not an executor OOM — one bad row
    * never fails a 100 TB job. 2^28 bytes ≈ an 8k×8k RGBA frame.
    */
  private val MaxDecodedBytes = 1L << 28

  /** Real PNG decoder: chunk walk with CRC-32 validation, concatenated
    * IDAT inflate, full scanline de-filtering. Supports the encoder's
    * profile (8-bit depth, gray/RGB/RGBA, no interlace) — other valid
    * PNGs (palette, 16-bit, Adam7) and any malformed input return None
    * rather than throwing. Returns (width, height, channels, pixels)
    * with pixels row-major interleaved, exactly the encoder's input.
    */
  private[ops] def parsePng(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (p.length < 8) return None
    var i = 0
    while (i < 8) { if (p(i) != pngSignature(i)) return None; i += 1 }
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    var off = 8
    var width = 0; var height = 0; var channels = 0
    var seenIhdr = false; var seenIend = false; var ok = true
    val idat = new java.io.ByteArrayOutputStream()
    while (ok && !seenIend) {
      if (off + 12 > p.length) { ok = false }
      else {
        val len = be32(off)
        if (len > p.length.toLong - off - 12) { ok = false }
        else {
          val n = len.toInt
          val crc = new java.util.zip.CRC32
          crc.update(p, off + 4, 4 + n)
          if (crc.getValue != be32(off + 8 + n)) ok = false
          else new String(p, off + 4, 4, "US-ASCII") match {
            case "IHDR" =>
              if (n != 13 || seenIhdr) ok = false
              else {
                width = be32(off + 8).toInt
                height = be32(off + 12).toInt
                val bitDepth = p(off + 16) & 0xff
                channels = (p(off + 17) & 0xff) match {
                  case 0 => 1; case 2 => 3; case 6 => 4; case _ => 0
                }
                val interlace = p(off + 20) & 0xff
                seenIhdr = true
                if (bitDepth != 8 || channels == 0 || interlace != 0 ||
                  width <= 0 || height <= 0 ||
                  width.toLong * height * channels > MaxDecodedBytes) ok = false
              }
            case "IDAT" => if (!seenIhdr) ok = false else idat.write(p, off + 8, n)
            case "IEND" => seenIend = true
            case _ => () // ancillary chunk (tEXt, gAMA, ...): skip
          }
          off += 12 + n
        }
      }
    }
    if (!ok || !seenIhdr || !seenIend) return None
    val rowLen = width * channels
    val expected = height * (rowLen + 1)
    val raw = new Array[Byte](expected)
    val infl = new java.util.zip.Inflater()
    try {
      infl.setInput(idat.toByteArray)
      var got = 0
      while (got < expected && !infl.finished()) {
        val n = infl.inflate(raw, got, expected - got)
        if (n == 0 && (infl.needsInput() || infl.needsDictionary())) return None
        got += n
      }
      if (got < expected) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally infl.end()
    val out = new Array[Byte](height * rowLen)
    var y = 0
    while (y < height) {
      val f = raw(y * (rowLen + 1)) & 0xff
      if (f > 4) return None
      var k = 0
      while (k < rowLen) {
        val x = raw(y * (rowLen + 1) + 1 + k) & 0xff
        val left = if (k >= channels) out(y * rowLen + k - channels) & 0xff else 0
        val up = if (y > 0) out((y - 1) * rowLen + k) & 0xff else 0
        val ul = if (y > 0 && k >= channels) out((y - 1) * rowLen + k - channels) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        out(y * rowLen + k) = ((x + pred) & 0xff).toByte
        k += 1
      }
      y += 1
    }
    Some((width, height, channels, out))
  }

  /** Decode a payload to raw pixels: the hand-rolled PNG path first
    * (filter-complete, CRC-checked), then the hand-rolled baseline JPEG
    * path ([[Jpeg.decode]] — Huffman + dequant + IDCT + JFIF color),
    * then the hand-rolled GIF path ([[Gif.decode]] — LZW + palette +
    * deinterlace), then the hand-rolled BMP path ([[Bmp.decode]]), then
    * javax.imageio as the fallback for the JDK's remaining pure-Java
    * codecs (progressive JPEG, RLE/bitfield BMP) — all REAL pixel
    * decodes; anything no path accepts yields None.
    */
  private def decodePixelsOne(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    parsePng(p).orElse(Jpeg.decode(p))
      .orElse(Gif.decode(p, maxBytes = MaxDecodedBytes))
      .orElse(Bmp.decode(p, maxBytes = MaxDecodedBytes)).orElse {
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          if (w.toLong * h * 3 > MaxDecodedBytes) None
          else {
            val out = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val base = (y * w + x) * 3
                out(base) = ((rgb >> 16) & 0xff).toByte
                out(base + 1) = ((rgb >> 8) & 0xff).toByte
                out(base + 2) = (rgb & 0xff).toByte
                x += 1
              }
              y += 1
            }
            Some((w, h, 3, out))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Full pixel decode + per-image statistics: geometry plus exact
    * integer aggregates over the decoded bytes — `sum_val`, a
    * position-weighted `px_checksum` (Σ (v_i+1)·(i+1) over row-major
    * interleaved index i — any single-pixel corruption, filter bug or
    * channel swap moves it), min/max. Undecodable payloads emit null
    * stats (the row survives; a 100 TB corpus always carries garbage).
    * All-integer on purpose: no IEEE ordering hazard, so results are
    * bit-stable under any partitioning and exactly oracle-able.
    */
  def decodeImagePixels(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("sum_val", LongType),
      StructField("px_checksum", LongType),
      StructField("min_val", IntegerType),
      StructField("max_val", IntegerType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val parsed = if (raw == null) None else decodePixelsOne(raw)
        parsed match {
          case Some((w, h, ch, px)) =>
            var s = 0L; var cs = 0L; var mn = 255; var mx = 0; var i = 0
            while (i < px.length) {
              val v = px(i) & 0xff
              s += v
              cs += (v + 1L) * (i + 1L)
              if (v < mn) mn = v
              if (v > mx) mx = v
              i += 1
            }
            Row(r.get(idIdx), w, h, ch, s, cs, mn, mx)
          case None => Row(r.get(idIdx), null, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Deterministic PNG fixture for gate/spec corpora: geometry, channel
    * count and every pixel are closed-form functions of the id (grouped
    * by id%50 with a sparse id-dependent perturbation, so same-group
    * images are near-duplicates — the perceptual-hash regime — while
    * the DuckDB oracle recomputes each byte arithmetically). Scanline
    * filters cycle (g+y)%5: the whole filter bank is load-bearing in
    * every gate run.
    */
  private[ops] def pngFixture(id: Long): Array[Byte] = {
    val g = math.floorMod(id, 50L).toInt
    val w = 16 + g % 9
    val h = 12 + g % 7
    val ch = if (g % 2 == 0) 1 else 3
    val px = new Array[Byte](w * h * ch)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < ch) {
          val noise =
            if (math.floorMod(id / 50 + x * 13L + y * 7L, 89L) == 0L) 128L else 0L
          // group-dependent gradient coefficients: dHash is invariant to
          // constant brightness shifts, so a g-only OFFSET would leave
          // cross-group signatures near-identical — varying the x/y slopes
          // by group makes cross-group images genuinely dissimilar
          val v = math.floorMod(
            g * 7919L + y * (104729L + 2L * g) + x * (131L + 2L * g) + c * 17L + noise,
            256L)
          px((y * w + x) * ch + c) = v.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    pngPayload(px, w, h, ch, yy => (g + yy) % 5)
  }

  /** Attach the deterministic PNG fixture as `payloadCol` (replacing any
    * existing payload) — the fixture half of the PNG pixel gates,
    * mirroring [[synthesizeWav]]/[[synthesizeWebp]].
    */
  def synthesizePng(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        Row(r.get(idIdx), pngFixture(id))
      }
    }(enc)
  }

  /** Attach the deterministic block-constant JPEG fixture as
    * `payloadCol` — the fixture half of the q_mm_jpeg_pixels gate,
    * mirroring [[synthesizePng]]; see [[Jpeg.jpegFixture]] for why the
    * round-trip is integer-exact.
    */
  def synthesizeJpeg(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        Row(r.get(idIdx), Jpeg.jpegFixture(id))
      }
    }(enc)
  }

  private def resampleNearest(px: Array[Byte], w: Int, h: Int, ch: Int,
                              outW: Int, outH: Int): Array[Byte] = {
    val out = new Array[Byte](outW * outH * ch)
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        val sx = x * w / outW
        var c = 0
        while (c < ch) {
          out((y * outW + x) * ch + c) = px((sy * w + sx) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Bilinear resample with pixel-center mapping (src = (dst+0.5)·scale
    * − 0.5, edge-clamped) and round-half-up quantization — the
    * convention of mainstream image libraries. Float weights make this
    * variant spec-tested rather than SQL-oracled; [[resampleNearest]]
    * is the integer-exact oracle path.
    */
  private def resampleBilinear(px: Array[Byte], w: Int, h: Int, ch: Int,
                               outW: Int, outH: Int): Array[Byte] = {
    val out = new Array[Byte](outW * outH * ch)
    var y = 0
    while (y < outH) {
      val fy = math.max(0.0, math.min(h - 1.0, (y + 0.5) * h / outH - 0.5))
      val y0 = fy.toInt; val y1 = math.min(h - 1, y0 + 1); val wy = fy - y0
      var x = 0
      while (x < outW) {
        val fx = math.max(0.0, math.min(w - 1.0, (x + 0.5) * w / outW - 0.5))
        val x0 = fx.toInt; val x1 = math.min(w - 1, x0 + 1); val wx = fx - x0
        var c = 0
        while (c < ch) {
          def at(yy: Int, xx: Int): Double = (px((yy * w + xx) * ch + c) & 0xff).toDouble
          val v = at(y0, x0) * (1 - wy) * (1 - wx) + at(y0, x1) * (1 - wy) * wx +
            at(y1, x0) * wy * (1 - wx) + at(y1, x1) * wy * wx
          out((y * outW + x) * ch + c) = math.min(255, math.max(0, math.floor(v + 0.5).toInt)).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL image resize: decode → resample → re-encode as PNG, so the
    * output payload is itself a decodable image (the gate round-trips it
    * through [[decodeImagePixels]], proving encoder AND decoder on every
    * row). `method` is "nearest" (integer-exact, the oracle path) or
    * "bilinear". Undecodable inputs carry a null payload through.
    */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
                   outW: Int, outH: Int, method: String = "nearest"): DataFrame = {
    require(outW >= 1 && outH >= 1, s"degenerate target ${outW}x$outH")
    val resample: (Array[Byte], Int, Int, Int) => Array[Byte] = method match {
      case "nearest"  => resampleNearest(_, _, _, _, outW, outH)
      case "bilinear" => resampleBilinear(_, _, _, _, outW, outH)
      case other => throw new IllegalArgumentException(
        s"unknown resize method '$other' (nearest | bilinear)")
    }
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val resized = (if (raw == null) None else decodePixelsOne(raw)).map {
          case (w, h, ch, px) =>
            pngPayload(resample(px, w, h, ch), outW, outH, ch, _ % 5)
        }
        Row(r.get(idIdx), resized.orNull)
      }
    }(enc)
  }

  /** 64-bit difference hash (dHash) over decoded pixels: gray values
    * (integer (r+g+b)/3 for color) nearest-sampled on a 9×8 grid, bit
    * y·8+x set when the right neighbor is strictly brighter. Robust to
    * uniform brightness shifts and resize — the classic cheap perceptual
    * near-dup signature. Integer-exact end to end (sampling, not
    * averaging), so the signature itself is SQL-oracle-able; pairs at
    * hamming ≤ k come from [[Dedup.hammingPairs]]'s pigeonhole buckets,
    * never all-pairs.
    */
  def imageDHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("dhash", LongType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val sig = (if (raw == null) None else decodePixelsOne(raw)).map {
          case (w, h, ch, px) =>
            def gray(gx: Int, gy: Int): Int = {
              val sx = gx * w / 9
              val sy = gy * h / 8
              val base = (sy * w + sx) * ch
              if (ch == 1) px(base) & 0xff
              else ((px(base) & 0xff) + (px(base + 1) & 0xff) + (px(base + 2) & 0xff)) / 3
            }
            var hash = 0L
            var gy = 0
            while (gy < 8) {
              var gx = 0
              while (gx < 8) {
                if (gray(gx + 1, gy) > gray(gx, gy)) hash |= 1L << (gy * 8 + gx)
                gx += 1
              }
              gy += 1
            }
            hash
        }
        Row(r.get(idIdx), sig.map(v => java.lang.Long.valueOf(v)).orNull)
      }
    }(enc)
  }

  val audioMetaType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("duration_ms", DoubleType),
    StructField("format", StringType)))

  /** Pure-JVM RIFF/WAVE header parse — no codec libraries involved, so
    * this modality is REAL in this container (unlike mp3/flac/video,
    * which need native decoders). Walks the chunk list for `fmt ` and
    * `data`; cost is O(header), the sample payload is never touched.
    * Returns (sampleRate, channels, bitsPerSample, durationMs, "wav"),
    * or None when the payload is not a parseable PCM WAV (wrong magic,
    * truncated fmt chunk, zero byte rate) — never throws on garbage.
    */
  private[ops] def parseWavHeader(p: Array[Byte]): Option[(Int, Int, Int, Double, String)] = {
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12L
    var fmt: Option[(Int, Int, Int, Long)] = None // channels, rate, bits, byteRate
    var dataSize: Option[Long] = None
    while (off + 8 <= p.length && (fmt.isEmpty || dataSize.isEmpty)) {
      val o = off.toInt
      val id = tag(o)
      val sz = le32(o + 4)
      if (id == "fmt " && o + 24 <= p.length)
        fmt = Some((le16(o + 10), le32(o + 12).toInt, le16(o + 22), le32(o + 16)))
      // data size comes from the header, so a payload truncated mid-data
      // still reports its declared duration (header-only contract)
      if (id == "data") dataSize = Some(sz)
      off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
    }
    for {
      (ch, rate, bits, byteRate) <- fmt
      ds <- dataSize
      if byteRate > 0
    } yield (rate, ch, bits, ds * 1000.0 / byteRate, "wav")
  }

  private def audioStub(payload: Array[Byte]): (Int, Int, Int, Double, String) = {
    val hsh = fnv1a(payload)
    val rates = Array(8000, 16000, 22050, 44100)
    (rates(math.floorMod(hsh, 4).toInt), 1 + math.floorMod(hsh >> 8, 2).toInt,
      16, (500 + math.floorMod(hsh >> 16, 60000)).toDouble, "stub")
  }

  /** Pure-JVM MPEG audio (MP3) header parse — frame-header metadata only,
    * no codec work, so like WAV this modality's geometry is REAL in this
    * container. Skips a leading ID3v2 tag (syncsafe size), scans a
    * bounded window for the first valid Layer III frame sync, and decodes
    * version/bitrate/sample-rate/channel-mode from the 4 header bytes.
    * Duration is the CBR estimate (bytes after sync × 8 / bitrate) — the
    * standard header-only approximation; a VBR exact duration needs every
    * frame header walked, which is O(payload) against the header-only
    * contract. bits_per_sample is 0: MP3 has no fixed sample width.
    * Returns None on anything that isn't a parseable Layer III stream —
    * never throws on garbage.
    */
  private[ops] def parseMp3Header(p: Array[Byte]): Option[(Int, Int, Int, Double, String)] = {
    var off = 0
    if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
      val sz = ((p(6) & 0x7f) << 21) | ((p(7) & 0x7f) << 14) |
        ((p(8) & 0x7f) << 7) | (p(9) & 0x7f)
      off = 10 + sz
    }
    // a real stream's sync is at (or within padding bytes of) the tag end;
    // bound the scan so a garbage payload costs O(4KB), not O(payload)
    val limit = math.min(p.length - 4, off + 4096)
    var i = off
    while (i >= 0 && i <= limit) {
      val b1 = p(i) & 0xff
      val b2 = p(i + 1) & 0xff
      if (b1 == 0xff && (b2 & 0xe0) == 0xe0) {
        val verBits = (b2 >> 3) & 3   // 0=MPEG2.5, 1=reserved, 2=MPEG2, 3=MPEG1
        val layerBits = (b2 >> 1) & 3 // 1 = Layer III
        val b3 = p(i + 2) & 0xff
        val brIdx = (b3 >> 4) & 0xf
        val srIdx = (b3 >> 2) & 3
        val chMode = ((p(i + 3) & 0xff) >> 6) & 3
        if (verBits != 1 && layerBits == 1 && brIdx >= 1 && brIdx <= 14 && srIdx <= 2) {
          val bitrateKbps =
            if (verBits == 3) Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx)
            else Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)(brIdx)
          val rate = verBits match {
            case 3 => Array(44100, 48000, 32000)(srIdx)
            case 2 => Array(22050, 24000, 16000)(srIdx)
            case _ => Array(11025, 12000, 8000)(srIdx)
          }
          val channels = if (chMode == 3) 1 else 2
          val durMs = (p.length - i).toDouble * 8.0 * 1000.0 / (bitrateKbps * 1000.0)
          return Some((rate, channels, 0, durMs, "mp3"))
        }
      }
      i += 1
    }
    None
  }

  /** Pure-JVM FLAC STREAMINFO parse — the geometry (rate/channels/bits/
    * total samples) lives entirely in the mandatory first metadata block,
    * so like WAV/MP3 this modality's header is REAL without a codec.
    * Bit layout per the FLAC spec: 20-bit sample rate, 3-bit channels-1,
    * 5-bit bps-1, 36-bit total samples, packed into STREAMINFO bytes
    * 10-17. Returns None on anything that isn't a parseable fLaC stream
    * — never throws on garbage.
    */
  private[ops] def parseFlacHeader(p: Array[Byte]): Option[(Int, Int, Int, Double, String)] = {
    if (p.length < 4 + 4 + 34 || new String(p, 0, 4, "US-ASCII") != "fLaC") return None
    // first metadata block must be STREAMINFO (type 0), length 34
    val btype = p(4) & 0x7f
    val blen = ((p(5) & 0xff) << 16) | ((p(6) & 0xff) << 8) | (p(7) & 0xff)
    if (btype != 0 || blen != 34) return None
    val o = 8
    def u8(i: Int): Int = p(o + i) & 0xff
    val rate = (u8(10) << 12) | (u8(11) << 4) | (u8(12) >> 4)
    val channels = ((u8(12) >> 1) & 0x07) + 1
    val bps = (((u8(12) & 0x01) << 4) | ((u8(13) >> 4) & 0x0f)) + 1
    val totalSamples = ((u8(13) & 0x0fL) << 32) |
      ((u8(14) & 0xffL) << 24) | ((u8(15) & 0xffL) << 16) |
      ((u8(16) & 0xffL) << 8) | (u8(17) & 0xffL)
    if (rate <= 0) None
    else Some((rate, channels, bps, totalSamples * 1000.0 / rate, "flac"))
  }

  /** Canonical FLAC envelope (fLaC magic + last-block STREAMINFO whose
    * total-samples field is data.length, arbitrary bytes as the unread
    * frame section) — the fixture half of the `q_mm_flac_meta` gate,
    * mirroring [[wavPayload]].
    */
  def flacPayload(data: Array[Byte], sampleRate: Int, channels: Int,
                  bitsPerSample: Int): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20))
    require(channels >= 1 && channels <= 8)
    require(bitsPerSample >= 4 && bitsPerSample <= 32)
    val out = new Array[Byte](8 + 34 + data.length)
    "fLaC".getBytes("US-ASCII").copyToArray(out, 0)
    out(4) = 0x80.toByte // last-metadata-block, type 0 (STREAMINFO)
    out(7) = 34          // 24-bit BE length
    val o = 8
    out(o) = 0x10; out(o + 1) = 0x00     // min block size 4096
    out(o + 2) = 0x10; out(o + 3) = 0x00 // max block size 4096
    val totalSamples = data.length.toLong
    out(o + 10) = ((sampleRate >> 12) & 0xff).toByte
    out(o + 11) = ((sampleRate >> 4) & 0xff).toByte
    out(o + 12) = (((sampleRate & 0x0f) << 4) | ((channels - 1) << 1) |
      ((bitsPerSample - 1) >> 4)).toByte
    out(o + 13) = ((((bitsPerSample - 1) & 0x0f) << 4) |
      ((totalSamples >> 32) & 0x0f).toInt).toByte
    out(o + 14) = ((totalSamples >> 24) & 0xff).toByte
    out(o + 15) = ((totalSamples >> 16) & 0xff).toByte
    out(o + 16) = ((totalSamples >> 8) & 0xff).toByte
    out(o + 17) = (totalSamples & 0xff).toByte
    data.copyToArray(out, 42)
    out
  }

  /** Attach decoded audio metadata to a (id, payload) frame: REAL
    * header-only parse for RIFF/WAVE via [[parseWavHeader]], MPEG
    * Layer III via [[parseMp3Header]], and FLAC STREAMINFO via
    * [[parseFlacHeader]]; deterministic stub for codecs absent from
    * this container. Same mapPartitions batch shape as [[decodeImages]].
    */
  def decodeAudio(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("n_bytes", LongType),
      StructField("meta", audioMetaType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        // same null contract as decodeImages: stub seeded from empty bytes
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val payload = if (raw == null) Array.emptyByteArray else raw
        val (rate, ch, bits, durMs, fmt) =
          parseWavHeader(payload).orElse(parseMp3Header(payload))
            .orElse(parseFlacHeader(payload))
            .getOrElse(audioStub(payload))
        Row(r.get(idIdx), payload.length.toLong, Row(rate, ch, bits, durMs, fmt))
      }
    }(enc)
  }

  /** Canonical 44-byte PCM WAV writer (header + raw data). A fixture
    * generator for the golden-geometry tests and the `q_mm_wav_meta`
    * oracle gate — the gate wraps arbitrary bytes in a real WAV envelope
    * on the Spark side, parses it back with [[parseWavHeader]], and
    * DuckDB independently recomputes the expected duration arithmetic.
    */
  def wavPayload(data: Array[Byte], sampleRate: Int, channels: Int,
                 bitsPerSample: Int): Array[Byte] = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val blockAlign = channels * bitsPerSample / 8
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
      .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(data.length)
      .put(data)
    bb.array()
  }

  /** Wrap a binary column in a PCM WAV envelope row-by-row — the fixture
    * half of the `q_mm_wav_meta` gate (see [[wavPayload]]).
    */
  def synthesizeWav(df: DataFrame, idCol: String, payloadCol: String,
                    sampleRate: Int, channels: Int, bitsPerSample: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        Row(r.get(idIdx), wavPayload(data, sampleRate, channels, bitsPerSample))
      }
    }(enc)
  }

  /** Canonical minimal MP3 envelope (ID3v2 tag + one valid MPEG1 Layer
    * III frame header + raw data as the CBR stream body) — the fixture
    * half of the `q_mm_mp3_meta` gate, mirroring [[wavPayload]]. The tag
    * is 64 bytes (10-byte header + 54-byte syncsafe-sized body), so the
    * parser must skip it to find the sync; duration under CBR is
    * (4 + data.length) × 8 / bitrate.
    */
  def mp3Payload(data: Array[Byte], bitrateKbps: Int = 128,
                 sampleRate: Int = 44100, stereo: Boolean = true): Array[Byte] = {
    val mpeg1Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val brIdx = mpeg1Bitrates.indexOf(bitrateKbps)
    val srIdx = Array(44100, 48000, 32000).indexOf(sampleRate)
    require(brIdx >= 1 && srIdx >= 0,
      s"unsupported MPEG1 Layer III bitrate=$bitrateKbps rate=$sampleRate")
    val bb = java.nio.ByteBuffer.allocate(64 + 4 + data.length)
    bb.put("ID3".getBytes("US-ASCII")).put(4.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(54) // syncsafe: 54 < 128 so the raw int IS the syncsafe form
    bb.position(64) // zero-filled tag body
    bb.put(0xff.toByte) // sync
    bb.put((0xe0 | (3 << 3) | (1 << 1)).toByte) // sync | MPEG1 | Layer III
    bb.put(((brIdx << 4) | (srIdx << 2)).toByte)
    bb.put((if (stereo) 0x00 else 0xc0).toByte) // channel mode
    bb.put(data)
    bb.array()
  }

  /** Wrap a binary column in a FLAC envelope row-by-row — the fixture
    * half of the `q_mm_flac_meta` gate (see [[flacPayload]]).
    */
  def synthesizeFlac(df: DataFrame, idCol: String, payloadCol: String,
                     sampleRate: Int = 44100, channels: Int = 2,
                     bitsPerSample: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        Row(r.get(idIdx), flacPayload(data, sampleRate, channels, bitsPerSample))
      }
    }(enc)
  }

  /** Attach the deterministic palette-indexed GIF fixture as
    * `payloadCol` — the fixture half of the q_mm_gif_pixels gate,
    * mirroring [[synthesizePng]]; see [[Gif.gifFixture]] for the
    * closed form (half the corpus interlaced, palette sizes 4/8/16).
    */
  def synthesizeGif(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        Row(r.get(idIdx), Gif.gifFixture(id))
      }
    }(enc)
  }

  /** Attach the deterministic 24-bit BMP fixture as `payloadCol` — the
    * fixture half of the q_mm_bmp_pixels gate, mirroring
    * [[synthesizeGif]]; see [[Bmp.bmpFixture]] (odd widths keep the
    * DWORD row padding load-bearing).
    */
  def synthesizeBmp(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        Row(r.get(idIdx), Bmp.bmpFixture(id))
      }
    }(enc)
  }

  /** Deterministic PCM fixture for the audio SAMPLE gates (the audio
    * analogue of [[pngFixture]]): geometry and every sample are
    * closed-form functions of the id, so the DuckDB oracle recomputes
    * the decoded PCM without ever seeing a FLAC or WAV byte. The signal
    * is a per-channel linear ramp plus a small modular wiggle — linear
    * so the FLAC encoder's FIXED predictors genuinely compress it
    * (pure noise would push every subframe to VERBATIM and leave the
    * Rice path untested), wiggled so no subframe is CONSTANT.
    */
  private[ops] def audioPcmFixture(id: Long): Flac.FlacAudio = {
    val g = math.floorMod(id, 50L).toInt
    val rate = Array(8000, 16000, 22050, 44100, 11025)(g % 5)
    val channels = 1 + g % 2
    val n = 400 + g * 13
    val slope = g % 7 - 3
    val base = math.floorMod(id, 997L).toInt - 498
    val samples = Array.tabulate(channels) { c =>
      Array.tabulate(n) { i =>
        slope * i + base +
          math.floorMod(id * 31L + c * 7919L + i * 104729L, 23L).toInt - 11
      }
    }
    Flac.FlacAudio(rate, channels, 16, samples)
  }

  /** Attach the deterministic PCM fixture FLAC-encoded as `payloadCol`
    * — the fixture half of the q_mm_flac_pcm gate, mirroring
    * [[synthesizeJpeg]]. Block size 256 forces 2–5 frames per stream
    * (sequential UTF-8 frame numbers, a short tail frame) and the
    * stereo half of the corpus exercises the encoder's decorrelation
    * decision, so the gate round-trips the whole frame layer, not just
    * one subframe.
    */
  def synthesizeFlacPcm(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        Row(r.get(idIdx), Flac.encode(audioPcmFixture(id), blockSize = 256))
      }
    }(enc)
  }

  /** Attach the deterministic PCM fixture as a 16-bit PCM WAV — the
    * fixture half of the q_mm_wav_pcm gate; same samples as
    * [[synthesizeFlacPcm]] so one oracle closed form covers both codecs.
    */
  def synthesizeWavPcm(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](idIdx).longValue()
        val a = audioPcmFixture(id)
        val bytes = new Array[Byte](a.numSamples * a.channels * 2)
        var i = 0
        while (i < a.numSamples) {
          var c = 0
          while (c < a.channels) {
            val v = a.samples(c)(i)
            val o = (i * a.channels + c) * 2
            bytes(o) = (v & 0xff).toByte
            bytes(o + 1) = ((v >> 8) & 0xff).toByte
            c += 1
          }
          i += 1
        }
        Row(r.get(idIdx), wavPayload(bytes, a.sampleRate, a.channels, 16))
      }
    }(enc)
  }

  /** 16-bit PCM WAV sample decode (the full-payload complement of the
    * header-only [[parseWavHeader]]): locate `fmt `/`data`, reject
    * non-PCM or non-16-bit streams, split interleaved LE samples into
    * channel-major arrays. None, never a throw, on anything else.
    */
  private[ops] def parseWavPcm(p: Array[Byte]): Option[Flac.FlacAudio] = {
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None // audioFormat, channels, rate, bits
    var data: Option[(Int, Int)] = None          // offset, size
    while (off + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
      val o = off.toInt
      val id = tag(o)
      val sz = le32(o + 4)
      if (id == "fmt " && o + 24 <= p.length)
        fmt = Some((le16(o + 8), le16(o + 10), le32(o + 12).toInt, le16(o + 22)))
      if (id == "data")
        // unlike the duration estimate, sample decode needs the bytes to
        // actually be there: clamp to the physical payload
        data = Some((o + 8, math.min(sz, (p.length - o - 8).toLong).toInt))
      off += 8 + sz + (sz & 1)
    }
    for {
      (audioFmt, ch, rate, bits) <- fmt
      (dOff, dSize) <- data
      if audioFmt == 1 && bits == 16 && ch >= 1 && ch <= 8 && rate > 0
    } yield {
      val n = dSize / (2 * ch)
      val samples = Array.fill(ch)(new Array[Int](n))
      var i = 0
      while (i < n) {
        var c = 0
        while (c < ch) {
          val o = dOff + (i * ch + c) * 2
          samples(c)(i) = ((p(o) & 0xff) | (p(o + 1) << 8)).toShort.toInt
          c += 1
        }
        i += 1
      }
      Flac.FlacAudio(rate, ch, 16, samples)
    }
  }

  /** REAL audio resample over a binary column: decode (FLAC or 16-bit
    * WAV), nearest-sample resample to `dstRate`, re-encode as FLAC —
    * the audio analogue of [[resizeImages]], and with a WAV input the
    * row crosses BOTH audio codecs. Nearest (zero-order hold) on
    * integer index arithmetic out[i] = src[(i·srcRate)/dstRate], so the
    * result is integer-exact and closed-form oracle-able; a real
    * pipeline would choose a windowed-sinc kernel for quality, but the
    * Spark-side plumbing (decode → transform → re-encode, payloads
    * never shuffling) is identical. Undecodable payloads yield null.
    */
  def resampleAudio(df: DataFrame, idCol: String, payloadCol: String,
                    dstRate: Int): DataFrame = {
    require(dstRate > 0)
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField(payloadCol, BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val parsed =
          if (raw == null) None
          else Flac.decode(raw).orElse(parseWavPcm(raw))
        val resampled = parsed.flatMap { a =>
          val n = a.numSamples
          // encode accepts bps 8–24; decode accepts 4..24 — a narrower
          // input degrades to null rather than throwing in the executor
          if (n == 0 || a.sampleRate <= 0 || a.bitsPerSample < 8) None
          else {
            val m = (n.toLong * dstRate / a.sampleRate).toInt
            if (m == 0) None
            else {
              val out = Array.tabulate(a.channels) { c =>
                val src = a.samples(c)
                Array.tabulate(m) { i =>
                  src(math.min(n - 1, (i.toLong * a.sampleRate / dstRate).toInt))
                }
              }
              Some(Flac.encode(
                Flac.FlacAudio(dstRate, a.channels, a.bitsPerSample, out), blockSize = 256))
            }
          }
        }
        Row(r.get(idIdx), resampled.orNull)
      }
    }(enc)
  }

  /** REAL audio sample decode over a binary column: FLAC first (full
    * CRC+MD5-verified codec, [[Flac.decode]]), then 16-bit PCM WAV —
    * per-row stats over the decoded PCM, nulls when neither codec
    * claims the payload. Same mapPartitions batch shape as
    * [[decodeImagePixels]]; payloads never shuffle. sample_checksum is
    * position- and channel-weighted (frame-interleaved index), so a
    * single sample moved between channels or shifted in time changes
    * it — the audio analogue of px_checksum.
    */
  def decodeAudioPcm(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("bits_per_sample", IntegerType),
      StructField("n_samples", LongType),
      StructField("sum_val", LongType),
      StructField("sample_checksum", LongType),
      StructField("min_val", IntegerType),
      StructField("max_val", IntegerType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val parsed =
          if (raw == null) None
          else Flac.decode(raw).orElse(parseWavPcm(raw))
        parsed match {
          case Some(a) if a.numSamples > 0 =>
            var s = 0L; var cs = 0L
            var mn = Int.MaxValue; var mx = Int.MinValue
            var i = 0
            while (i < a.numSamples) {
              var c = 0
              while (c < a.channels) {
                val v = a.samples(c)(i)
                val idx = i.toLong * a.channels + c
                s += v
                cs += (v + 32769L) * (idx + 1L)
                if (v < mn) mn = v
                if (v > mx) mx = v
                c += 1
              }
              i += 1
            }
            Row(r.get(idIdx), a.sampleRate, a.channels, a.bitsPerSample,
              a.numSamples.toLong, s, cs, mn, mx)
          case _ => Row(r.get(idIdx), null, null, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** REAL audio feature extraction over a binary column: decode (FLAC
    * or 16-bit WAV) then reduce each payload to the standard cheap
    * audio-quality signals — energy (Σv², the RMS numerator), zero
    * crossings (sign changes per channel, the classic
    * silence/noise/voicing discriminator), and peak amplitude. All
    * integer-exact, so the gate oracle recomputes them from the fixture
    * closed form; payloads never shuffle (same posture as
    * [[decodeAudioPcm]]). A crossing is (v<0) != (prev<0), counted
    * within each channel independently and summed.
    */
  def audioFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_samples", LongType),
      StructField("energy", LongType),
      StructField("zero_crossings", LongType),
      StructField("peak_abs", IntegerType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val parsed =
          if (raw == null) None
          else Flac.decode(raw).orElse(parseWavPcm(raw))
        parsed match {
          case Some(a) if a.numSamples > 0 =>
            var energy = 0L
            var zc = 0L
            var peak = 0
            var c = 0
            while (c < a.channels) {
              val s = a.samples(c)
              var i = 0
              while (i < s.length) {
                val v = s(i)
                energy += v.toLong * v
                if (i > 0 && (v < 0) != (s(i - 1) < 0)) zc += 1
                val av = math.abs(v)
                if (av > peak) peak = av
                i += 1
              }
              c += 1
            }
            Row(r.get(idIdx), a.sampleRate, a.channels, a.numSamples.toLong,
              energy, zc, peak)
          case _ => Row(r.get(idIdx), null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Wrap a binary column in a VP8X WebP envelope row-by-row, dimensions
    * derived deterministically from the payload length — the fixture
    * half of the `q_mm_webp_meta` gate (see [[webpPayload]]).
    */
  def synthesizeWebp(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        val n = data.length
        Row(r.get(idIdx),
          webpPayload(data, 100 + n % 1000, 50 + n % 500, alpha = n % 2 == 0))
      }
    }(enc)
  }

  /** Wrap a binary column in the MP3 envelope row-by-row (fixture half of
    * `q_mm_mp3_meta`; see [[mp3Payload]]).
    */
  def synthesizeMp3(df: DataFrame, idCol: String, payloadCol: String,
                    bitrateKbps: Int = 128, sampleRate: Int = 44100): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        Row(r.get(idIdx), mp3Payload(data, bitrateKbps, sampleRate))
      }
    }(enc)
  }

  val videoMetaType: StructType = StructType(Seq(
    StructField("duration_ms", DoubleType),
    StructField("timescale", IntegerType),
    StructField("major_brand", StringType),
    StructField("format", StringType)))

  /** Pure-JVM ISO BMFF (MP4) box walk — header-only: verifies the `ftyp`
    * leading box, then walks top-level boxes to `moov` and its children
    * to `mvhd`, reading timescale + duration (v0 32-bit and v1 64-bit
    * layouts). The `mdat` payload is never touched. Returns
    * (durationMs, timescale, majorBrand, "mp4"), or None on anything
    * that isn't a parseable MP4 — never throws on garbage (sizes are
    * bounds-checked; a corrupt size that runs past the payload just ends
    * the walk).
    */
  private[ops] def parseMp4Header(p: Array[Byte]): Option[(Double, Int, String, String)] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 16 || tag(4) != "ftyp") return None
    val majorBrand = tag(8)
    var result: Option[(Double, Int, String, String)] = None
    def walk(start: Long, end: Long, inMoov: Boolean): Unit = {
      var o = start
      while (result.isEmpty && o + 8 <= end) {
        val sz0 = be32(o.toInt)
        val t = tag(o.toInt + 4)
        var hdr = 8L
        var sz = sz0
        if (sz0 == 1 && o + 16 <= end) { sz = be64(o.toInt + 8); hdr = 16 }
        else if (sz0 == 0) sz = end - o
        if (sz < hdr) return // corrupt size: stop walking
        val boxEnd = math.min(end, o + sz)
        if (!inMoov && t == "moov") walk(o + hdr, boxEnd, inMoov = true)
        if (inMoov && t == "mvhd" && o + hdr + 4 <= end) {
          val b = (o + hdr).toInt
          val ver = p(b) & 0xff
          if (ver == 0 && b + 20 <= p.length) {
            val timescale = be32(b + 12)
            val dur = be32(b + 16)
            if (timescale > 0)
              result = Some((dur * 1000.0 / timescale, timescale.toInt, majorBrand, "mp4"))
          } else if (ver == 1 && b + 32 <= p.length) {
            val timescale = be32(b + 20)
            val dur = be64(b + 24)
            if (timescale > 0)
              result = Some((dur * 1000.0 / timescale, timescale.toInt, majorBrand, "mp4"))
          }
        }
        o += sz
      }
    }
    walk(0, p.length.toLong, inMoov = false)
    result
  }

  private def videoStub(payload: Array[Byte]): (Double, Int, String, String) = {
    val hsh = fnv1a(payload)
    ((1000 + math.floorMod(hsh, 600000)).toDouble, 600, "none", "stub")
  }

  /** Attach decoded video-container metadata to a (id, payload) frame:
    * REAL header-only ISO BMFF parse via [[parseMp4Header]];
    * deterministic stub for containers this JVM can't identify. Frame
    * DECODE (pixels) still needs native codecs absent here — this op
    * covers the metadata half a curation pipeline filters on (duration,
    * brand) before any expensive decode is scheduled.
    */
  def decodeVideo(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("n_bytes", LongType),
      StructField("meta", videoMetaType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val payload = if (raw == null) Array.emptyByteArray else raw
        val (durMs, timescale, brand, fmt) =
          parseMp4Header(payload).getOrElse(videoStub(payload))
        Row(r.get(idIdx), payload.length.toLong, Row(durMs, timescale, brand, fmt))
      }
    }(enc)
  }

  /** Canonical minimal MP4 (ftyp + moov/mvhd v0 + mdat carrying the
    * data) — the fixture half of the `q_mm_mp4_meta` gate. The mvhd
    * duration field is set to `data.length` ticks at `timescale`, so the
    * expected duration is arithmetically recomputable from the data size
    * alone and the parser provably reads the header, not the mdat body.
    */
  def mp4Payload(data: Array[Byte], timescale: Int = 600): Array[Byte] = {
    val mvhdSz = 8 + 4 + 96 // header + version/flags + v0 body
    val moovSz = 8 + mvhdSz
    val bb = java.nio.ByteBuffer.allocate(20 + moovSz + 8 + data.length) // BE by default
    bb.putInt(20).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0).put("isom".getBytes("US-ASCII"))
    bb.putInt(moovSz).put("moov".getBytes("US-ASCII"))
    bb.putInt(mvhdSz).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // ctime, mtime
      .putInt(timescale).putInt(data.length)
    bb.position(bb.position() + 80) // rate/volume/matrix/predefined/next_track_id: zeros
    bb.putInt(8 + data.length).put("mdat".getBytes("US-ASCII")).put(data)
    bb.array()
  }

  /** Wrap a binary column in the MP4 envelope row-by-row (fixture half of
    * `q_mm_mp4_meta`; see [[mp4Payload]]).
    */
  def synthesizeMp4(df: DataFrame, idCol: String, payloadCol: String,
                    timescale: Int = 600): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        Row(r.get(idIdx), mp4Payload(data, timescale))
      }
    }(enc)
  }

  /** Parsed ISO-BMFF sample tables of one track: media timescale, one
    * size and one duration (in media ticks) per sample, and the 1-based
    * sync-sample (keyframe) numbers from `stss` (`None` = no stss box,
    * which per ISO/IEC 14496-12 §8.6.2 means EVERY sample is sync).
    */
  private[ops] final case class Mp4Samples(timescale: Int, sizes: Array[Long],
                                           durations: Array[Long],
                                           syncSamples: Option[Set[Long]])

  /** First child box with `boxTag` in `[start, end)`, as its CONTENT
    * range (past the 8/16-byte header). Same size discipline as
    * [[parseMp4Header]]: 32-bit size, size==1 → 64-bit largesize,
    * size==0 → to end; corrupt sizes stop the walk.
    */
  private def findBox(p: Array[Byte], start: Long, end: Long,
                      boxTag: String): Option[(Long, Long)] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    var o = start
    while (o + 8 <= end) {
      val sz0 = be32(o.toInt)
      val t = new String(p, o.toInt + 4, 4, "US-ASCII")
      var hdr = 8L
      var sz = sz0
      if (sz0 == 1 && o + 16 <= end) { sz = be64(o.toInt + 8); hdr = 16 }
      else if (sz0 == 0) sz = end - o
      if (sz < hdr) return None // corrupt size: stop walking
      if (t == boxTag) return Some((o + hdr, math.min(end, o + sz)))
      o += sz
    }
    None
  }

  /** REAL header-only parse of the `stbl` sample tables — the metadata a
    * frame sampler schedules decode work from, recovered without any
    * codec: walks `moov/trak/mdia/{mdhd,minf/stbl/{stsz,stts,stss}}` (the
    * first track carrying an stsz — the fixture and typical
    * single-track corpora; a multi-track selector would iterate traks),
    * then expands
    *
    *   - `stsz` → per-sample byte sizes (fixed-size and per-entry forms),
    *   - `stts` → per-sample durations in media-timescale ticks
    *     (run-length (count, delta) entries, expansion capped at the
    *     stsz sample count so a corrupt stts cannot allocate unbounded),
    *   - `stss` → the 1-based sync-sample set (absent box = all sync).
    *
    * The media timescale comes from `mdhd` (v0 and v1), NOT `mvhd` —
    * stts ticks are media-track units. Every read is bounds-checked;
    * any structural violation yields None (one corrupt payload must
    * never fail a 100 TB job).
    */
  private[ops] def parseMp4SampleTable(p: Array[Byte]): Option[Mp4Samples] = {
    def be32(o: Long): Long =
      ((p(o.toInt) & 0xffL) << 24) | ((p(o.toInt + 1) & 0xffL) << 16) |
        ((p(o.toInt + 2) & 0xffL) << 8) | (p(o.toInt + 3) & 0xffL)
    if (p.length < 16 || new String(p, 4, 4, "US-ASCII") != "ftyp") return None
    try {
      for {
        (ms, me) <- findBox(p, 0, p.length.toLong, "moov")
        (ts, te) <- findBox(p, ms, me, "trak")
        (mds, mde) <- findBox(p, ts, te, "mdia")
        (mhs, _) <- findBox(p, mds, mde, "mdhd")
        (mns, mne) <- findBox(p, mds, mde, "minf")
        (sbs, sbe) <- findBox(p, mns, mne, "stbl")
        (szs, sze) <- findBox(p, sbs, sbe, "stsz")
        (tts, tte) <- findBox(p, sbs, sbe, "stts")
        timescale <- {
          val ver = p(mhs.toInt) & 0xff
          if (ver == 0 && mhs + 16 <= p.length) Some(be32(mhs + 12).toInt)
          else if (ver == 1 && mhs + 24 <= p.length) Some(be32(mhs + 20).toInt)
          else None
        }
        if timescale > 0
        sizes <- {
          // stsz: version/flags, sample_size, sample_count[, entries]
          if (szs + 12 > sze) None
          else {
            val fixed = be32(szs + 4)
            val n = be32(szs + 8)
            // a fixed-size stsz has no entry table to bound n against, so
            // bound it by the payload itself — a count exceeding the byte
            // length is corrupt and must not drive the allocation below
            if (n < 0 || n > math.max(p.length.toLong, 1L)) None
            else if (fixed != 0) Some(Array.fill(n.toInt)(fixed))
            else if (szs + 12 + 4L * n > sze) None
            else Some(Array.tabulate(n.toInt)(i => be32(szs + 12 + 4L * i)))
          }
        }
        durations <- {
          // stts: version/flags, entry_count, (sample_count, delta)*
          if (tts + 8 > tte) None
          else {
            val entries = be32(tts + 4)
            if (tts + 8 + 8L * entries > tte) None
            else {
              val out = Array.ofDim[Long](sizes.length)
              var i = 0
              var e = 0L
              while (e < entries && i < out.length) {
                val cnt = be32(tts + 8 + 8 * e)
                val delta = be32(tts + 12 + 8 * e)
                var c = 0L
                while (c < cnt && i < out.length) { out(i) = delta; i += 1; c += 1 }
                e += 1
              }
              if (i == out.length) Some(out) else None // stts under-covers stsz
            }
          }
        }
      } yield {
        val sync = findBox(p, sbs, sbe, "stss").flatMap { case (sss, sse) =>
          if (sss + 8 > sse) None
          else {
            val n = be32(sss + 4)
            if (sss + 8 + 4L * n > sse) None
            else Some(Array.tabulate(n.toInt)(i => be32(sss + 8 + 4L * i)).toSet)
          }
        }
        Mp4Samples(timescale, sizes, durations, sync)
      }
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** One row per MP4 sample, from the REAL `stbl` parse — the
    * header-only half of frame sampling (what to decode, when, how many
    * bytes) that a production pipeline uses to schedule codec work and
    * that filtering/budgeting stages consume directly:
    *
    *   (idCol, sample_no [1-based], size_bytes, duration_ticks,
    *    dts_ticks [sum of prior durations], time_ms, keyframe)
    *
    * Payloads that don't parse emit ZERO rows (the op is a sample
    * enumerator, not a validator — pair with [[decodeVideo]]'s stub
    * marker to audit unparseable payloads). Narrow mapPartitions;
    * payloads never shuffle. Replaces the former frameSampleStub: the
    * emitted schedule is now read from the container, not invented.
    */
  def decodeVideoSamples(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("sample_no", LongType),
      StructField("size_bytes", LongType),
      StructField("duration_ticks", LongType),
      StructField("dts_ticks", LongType),
      StructField("time_ms", DoubleType),
      StructField("keyframe", BooleanType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val payload = if (raw == null) Array.emptyByteArray else raw
        parseMp4SampleTable(payload).toSeq.flatMap { s =>
          var dts = 0L
          (0 until s.sizes.length).map { i =>
            val no = i + 1L
            val row = Row(r.get(idIdx), no, s.sizes(i), s.durations(i), dts,
              dts * 1000.0 / s.timescale,
              s.syncSamples.forall(_.contains(no)))
            dts += s.durations(i)
            row
          }
        }
      }
    }(enc)
  }

  /** Keyframe-aligned frame sampling from the real sample tables: every
    * `every`-th sample per payload, up to `maxFrames` — the decode
    * schedule a production sampler hands to the codec stage. Pure
    * DataFrame tail over [[decodeVideoSamples]] (window-free: the sample
    * enumeration is already per-payload ordered by construction).
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   maxFrames: Int, every: Int): DataFrame =
    decodeVideoSamples(df, idCol, payloadCol)
      .filter((col("sample_no") - 1) % every === 0 &&
        (col("sample_no") - 1) / every < maxFrames)
      .withColumn("frame_no", ((col("sample_no") - 1) / every).cast(IntegerType))

  /** Minimal MP4 with REAL sample tables (fixture half of the
    * `q_mm_mp4_samples` gate): ftyp + moov{mvhd, trak{mdia{mdhd,
    * minf{stbl{stsz,stts,stss}}}}} + mdat carrying `data`. The tables
    * are arithmetic functions of `data.length` so an oracle can
    * recompute every emitted sample without parsing:
    *
    *   - samples: ceil(len / chunkBytes), sample i sized chunkBytes
    *     except a short last chunk (per-entry stsz, sample_size = 0);
    *   - durations: 100 ticks each, except the LAST sample at
    *     100 + len % 100 (two-entry stts — exercises run-length
    *     expansion);
    *   - keyframes: samples 1, 1+keyEvery, 1+2·keyEvery, … (stss).
    */
  def mp4PayloadWithSamples(data: Array[Byte], timescale: Int = 600,
                            chunkBytes: Int = 64, keyEvery: Int = 5): Array[Byte] = {
    val len = data.length
    val n = (len + chunkBytes - 1) / chunkBytes
    val lastDur = 100 + len % 100
    val sttsEntries: Seq[(Int, Int)] =
      if (n == 0) Seq.empty
      else if (n == 1) Seq(1 -> lastDur)
      else Seq((n - 1) -> 100, 1 -> lastDur)
    val syncs = (1 to n by keyEvery).toSeq
    val stszSz = 8 + 12 + 4 * n
    val sttsSz = 8 + 8 + 8 * sttsEntries.length
    val stssSz = 8 + 8 + 4 * syncs.length
    val stblSz = 8 + stszSz + sttsSz + stssSz
    val minfSz = 8 + stblSz
    val mdhdSz = 8 + 24 // v0: ver/flags, ctime, mtime, timescale, duration, lang+pre
    val mdiaSz = 8 + mdhdSz + minfSz
    val trakSz = 8 + mdiaSz
    val mvhdSz = 8 + 4 + 96
    val moovSz = 8 + mvhdSz + trakSz
    val bb = java.nio.ByteBuffer.allocate(20 + moovSz + 8 + len) // BE by default
    bb.putInt(20).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0).put("isom".getBytes("US-ASCII"))
    bb.putInt(moovSz).put("moov".getBytes("US-ASCII"))
    bb.putInt(mvhdSz).put("mvhd".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(len)
    bb.position(bb.position() + 80)
    bb.putInt(trakSz).put("trak".getBytes("US-ASCII"))
    bb.putInt(mdiaSz).put("mdia".getBytes("US-ASCII"))
    bb.putInt(mdhdSz).put("mdhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // ctime, mtime
      .putInt(timescale).putInt(sttsEntries.map(e => e._1.toLong * e._2).sum.toInt)
      .putInt(0) // language + pre_defined
    bb.putInt(minfSz).put("minf".getBytes("US-ASCII"))
    bb.putInt(stblSz).put("stbl".getBytes("US-ASCII"))
    bb.putInt(stszSz).put("stsz".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(n) // ver/flags, sample_size=0 (per-entry), count
    (1 to n).foreach(i => bb.putInt(if (i * chunkBytes <= len) chunkBytes
                                    else len - (i - 1) * chunkBytes))
    bb.putInt(sttsSz).put("stts".getBytes("US-ASCII"))
      .putInt(0).putInt(sttsEntries.length)
    sttsEntries.foreach { case (c, d) => bb.putInt(c).putInt(d) }
    bb.putInt(stssSz).put("stss".getBytes("US-ASCII"))
      .putInt(0).putInt(syncs.length)
    syncs.foreach(bb.putInt)
    bb.putInt(8 + len).put("mdat".getBytes("US-ASCII")).put(data)
    bb.array()
  }

  /** Wrap a binary column in the sample-table MP4 envelope row-by-row
    * (fixture half of `q_mm_mp4_samples`; see [[mp4PayloadWithSamples]]).
    */
  def synthesizeMp4WithSamples(df: DataFrame, idCol: String, payloadCol: String,
                               timescale: Int = 600, chunkBytes: Int = 64,
                               keyEvery: Int = 5): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("payload", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](payloadIdx)
        val data = if (raw == null) Array.emptyByteArray else raw
        Row(r.get(idIdx), mp4PayloadWithSamples(data, timescale, chunkBytes, keyEvery))
      }
    }(enc)
  }
}
