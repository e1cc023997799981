package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata
  * (/root/reference/app_enhanced.py:621-692 extracts embedded images and
  * records their pixel dimensions). Raster image decode (PNG/JPEG/GIF)
  * is REAL — `javax.imageio.ImageIO` ships in the JDK, no external
  * codec jars needed — and so are the container METADATA walks: WAV
  * (`wavInfo`), AVI (`aviInfo`), WebP (`webpInfo`) RIFF chunk parsing
  * and the GIF block walk with frame count (`gifInfo`), all pure header
  * byte math. The image EMBEDDING is real too: `imageEmbed` computes an
  * 8×8 block-luminance feature (aHash family) off the decoded raster,
  * cosine-compatible with the `Similarity` ops; a vision model would
  * replace only the feature function, not the operator. Only
  * PIXEL/SAMPLE decode of codecs genuinely absent from this container
  * (video/audio payloads) remains a deterministic stub, clearly marked
  * below. Everything Spark-side — schema, batching,
  * partition-local iteration, output shape — is real and tested. At
  * scale this is the `mapPartitions`-with-batched-decoder pattern (the
  * Scala analog of Python's mapInPandas batches).
  */
object Multimodal {

  /** Typed feature row a real image decoder would emit. */
  final case class MediaFeatures(
      id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      embedding: Seq[Float])

  /** Container sniffing by magic bytes — this part is REAL (not stubbed):
    * PNG (89 50 4E 47), JPEG (FF D8 FF), GIF ("GIF8"), RIFF containers
    * ("RIFF" + format tag at offset 8: WAVE/AVI /WEBP), HTML ('<'). */
  def sniffFormat(bytes: Array[Byte]): String = {
    val n = if (bytes == null) 0 else bytes.length
    def at(i: Int): Int = if (i < n) bytes(i) & 0xff else -1
    def ascii(from: Int, s: String): Boolean =
      s.zipWithIndex.forall { case (c, i) => at(from + i) == c.toInt }
    if (n == 0) "empty"
    else if (at(0) == 0x89 && ascii(1, "PNG")) "png"
    else if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "jpeg"
    else if (ascii(0, "GIF8")) "gif"
    else if (ascii(0, "RIFF")) {
      if (ascii(8, "WAVE")) "wav"
      else if (ascii(8, "AVI ")) "avi"
      else if (ascii(8, "WEBP")) "webp"
      else "riff"
    } else if (at(0) == '<') "html"
    else "bin"
  }

  /** ==== STUB ==== deterministic fake decoder for NON-raster payloads:
    * the `format` column comes from REAL magic-byte sniffing
    * (sniffFormat); width/height/frames/embedding are pseudo-values
    * derived from the bytes. A production build replaces ONLY the pseudo
    * part with a real codec call; the operator around it is unchanged. */
  def stubDecode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = if (bytes == null) 0 else bytes.length
    def at(i: Int): Int = if (n == 0) 0 else bytes(((i % n) + n) % n) & 0xff
    val emb = (0 until 8).map(i => (at(i * 7) - 128) / 128.0f)
    MediaFeatures(id, n, sniffFormat(bytes), 16 + at(1) % 64, 16 + at(2) % 64, 1 + at(3) % 8, emb)
  }

  /** Decode one payload: REAL ImageIO dimensions for sniffed raster
    * formats (png/jpeg/gif — n_frames 1), stub pseudo-values for
    * everything else. For rasters whose dimensions divide by 8 the
    * embedding is the REAL block-luminance feature (`imageEmbed`); a
    * production build swaps that for a vision model in the same slot. */
  def decode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val stub0 = stubDecode(id, bytes)
    stub0.format match {
      case "png" | "jpeg" =>
        // ONE ImageIO decode serves both dims and the embedding (pixel
        // decode is the dominant cost here — never pay it twice)
        readImage(bytes) match {
          case Some(img) =>
            val withEmb = imageEmbedOf(img) match {
              case Some(e) => stub0.copy(embedding = e.toSeq)
              case None => stub0
            }
            withEmb.copy(width = img.getWidth, height = img.getHeight, n_frames = 1)
          case None => stub0 // corrupt/truncated raster: keep the fallback
        }
      case "gif" =>
        // real block walk: dims AND frame count (animated GIFs);
        // embedding off the ImageIO first-frame raster
        val withEmb = imageEmbed(bytes) match {
          case Some(e) => stub0.copy(embedding = e.toSeq)
          case None => stub0
        }
        gifInfo(bytes) match {
          case Some((w, h, f)) => withEmb.copy(width = w, height = h, n_frames = f)
          case None => withEmb
        }
      case "avi" =>
        aviInfo(bytes) match {
          case Some((w, h, f, _)) => stub0.copy(width = w, height = h, n_frames = f)
          case None => stub0
        }
      case "webp" =>
        webpInfo(bytes) match {
          case Some((w, h, _)) => stub0.copy(width = w, height = h, n_frames = 1)
          case None => stub0
        }
      case _ => stub0
    }
  }

  /** Batched partition-local decode: one decoder instance per partition,
    * rows streamed through it (no per-row setup cost; the real pattern
    * for codec handles / model sessions). */
  def decodeFeatures(spark: SparkSession, df: DataFrame, id: String, bin: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col(id).cast("long"), col(bin))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder setup would go here (ImageIO is
        // stateless; a codec-handle or model-session decoder would be
        // constructed once per partition at this point)
        rows.map { case (i, b) => decode(i, b) }
      }
  }

  /** REAL deterministic image embedding off the decoded raster (this
    * retires the former embedding stub for raster formats — reference
    * analog `/root/reference/src/vector_store.py:63-94`, which embeds
    * extracted images for similarity search): an 8×8 grid of block
    * luminance sums (sum of r+g+b per pixel, accumulated per cell) over
    * the `ImageIO`-decoded pixels — the aHash/pHash family of perceptual
    * features. Blocks are equal-sized, which requires dimensions
    * divisible by 8; other rasters return None (per-row failure
    * isolation, same policy as every decoder here). Because every block
    * holds the same pixel count, the sum vector equals the block-MEAN
    * vector times one global constant, so it is directly
    * cosine-compatible with the `Similarity` ops (cosine is
    * scale-invariant). The Float values are integer-EXACT by
    * construction: cells ≥ 2^24 (images past ~1184×1184) return None
    * instead of silently rounding (see [[imageEmbedOf]]), so DuckDB
    * oracles can always reproduce them with exact integer arithmetic;
    * [[aHash64]] works off the raw Long sums and has no size bound. */
  def imageEmbed(bytes: Array[Byte]): Option[Array[Float]] =
    readImage(bytes).flatMap(imageEmbedOf)

  /** One guarded ImageIO decode (None on unreadable/corrupt bytes). */
  def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length == 0) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img)
  }

  /** Exact Long cell sums for [[imageEmbed]]/[[aHash64]] — kept in
    * integer space so the average-hash compare never sees a rounded
    * value, whatever the image size. */
  private def blockLuminanceSums(img: java.awt.image.BufferedImage): Option[Array[Long]] = {
    val w = img.getWidth; val h = img.getHeight
    if (w % 8 != 0 || h % 8 != 0) return None
    val bw = w / 8; val bh = h / 8
    val sums = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = img.getRGB(x, y)
        sums((y / bh) * 8 + (x / bw)) +=
          ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
        x += 1
      }
      y += 1
    }
    Some(sums)
  }

  /** Float form of the cell sums, only when every cell is exactly
    * representable (< 2^24, i.e. blocks up to ~148×148 px — images to
    * ~1184×1184). Larger rasters return None rather than silently
    * rounding: the documented contract is that the embedding values are
    * integer-exact for the DuckDB oracles, and per-row isolation (not a
    * lossy value) is this module's failure policy. At deployment size a
    * vision model replaces this feature anyway. */
  def imageEmbedOf(img: java.awt.image.BufferedImage): Option[Array[Float]] =
    blockLuminanceSums(img).filter(_.forall(_ < (1L << 24))).map(_.map(_.toFloat))

  /** 64-bit average-hash fingerprint off the same 8×8 luminance grid:
    * bit c is set iff cell c is brighter than the image mean
    * (`64*sum(c) > total` — pure integer compare, no division). Near-dup
    * images differ in few bits (small Hamming distance); the packed
    * long is only ever XOR'd/popcounted, never order-compared, so the
    * sign bit (cell 63) is harmless. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    readImage(bytes).flatMap(blockLuminanceSums).map { sums =>
      // pure Long arithmetic off the raw cell sums — exact for ANY
      // image size, including rasters too large for the Float embedding
      val total = sums.sum
      var acc = 0L
      var i = 0
      while (i < 64) {
        if (64L * sums(i) > total) acc |= (1L << i)
        i += 1
      }
      acc
    }

  /** Batched partition-local embed (the `decodeFeatures` mapPartitions
    * shape): (id, 64-dim embedding) per decodable raster; undecodable
    * or non-8-divisible payloads are dropped. */
  def imageEmbedDf(spark: SparkSession, df: DataFrame, id: String, bin: String): DataFrame = {
    import spark.implicits._
    df.select(col(id).cast("long"), col(bin))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, b) => imageEmbed(b).map(e => (i, e)) })
      .toDF("id", "embedding")
  }

  /** Typed audio metadata a real WAV header parse emits. */
  final case class WavMeta(
      id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Int,
      duration_ms: Long)

  /** REAL WAV (RIFF/WAVE PCM) metadata decode — pure header byte math,
    * no codec needed: walks the chunk list, reads channels/sample-rate/
    * bit-depth from `fmt ` and frame count from `data` size. Returns
    * None for non-WAV or truncated bytes. */
  def wavInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 44 || sniffFormat(bytes) != "wav") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12 // past RIFF<size>WAVE
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var dataLen = -1
    while (pos + 8 <= bytes.length && (fmt.isEmpty || dataLen < 0)) {
      val cid = new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val clen = bb.getInt(pos + 4)
      if (clen < 0 || pos + 8 + clen > bytes.length) return None
      if (cid == "fmt " && clen >= 16)
        fmt = Some((bb.getShort(pos + 10).toInt, bb.getInt(pos + 12), bb.getShort(pos + 22).toInt))
      else if (cid == "data") dataLen = clen
      pos += 8 + clen + (clen & 1) // chunks are word-aligned
    }
    // block-align must be a whole positive byte count: sub-byte depths
    // (e.g. 4-bit IMA ADPCM) would make the divisor 0 and throw — this
    // parser only understands whole-byte PCM frames, so such rows are
    // None (dropped by wavFeatures), never a job-killing exception.
    fmt.collect {
      case (ch, rate, bits) if ch > 0 && rate > 0 && bits > 0 &&
          bits % 8 == 0 && dataLen >= 0 =>
        (ch, rate, bits, dataLen / (ch * bits / 8))
    }
  }

  /** Deterministic synthetic PCM-16 WAV (a REAL, spec-conformant RIFF
    * byte stream): header + sawtooth samples. Used by tests and the
    * `mm_wav_meta` driver query to close the encode→sniff→parse loop
    * with metadata an oracle predicts arithmetically. */
  def syntheticWav(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    val bits = 16
    val blockAlign = channels * bits / 8
    val dataLen = nFrames * blockAlign
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(channels.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * blockAlign)
    buf.putShort(blockAlign.toShort)
    buf.putShort(bits.toShort)
    buf.put("data".getBytes); buf.putInt(dataLen)
    var i = 0
    while (i < dataLen / 2) { buf.putShort(((i * 257) % 32768).toShort); i += 1 }
    buf.array
  }

  /** Batched partition-local WAV metadata extraction (same
    * mapPartitions shape as `decodeFeatures`); undecodable payloads are
    * dropped (per-row failure isolation). */
  def wavFeatures(spark: SparkSession, df: DataFrame, id: String, bin: String): Dataset[WavMeta] = {
    import spark.implicits._
    df.select(col(id).cast("long"), col(bin))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, b) =>
        wavInfo(b).map { case (ch, rate, bits, frames) =>
          WavMeta(i, rate, ch, bits, frames, frames * 1000L / rate)
        }
      })
  }

  /** Deterministic synthetic PNG (REAL encoder — `ImageIO.write`): a
    * seeded RGB gradient at the given dimensions. Used by tests and the
    * `mm_decode_real` driver query to close the loop encode→sniff→decode
    * with dimensions an oracle can predict arithmetically. */
  def syntheticPng(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, ((x * 31 + y * 17 + seed) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ------------------------------------------------ RIFF video/image
  private def asciiAt(bytes: Array[Byte], pos: Int, n: Int): String =
    if (pos + n > bytes.length) ""
    else new String(bytes, pos, n, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL AVI metadata decode — the same RIFF chunk walk as `wavInfo`,
    * one level deeper: the `avih` main header lives inside the `LIST
    * hdrl` sub-list. Emits (width, height, total_frames,
    * micros_per_frame); None for non-AVI/truncated bytes (per-row
    * failure isolation, like every decoder here). */
  def aviInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 24 || sniffFormat(bytes) != "avi") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val cid = asciiAt(bytes, pos, 4)
      val clen = bb.getInt(pos + 4)
      if (clen < 0 || pos + 8 + clen > bytes.length) return None
      if (cid == "LIST" && clen >= 4 && asciiAt(bytes, pos + 8, 4) == "hdrl") {
        var sp = pos + 12
        val end = pos + 8 + clen
        while (sp + 8 <= end) {
          val sid = asciiAt(bytes, sp, 4)
          val slen = bb.getInt(sp + 4)
          if (slen < 0 || sp + 8 + slen > end) return None
          if (sid == "avih" && slen >= 40) {
            val d = sp + 8
            return Some((bb.getInt(d + 32), bb.getInt(d + 36),
              bb.getInt(d + 16), bb.getInt(d)))
          }
          sp += 8 + slen + (slen & 1)
        }
      }
      pos += 8 + clen + (clen & 1)
    }
    None
  }

  /** REAL WebP dimension decode — RIFF chunk walk over the three header
    * variants: `VP8 ` (lossy: 14-bit dims after the 9D 01 2A start
    * code), `VP8L` (lossless: 2F signature then 14-bit-1 packed dims),
    * `VP8X` (extended: 24-bit-1 canvas dims). Emits (width, height,
    * variant); None otherwise. */
  def webpInfo(bytes: Array[Byte]): Option[(Int, Int, String)] = {
    if (bytes == null || bytes.length < 20 || sniffFormat(bytes) != "webp") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u24(i: Int): Int = u16(i) | (u8(i + 2) << 16)
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val cid = asciiAt(bytes, pos, 4)
      val clen = bb.getInt(pos + 4)
      if (clen < 0 || pos + 8 + clen > bytes.length) return None
      val d = pos + 8
      cid match {
        case "VP8 " if clen >= 10 &&
            u8(d + 3) == 0x9d && u8(d + 4) == 0x01 && u8(d + 5) == 0x2a =>
          return Some((u16(d + 6) & 0x3fff, u16(d + 8) & 0x3fff, "vp8"))
        case "VP8L" if clen >= 5 && u8(d) == 0x2f =>
          val bits = u16(d + 1) | (u16(d + 3) << 16)
          return Some(((bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1, "vp8l"))
        case "VP8X" if clen >= 10 =>
          return Some((u24(d + 4) + 1, u24(d + 7) + 1, "vp8x"))
        case _ =>
      }
      pos += 8 + clen + (clen & 1)
    }
    None
  }

  /** REAL GIF header + block walk: logical-screen dims and the FRAME
    * COUNT (number of 0x2C image descriptors), skipping color tables,
    * extension blocks and LZW data sub-blocks by their declared lengths.
    * None for non-GIF/truncated bytes. */
  def gifInfo(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 13 || sniffFormat(bytes) != "gif") return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val w = u16(6)
    val h = u16(8)
    val gctFlag = (u8(10) & 0x80) != 0
    val gctSize = if (gctFlag) 3 * (1 << ((u8(10) & 0x07) + 1)) else 0
    var pos = 13 + gctSize
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (pos < bytes.length && u8(pos) != 0) {
        pos += 1 + u8(pos)
        if (pos > bytes.length) return false
      }
      if (pos >= bytes.length) return false
      pos += 1 // block terminator
      true
    }
    while (pos < bytes.length) {
      u8(pos) match {
        case 0x2c => // image descriptor
          if (pos + 10 > bytes.length) return None
          val lctFlag = (u8(pos + 9) & 0x80) != 0
          val lctSize = if (lctFlag) 3 * (1 << ((u8(pos + 9) & 0x07) + 1)) else 0
          pos += 10 + lctSize
          if (pos >= bytes.length) return None
          pos += 1 // LZW min code size
          if (!skipSubBlocks()) return None
          frames += 1
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          if (!skipSubBlocks()) return None
        case 0x3b => return Some((w, h, frames)) // trailer
        case _ => return None
      }
    }
    Some((w, h, frames))
  }

  /** Deterministic synthetic AVI (REAL, spec-conformant container): RIFF
    * `AVI ` with a `LIST hdrl` holding a 56-byte `avih` main header and
    * an empty `LIST movi`. Parsers read the header; no codec payload is
    * needed to test the metadata walk. */
  def syntheticAvi(width: Int, height: Int, nFrames: Int, usPerFrame: Int): Array[Byte] = {
    val avih = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
    avih.putInt(nFrames).putInt(0).putInt(1).putInt(0)
    avih.putInt(width).putInt(height)
    val hdrlData = "hdrl".getBytes ++ "avih".getBytes ++
      le32(56) ++ avih.array()
    val moviData = "movi".getBytes
    val body = "AVI ".getBytes ++
      "LIST".getBytes ++ le32(hdrlData.length) ++ hdrlData ++
      "LIST".getBytes ++ le32(moviData.length) ++ moviData
    "RIFF".getBytes ++ le32(body.length) ++ body
  }

  /** Deterministic synthetic lossless WebP header (REAL byte layout):
    * RIFF `WEBP` + `VP8L` signature with the 14-bit packed dims. */
  def syntheticWebp(width: Int, height: Int): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384)
    val bits = (width - 1) | ((height - 1) << 14)
    val vp8l = Array(0x2f.toByte) ++ le32(bits)
    val body = "WEBP".getBytes ++ "VP8L".getBytes ++ le32(vp8l.length) ++ vp8l ++
      Array[Byte](0) // word padding
    "RIFF".getBytes ++ le32(body.length) ++ body
  }

  private def le32(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(v).array()

  /** Deterministic synthetic ANIMATED GIF via the JDK's ImageIO sequence
    * writer — a real multi-frame GIF byte stream whose frame count the
    * `gifInfo` block walk must recover. */
  def syntheticGif(width: Int, height: Int, nFrames: Int, seed: Long): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until nFrames).foreach { f =>
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, ((x * 31 + y * 17 + f * 101 + seed) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Byte-level "frame sampling": every strideBytes-th byte, first
    * nFrames — the slicing/batching skeleton of video frame extraction,
    * expressed as pure column ops (engine-portable, oracle-checkable). */
  def frameSample(df: DataFrame, id: String, text: String,
      nFrames: Int = 5, strideBytes: Int = 100): DataFrame = {
    val samples = (0 until nFrames).map { f =>
      substring(col(text), f * strideBytes + 1, 1)
    }
    df.select(col(id),
      octet_length(col(text)).as("n_bytes"),
      ascii(substring(col(text), 1, 1)).as("head_byte"),
      md5(col(text)).as("content_md5"),
      concat_ws("", samples: _*).as("frame_sample"))
  }
}
