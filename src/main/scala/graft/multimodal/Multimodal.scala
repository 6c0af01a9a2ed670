package graft.multimodal

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines (extension
  * beyond the reference surface — SURVEY §7.2 step 8).
  *
  * Media ride as opaque `binary` columns with a typed metadata struct;
  * every per-row transform (decode, feature-extract, hash, re-encode)
  * is one column over `content` ([[fromContent]]), so it composes
  * with `select`/`withColumn` on batch and streaming frames alike.
  *
  * Three tiers of "decode":
  *   - HEADER SNIFFING is REAL: container formats carry their geometry
  *     in plain bytes, so `sniffMeta` parses PNG IHDR, JPEG SOFn
  *     markers, GIF logical-screen, RIFF/WAVE chunk headers, and ISO
  *     BMFF (MP4) mvhd/tkhd boxes ([[Mp4]]) with pure JVM byte
  *     arithmetic — no codec library involved.
  *   - PIXEL/SAMPLE decoding is REAL for uncompressed 24-bit BMP
  *     ([[decodeBmp]]), 8-bit non-interlaced PNG ([[decodePng]] —
  *     zlib inflate + scanline unfiltering), static GIF ([[decodeGif]]
  *     — hand-rolled LZW + de-interlacing), baseline JPEG ([[Jpeg]] —
  *     Huffman + dequant + IDCT + chroma upsampling), mono PCM 16-bit
  *     WAV ([[decodeWavPcm16]]) and mono IMA-ADPCM WAV ([[Adpcm]] — a
  *     real compressed codec), all pure JVM.
  *   - The rest (video FRAMES, perceptual-codec audio like MP3/AAC,
  *     progressive JPEG) are STUBBED with a deterministic fake; the
  *     Spark-side contract — schema, batch shape, partition sizing —
  *     is real and tested, so swapping in a real decoder is a
  *     one-function change.
  */
object Multimodal {

  /** media column convention: content binary + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)
    )), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = true),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /** REAL pixel decode for uncompressed 24-bit BMP (pure JVM: file
    * header, BITMAPINFOHEADER, bottom-up padded rows). Returns
    * (width, height, BGR bytes row-major top-down) or null when the
    * content is not an uncompressed 24-bit BMP. */
  private[graft] def decodeBmp(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    def le16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def le32(i: Int): Int = le16(i) | (le16(i + 2) << 16)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = le16(28)
    val compression = le32(30)
    // dimension caps keep every later product inside Int range, so a
    // crafted header can't overflow rowBytes/offsets into a crash —
    // the contract is return-null-on-anything-not-decodable
    if (bpp != 24 || compression != 0 ||
        dataOff < 54 || w <= 0 || h <= 0 || w > 32767 || h > 32767) return null
    val rowBytes = (w * 3 + 3) & ~3
    if (dataOff.toLong + rowBytes.toLong * h > b.length) return null
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      // BMP rows are stored bottom-up
      System.arraycopy(b, dataOff + (h - 1 - y) * rowBytes, out, y * w * 3, w * 3)
      y += 1
    }
    (w, h, out)
  }

  /** REAL pixel decode for 8-bit non-interlaced PNG (pure JVM — zlib
    * lives in `java.util.zip`): signature + IHDR validation, IDAT chunk
    * concatenation, Inflater, and per-scanline unfiltering (None/Sub/
    * Up/Average/Paeth). Gray, RGB and RGBA color types; palette,
    * 16-bit and interlaced images return null (the honest boundary —
    * same return-null-on-anything-not-decodable contract as
    * [[decodeBmp]]). Returns (width, height, BGR bytes row-major
    * top-down), the same buffer convention as the BMP path, so the
    * quadrant-mean featurizer is shared. */
  private[graft] def decodePng(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (b == null || b.length < 45) return null
    def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    if (!(u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a)) return null
    // IHDR must be the first chunk
    if (be32(8) != 13 || b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return null
    val w = be32(16).toInt
    val h = be32(20).toInt
    val depth = u8(24); val colorType = u8(25); val interlace = u8(28)
    if (depth != 8 || interlace != 0) return null
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 6 => 4; case _ => return null
    }
    // caps keep (stride+1)*h and w*h*3 inside Int range — a crafted
    // header can't overflow the buffers into a crash
    if (w <= 0 || h <= 0 || w > 32767 || h > 32767 ||
        (w.toLong * channels + 1) * h > 256 * 1024 * 1024) return null
    val idat = new java.io.ByteArrayOutputStream()
    var p = 33
    var sawEnd = false
    while (!sawEnd && p + 12 <= b.length) {
      val len = be32(p)
      if (len > b.length - p - 12) return null // truncated/corrupt chunk
      val t = new String(b, p + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (t == "IDAT") idat.write(b, p + 8, len.toInt)
      if (t == "IEND") sawEnd = true
      p += 12 + len.toInt
    }
    if (idat.size == 0) return null
    val stride = w * channels
    val rawLen = (stride + 1) * h
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, off, rawLen - off)
        // zero progress = truncated stream OR a preset-dictionary
        // (FDICT) request — either way undecodable, never spin
        if (n == 0) return null
        off += n
      }
      if (off < rawLen) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // unfilter in place (PNG filters operate on the raw channel bytes)
    val bpp = channels
    var y = 0
    while (y < h) {
      val rowStart = y * (stride + 1)
      val ft = raw(rowStart) & 0xff
      val cur = rowStart + 1
      val prev = cur - (stride + 1)
      ft match {
        case 0 => // None
        case 1 => // Sub
          var x = bpp
          while (x < stride) { raw(cur + x) = (raw(cur + x) + raw(cur + x - bpp)).toByte; x += 1 }
        case 2 => // Up
          if (y > 0) {
            var x = 0
            while (x < stride) { raw(cur + x) = (raw(cur + x) + raw(prev + x)).toByte; x += 1 }
          }
        case 3 => // Average
          var x = 0
          while (x < stride) {
            val a = if (x >= bpp) raw(cur + x - bpp) & 0xff else 0
            val up = if (y > 0) raw(prev + x) & 0xff else 0
            raw(cur + x) = (raw(cur + x) + ((a + up) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          var x = 0
          while (x < stride) {
            val a = if (x >= bpp) raw(cur + x - bpp) & 0xff else 0
            val up = if (y > 0) raw(prev + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) raw(prev + x - bpp) & 0xff else 0
            val pp = a + up - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - up); val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            raw(cur + x) = (raw(cur + x) + pred).toByte
            x += 1
          }
        case _ => return null
      }
      y += 1
    }
    // repack to the shared BGR top-down convention
    val out = new Array[Byte](w * h * 3)
    var i = 0
    var o = 0
    y = 0
    while (y < h) {
      i = y * (stride + 1) + 1
      var x = 0
      while (x < w) {
        if (channels == 1) {
          val g = raw(i); out(o) = g; out(o + 1) = g; out(o + 2) = g; i += 1
        } else {
          out(o) = raw(i + 2); out(o + 1) = raw(i + 1); out(o + 2) = raw(i)
          i += channels
        }
        o += 3
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** REAL pixel decode for static GIF (87a/89a, first frame) — pure
    * JVM LZW: header + logical screen + color tables, extension-block
    * skip, LSB-first variable-width code stream across sub-blocks,
    * prefix/suffix dictionary, and 4-pass de-interlacing. Returns
    * (frameWidth, frameHeight, BGR bytes row-major top-down) — the
    * shared featurizer convention — or null for corrupt/truncated
    * input (same contract as [[decodeBmp]]/[[decodePng]]). Animation
    * beyond the first frame and transparency are ignored: the consumer
    * is a feature extractor, not a renderer. */
  /** LZW-decode `n` GIF pixel indices starting at `p0` (positioned at
    * the min-code byte). Returns (indices, position after the data
    * sub-blocks incl. their terminator) or null on corruption —
    * prefix/suffix dictionary, LSB-first variable code width. */
  private def gifLzwIndices(b: Array[Byte], p0: Int, n: Int): (Array[Byte], Int) = {
    def u8(i: Int): Int = b(i) & 0xff
    var p = p0
    if (p >= b.length) return null
    val minCode = u8(p); p += 1
    if (minCode < 1 || minCode > 11) return null
    // concatenate the LZW sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var ok = true
    while (ok && p < b.length && u8(p) != 0) {
      val len = u8(p)
      if (p + 1 + len > b.length) ok = false
      else { data.write(b, p + 1, len); p += 1 + len }
    }
    if (!ok) return null
    if (p < b.length && u8(p) == 0) p += 1 // block terminator
    val bytes = data.toByteArray
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val indices = new Array[Byte](n)
    var dictSize = end + 1
    var codeSize = minCode + 1
    var prev = -1
    var bitPos = 0L
    var out = 0
    val totalBits = bytes.length.toLong * 8
    var done = false
    while (!done && out < n) {
      if (bitPos + codeSize > totalBits) { done = true }
      else {
        // read `codeSize` bits LSB-first
        var code = 0
        var got = 0
        while (got < codeSize) {
          val byteIdx = (bitPos >> 3).toInt
          val bit = (bytes(byteIdx) >> (bitPos & 7).toInt) & 1
          code |= bit << got
          bitPos += 1; got += 1
        }
        if (code == clear) {
          dictSize = end + 1; codeSize = minCode + 1; prev = -1
        } else if (code == end) done = true
        else if (code > dictSize || (code == dictSize && prev < 0)) return null
        else {
          // expand `code` (or prev+firstOf(prev) for the just-created code)
          var sp = 0
          var c = if (code == dictSize) prev else code
          if (code == dictSize) { stack(sp) = 0; sp += 1 } // placeholder, patched below
          while (c >= clear + 2) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          if (c >= clear) return null // chain must terminate at a root code
          stack(sp) = c.toByte; sp += 1
          val first = c.toByte
          if (code == dictSize) stack(0) = first
          // emit reversed
          var i = sp - 1
          while (i >= 0 && out < n) { indices(out) = stack(i); out += 1; i -= 1 }
          if (prev >= 0 && dictSize < 4096) {
            prefix(dictSize) = prev; suffix(dictSize) = first; dictSize += 1
            if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
      }
    }
    if (out < n) return null
    (indices, p)
  }

  /** Storage-row → display-row map: interlaced GIFs store rows in four
    * passes at strides 8,8,4,2 from rows 0,4,2,1. */
  private def gifRowOrder(h: Int, interlaced: Boolean): Array[Int] = {
    val rowOf = new Array[Int](h)
    if (interlaced) {
      var r = 0
      for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until h by step) {
        rowOf(r) = y; r += 1
      }
    } else {
      var y = 0
      while (y < h) { rowOf(y) = y; y += 1 }
    }
    rowOf
  }

  private[graft] def decodeGif(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (b == null || b.length < 13 ||
        b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    var p = 6
    val screenPacked = u8(p + 4)
    p += 7
    var globalTable: Array[Byte] = null
    if ((screenPacked & 0x80) != 0) {
      val sz = 3 * (1 << ((screenPacked & 7) + 1))
      if (p + sz > b.length) return null
      globalTable = java.util.Arrays.copyOfRange(b, p, p + sz)
      p += sz
    }
    // walk blocks to the first image descriptor
    while (p < b.length && u8(p) == 0x21) { // extension: label + sub-blocks
      p += 2
      while (p < b.length && u8(p) != 0) p += 1 + u8(p)
      p += 1
    }
    if (p + 10 > b.length || u8(p) != 0x2C) return null
    val w = le16(p + 5); val h = le16(p + 7)
    val imgPacked = u8(p + 9)
    p += 10
    if (w <= 0 || h <= 0 || w > 32767 || h > 32767 ||
        w.toLong * h * 3 > 256 * 1024 * 1024) return null
    var table = globalTable
    if ((imgPacked & 0x80) != 0) {
      val sz = 3 * (1 << ((imgPacked & 7) + 1))
      if (p + sz > b.length) return null
      table = java.util.Arrays.copyOfRange(b, p, p + sz)
      p += sz
    }
    if (table == null || p >= b.length) return null
    val lzw = gifLzwIndices(b, p, w * h)
    if (lzw == null) return null
    val indices = lzw._1
    val rowOf = gifRowOrder(h, (imgPacked & 0x40) != 0)
    val maxIdx = table.length / 3
    val outPx = new Array[Byte](w * h * 3)
    var r = 0
    while (r < h) {
      val y = rowOf(r)
      var x = 0
      while (x < w) {
        val idx = indices(r * w + x) & 0xff
        if (idx >= maxIdx) return null
        val o = (y * w + x) * 3
        outPx(o) = table(idx * 3 + 2)     // B
        outPx(o + 1) = table(idx * 3 + 1) // G
        outPx(o + 2) = table(idx * 3)     // R
        x += 1
      }
      r += 1
    }
    (w, h, outPx)
  }

  /** ANIMATED GIF decode: every frame composed onto the logical-screen
    * canvas with the GIF89a semantics a browser applies — sub-frame
    * offsets, transparency holes showing the prior state, and the
    * three disposal methods (leave / restore-to-background /
    * restore-to-previous). Returns (screenW, screenH, frames) where
    * each frame is (delayCs, full-canvas BGR) — the delay from its
    * Graphic Control Extension in centiseconds — or null when the
    * bytes are not a decodable GIF.
    *
    * Frame count is TRUNCATED, never rejected (the AVI MaxFrames
    * lesson): `maxFrames` caps indexing, and a memory budget derived
    * from the canvas size caps it further (composed frames are
    * full-canvas copies — 256 MB total, the same ceiling the still
    * decoders use). A GIF87a multi-image file composes too (no GCE:
    * zero delays, leave-in-place disposal). */
  private[graft] def decodeGifFrames(b: Array[Byte], maxFrames: Int = 10000):
      (Int, Int, Array[(Int, Array[Byte])]) = {
    if (b == null || b.length < 13 ||
        b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val sw = le16(6); val sh = le16(8)
    val screenPacked = u8(10); val bgIndex = u8(11)
    if (sw <= 0 || sh <= 0 || sw > 32767 || sh > 32767 ||
        sw.toLong * sh * 3 > 256 * 1024 * 1024) return null
    var p = 13
    var globalTable: Array[Byte] = null
    if ((screenPacked & 0x80) != 0) {
      val sz = 3 * (1 << ((screenPacked & 7) + 1))
      if (p + sz > b.length) return null
      globalTable = java.util.Arrays.copyOfRange(b, p, p + sz)
      p += sz
    }
    // background color: the screen descriptor's index into the global
    // table; black when absent (transparent regions show this)
    val (bgB, bgG, bgR) =
      if (globalTable != null && bgIndex < globalTable.length / 3)
        (globalTable(bgIndex * 3 + 2), globalTable(bgIndex * 3 + 1), globalTable(bgIndex * 3))
      else (0.toByte, 0.toByte, 0.toByte)
    def fillBg(px: Array[Byte], left: Int, top: Int, w: Int, h: Int): Unit = {
      var y = math.max(top, 0)
      val yEnd = math.min(top + h, sh)
      while (y < yEnd) {
        var x = math.max(left, 0)
        val xEnd = math.min(left + w, sw)
        while (x < xEnd) {
          val o = (y * sw + x) * 3
          px(o) = bgB; px(o + 1) = bgG; px(o + 2) = bgR
          x += 1
        }
        y += 1
      }
    }
    val canvas = new Array[Byte](sw * sh * 3)
    fillBg(canvas, 0, 0, sw, sh)
    // composed frames are full-canvas copies: budget the count by size
    val budget = math.max(1, (256L * 1024 * 1024 / (sw.toLong * sh * 3)).toInt)
    val cap = math.min(maxFrames, budget)
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    var delay = 0; var disposal = 0; var transIdx = -1
    var walk = true
    while (walk && p < b.length && frames.length < cap) {
      u8(p) match {
        case 0x3B => walk = false // trailer
        case 0x21 =>
          // extension; parse the Graphic Control label, skip the rest
          if (p + 7 < b.length && u8(p + 1) == 0xF9 && u8(p + 2) == 4) {
            val packed = u8(p + 3)
            disposal = (packed >> 2) & 7
            delay = le16(p + 4)
            transIdx = if ((packed & 1) != 0) u8(p + 6) else -1
          }
          p += 2
          while (p < b.length && u8(p) != 0) p += 1 + u8(p)
          p += 1
        case 0x2C =>
          if (p + 10 > b.length) return nullOrFrames(sw, sh, frames)
          val left = le16(p + 1); val top = le16(p + 3)
          val w = le16(p + 5); val h = le16(p + 7)
          val imgPacked = u8(p + 9)
          p += 10
          if (w <= 0 || h <= 0 || w > 32767 || h > 32767 ||
              w.toLong * h * 3 > 256 * 1024 * 1024)
            return nullOrFrames(sw, sh, frames)
          var table = globalTable
          if ((imgPacked & 0x80) != 0) {
            val sz = 3 * (1 << ((imgPacked & 7) + 1))
            if (p + sz > b.length) return nullOrFrames(sw, sh, frames)
            table = java.util.Arrays.copyOfRange(b, p, p + sz)
            p += sz
          }
          if (table == null) return nullOrFrames(sw, sh, frames)
          val lzw = gifLzwIndices(b, p, w * h)
          if (lzw == null) return nullOrFrames(sw, sh, frames)
          val indices = lzw._1
          p = lzw._2
          val rowOf = gifRowOrder(h, (imgPacked & 0x40) != 0)
          val maxIdx = table.length / 3
          val before = if (disposal == 3) canvas.clone() else null
          var r = 0
          while (r < h) {
            val y = top + rowOf(r)
            if (y >= 0 && y < sh) {
              var x = 0
              while (x < w) {
                val idx = indices(r * w + x) & 0xff
                if (idx != transIdx) {
                  if (idx >= maxIdx) return nullOrFrames(sw, sh, frames)
                  val cx = left + x
                  if (cx < sw) {
                    val o = (y * sw + cx) * 3
                    canvas(o) = table(idx * 3 + 2)     // B
                    canvas(o + 1) = table(idx * 3 + 1) // G
                    canvas(o + 2) = table(idx * 3)     // R
                  }
                }
                x += 1
              }
            }
            r += 1
          }
          frames += ((delay, canvas.clone()))
          disposal match {
            case 2 => fillBg(canvas, left, top, w, h)
            case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
            case _ => () // 0/1: leave in place
          }
          delay = 0; disposal = 0; transIdx = -1
        case _ => walk = false // unknown block: stop, keep what decoded
      }
    }
    if (frames.isEmpty) null else (sw, sh, frames.toArray)
  }

  /** Mid-file corruption keeps the frames already composed (truncate,
    * don't reject) — null only when NOTHING decoded. */
  private def nullOrFrames(sw: Int, sh: Int,
      frames: scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])])
      : (Int, Int, Array[(Int, Array[Byte])]) =
    if (frames.isEmpty) null else (sw, sh, frames.toArray)

  /** Cheap animation probe — image-descriptor count and total GCE
    * delay (centiseconds) from a structural walk that SKIPS the LZW
    * payload (no pixel work): the sniffer's duration source for
    * animated GIFs. Returns (0, 0) on non-GIF bytes. */
  private[graft] def gifAnimInfo(b: Array[Byte], maxFrames: Int = 10000): (Int, Long) = {
    if (b == null || b.length < 13 ||
        b(0) != 'G' || b(1) != 'I' || b(2) != 'F') return (0, 0L)
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    var p = 13
    val screenPacked = u8(10)
    if ((screenPacked & 0x80) != 0) {
      val sz = 3 * (1 << ((screenPacked & 7) + 1))
      if (p + sz > b.length) return (0, 0L)
      p += sz
    }
    var nFrames = 0
    var totalDelayCs = 0L
    var pendingDelay = 0
    var walk = true
    while (walk && p < b.length && nFrames < maxFrames) {
      u8(p) match {
        case 0x3B => walk = false
        case 0x21 =>
          if (p + 7 < b.length && u8(p + 1) == 0xF9 && u8(p + 2) == 4)
            pendingDelay = le16(p + 4)
          p += 2
          while (p < b.length && u8(p) != 0) p += 1 + u8(p)
          p += 1
        case 0x2C =>
          if (p + 10 > b.length) return (nFrames, totalDelayCs)
          val imgPacked = u8(p + 9)
          p += 10
          if ((imgPacked & 0x80) != 0) p += 3 * (1 << ((imgPacked & 7) + 1))
          p += 1 // min-code byte
          while (p < b.length && u8(p) != 0) p += 1 + u8(p) // data sub-blocks
          p += 1
          nFrames += 1
          totalDelayCs += pendingDelay
          pendingDelay = 0
        case _ => walk = false
      }
    }
    (nFrames, totalDelayCs)
  }

  /** Real feature for decodable images: per-quadrant mean B,G,R in
    * [0,1] (2×2 grid × 3 channels = 12 dims), truncated or zero-padded
    * to `dim` — an honest tiny visual descriptor. */
  private[graft] def bmpQuadrantMeans(w: Int, h: Int, px: Array[Byte], dim: Int): Array[Float] = {
    val sums = new Array[Double](12)
    val counts = new Array[Long](12)
    var y = 0
    while (y < h) {
      val qy = if (y < h / 2 || h == 1) 0 else 1
      var x = 0
      while (x < w) {
        val qx = if (x < w / 2 || w == 1) 0 else 1
        val base = (qy * 2 + qx) * 3
        val p = (y * w + x) * 3
        var c = 0
        while (c < 3) {
          sums(base + c) += (px(p + c) & 0xff) / 255.0
          counts(base + c) += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Array.tabulate(dim)(i =>
      if (i < 12 && counts(i) > 0) (sums(i) / counts(i)).toFloat else 0.0f)
  }

  private def wavLe16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def wavLe32(b: Array[Byte], i: Int): Long =
    wavLe16(b, i).toLong | (wavLe16(b, i + 2).toLong << 16)

  /** True when `b` carries the RIFF/WAVE magic (caller must have
    * checked length >= 12). */
  private def isWave(b: Array[Byte]): Boolean =
    b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** RIFF/WAVE chunk walk shared by the sniffer and the sample decoders
    * (ONE copy of the padded-size advance and the unsigned-size spin
    * guard): returns (fmtOff, fmtSize, dataOff, dataSize, factSamples)
    * — offsets of each chunk's PAYLOAD, -1 when absent; factSamples is
    * the `fact` chunk's frame count (-1 when absent), which compressed
    * formats need to know where the final block's padding starts.
    * Chunk sizes stay in Long so a corrupt >= 2^31 size can't truncate
    * to a non-positive step and spin the walk forever. */
  private def wavChunks(b: Array[Byte]): (Int, Long, Int, Long, Long) = {
    var i = 12
    var fmtOff = -1; var fmtSz = 0L
    var dataOff = -1; var dataSz = -1L
    var factSamples = -1L
    var walk = true
    while (walk && i + 8 <= b.length) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = wavLe32(b, i + 4)
      if (id == "fmt " && fmtOff < 0) { fmtOff = i + 8; fmtSz = sz }
      if (id == "data" && dataOff < 0) { dataOff = i + 8; dataSz = sz }
      if (id == "fact" && factSamples < 0 && sz >= 4 && i + 12 <= b.length)
        factSamples = wavLe32(b, i + 8)
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) walk = false else i = next.toInt
    }
    (fmtOff, fmtSz, dataOff, dataSz, factSamples)
  }

  /** REAL sample decode for MONO PCM 16-bit WAV — pure JVM; the data
    * chunk is plain little-endian shorts, no codec involved. Returns
    * (sampleRate, samples) or null for compressed/non-16-bit/
    * multichannel/corrupt input (interleaved stereo would make the
    * zero-crossing feature count inter-channel flips — refusing is the
    * honest boundary). The fmt chunk must DECLARE at least the 16
    * standard bytes — a short fmt chunk must not be padded out with the
    * next chunk's bytes. A data chunk claiming more bytes than the
    * buffer holds is truncated to what is present (clipped files). */
  private[graft] def decodeWavPcm16(b: Array[Byte]): (Int, Array[Short]) = {
    if (b == null || b.length < 44 || !isWave(b)) return null
    val (fmtOff, fmtSz, dataOff, dataSz, _) = wavChunks(b)
    decodePcm16Chunks(b, fmtOff, fmtSz, dataOff, dataSz)
  }

  private def decodePcm16Chunks(b: Array[Byte], fmtOff: Int, fmtSz: Long,
                                dataOff: Int, dataSz: Long): (Int, Array[Short]) = {
    if (fmtOff < 0 || fmtSz < 16 || fmtOff + 16 > b.length || dataOff < 0)
      return null
    val fmtOk = wavLe16(b, fmtOff) == 1 &&      // PCM
      wavLe16(b, fmtOff + 2) == 1 &&            // mono
      wavLe16(b, fmtOff + 14) == 16             // 16-bit
    val rate = wavLe32(b, fmtOff + 4).toInt
    if (!fmtOk || rate <= 0) return null
    val avail = (math.min(dataSz, (b.length - dataOff).toLong).toInt) & ~1
    val n = math.max(avail, 0) / 2
    val out = new Array[Short](n)
    var j = 0
    while (j < n) {
      out(j) = ((b(dataOff + 2 * j) & 0xff) | (b(dataOff + 2 * j + 1) << 8)).toShort
      j += 1
    }
    (rate, out)
  }

  /** ITU-T G.711 µ-law expansion (the CCITT reference decoder in code
    * form): 8-bit companded code → linear sample. Exact by definition —
    * the table IS the standard. 0xFF (µ-law silence) → 0. */
  private[graft] def mulawToLinear(code: Int): Short = {
    val c = ~code & 0xff
    val t = (((c & 0x0f) << 3) + 0x84) << ((c & 0x70) >> 4)
    (if ((c & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** ITU-T G.711 A-law expansion. After the 0x55 toggle the sign bit
    * SET means positive (the inverse convention to µ-law). 0x55
    * (A-law silence) → −8. */
  private[graft] def alawToLinear(code: Int): Short = {
    val c = (code ^ 0x55) & 0xff
    val seg = (c & 0x70) >> 4
    var t = (c & 0x0f) << 4
    if (seg == 0) t += 8 else { t += 0x108; t <<= seg - 1 }
    (if ((c & 0x80) != 0) t else -t).toShort
  }

  /** General uncompressed-family WAV decode: PCM 8 (unsigned) / 16 /
    * 24 / 32-bit, IEEE float32, G.711 A-law/µ-law — mono or
    * multichannel (channels averaged to mono with half-up rounding, so
    * a stereo file whose channels duplicate a mono master decodes to
    * EXACTLY the master; averaging is the deterministic mixdown every
    * downstream feature sees). Wider-than-16 samples keep their top 16
    * bits; float clamps to [−1, 1] then scales by 32767. Returns
    * (sampleRate, samples) or null on anything else. */
  private def decodePcmFamily(b: Array[Byte], fmtOff: Int, fmtSz: Long,
                              dataOff: Int, dataSz: Long): (Int, Array[Short]) = {
    if (fmtOff < 0 || fmtSz < 16 || fmtOff + 16 > b.length || dataOff < 0)
      return null
    val tag = wavLe16(b, fmtOff)
    val ch = wavLe16(b, fmtOff + 2)
    val rate = wavLe32(b, fmtOff + 4).toInt
    val bits = wavLe16(b, fmtOff + 14)
    if (ch < 1 || ch > 64 || rate <= 0) return null
    // one sample reader resolved OUTSIDE the hot loop
    val read: Int => Int = (tag, bits) match {
      case (1, 8)  => off => ((b(off) & 0xff) - 128) << 8
      case (1, 16) => off => (b(off) & 0xff) | (b(off + 1) << 8)
      case (1, 24) => off => (b(off + 1) & 0xff) | (b(off + 2) << 8)
      case (1, 32) => off => (b(off + 2) & 0xff) | (b(off + 3) << 8)
      case (3, 32) => off =>
        val f = java.lang.Float.intBitsToFloat(
          (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
            ((b(off + 2) & 0xff) << 16) | (b(off + 3) << 24))
        val c = if (f.isNaN) 0f else math.max(-1f, math.min(1f, f))
        math.round(c * 32767f)
      case (6, 8)  => off => alawToLinear(b(off) & 0xff)
      case (7, 8)  => off => mulawToLinear(b(off) & 0xff)
      case _       => null
    }
    if (read == null) return null
    val bytesPer = bits / 8
    val frameBytes = bytesPer * ch
    val avail = math.min(dataSz, (b.length - dataOff).toLong)
    val nFrames = (math.max(avail, 0L) / frameBytes).toInt
    val out = new Array[Short](nFrames)
    var f = 0
    while (f < nFrames) {
      var sum = 0L
      var c = 0
      while (c < ch) {
        sum += read(dataOff + f * frameBytes + c * bytesPer)
        c += 1
      }
      out(f) = Math.floorDiv(sum + ch / 2, ch).toShort
      f += 1
    }
    (rate, out)
  }

  /** One chunk walk, then dispatch on the fmt tag: the uncompressed
    * family (PCM 8/16/24/32, float32, G.711 A-law/µ-law — mono or
    * channel-averaged multichannel) or IMA-ADPCM samples, null for
    * anything else — the decoder the feature path calls, so an
    * unsupported row never pays the walk twice. */
  private[graft] def decodeWavSamples(b: Array[Byte]): (Int, Array[Short]) = {
    if (b == null || b.length < 44 || !isWave(b)) return null
    val (fmtOff, fmtSz, dataOff, dataSz, factSamples) = wavChunks(b)
    if (fmtOff < 0 || fmtSz < 2 || fmtOff + 2 > b.length) return null
    wavLe16(b, fmtOff) match {
      case 0x0011 => Adpcm.decodeWavIma(b, fmtOff, fmtSz, dataOff, dataSz, factSamples)
      case _      => decodePcmFamily(b, fmtOff, fmtSz, dataOff, dataSz)
    }
  }

  /** CODEC-GENERAL audio sample decode — the dispatch every
    * downstream audio consumer (fingerprint, featurizer, gain/rate
    * transforms) calls: RIFF/WAVE family (PCM 8/16/24/32, float32,
    * G.711, IMA-ADPCM) or FLAC ([[Flac.decode]] — all subframe
    * types, Rice residuals, stereo decorrelation, CRC-verified).
    * FLAC being LOSSLESS, the same master decodes to IDENTICAL
    * samples from either container, so [[audioFingerprint64]] is
    * bit-equal across the WAV↔FLAC re-encode — the cross-codec
    * near-dup case an archival audio corpus actually hits. Returns
    * (sampleRate, monoSamples) or null for undecodable bytes. */
  private[graft] def decodeAudioSamples(b: Array[Byte]): (Int, Array[Short]) = {
    if (b == null || b.length < 42) return null
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') Flac.decode(b)
    else decodeWavSamples(b)
  }

  /** REAL sample decode for mono IMA-ADPCM WAV (format tag 0x0011) —
    * a genuinely compressed audio codec, decoded pure-JVM (see
    * [[Adpcm]]). Returns (sampleRate, samples) or null when the
    * content is anything else. */
  private[graft] def decodeWavAdpcm(b: Array[Byte]): (Int, Array[Short]) = {
    if (b == null || b.length < 44 || !isWave(b)) return null
    val (fmtOff, fmtSz, dataOff, dataSz, factSamples) = wavChunks(b)
    Adpcm.decodeWavIma(b, fmtOff, fmtSz, dataOff, dataSz, factSamples)
  }

  /** Real audio feature: per-quarter RMS (of full-scale-normalized
    * samples) and zero-crossing ratio — 4 × 2 = 8 dims, truncated or
    * zero-padded to `dim`. The audio counterpart of the image
    * quadrant means: tiny, honest, deterministic. */
  private[graft] def wavQuarterFeatures(samples: Array[Short], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (samples.isEmpty) return out
    val q = math.max(1, samples.length / 4)
    var blk = 0
    while (blk < 4) {
      val start = blk * q
      val end = if (blk == 3) samples.length else math.min(samples.length, start + q)
      if (start < samples.length) {
        var ss = 0.0
        var zc = 0
        var i = start
        while (i < end) {
          val v = samples(i) / 32768.0
          ss += v * v
          if (i > start && (samples(i) ^ samples(i - 1)) < 0) zc += 1
          i += 1
        }
        val len = math.max(1, end - start)
        if (blk * 2 < dim) out(blk * 2) = math.sqrt(ss / len).toFloat
        if (blk * 2 + 1 < dim) out(blk * 2 + 1) = zc.toFloat / len
      }
      blk += 1
    }
    out
  }

  /** STUB decoder — deterministic fake "embedding" derived from the
    * bytes, used for the formats whose SAMPLE decode is formally
    * scoped OUT of this pure-JVM library: perceptual audio (MP3/AAC —
    * [[Mp3]] walks their frame headers for real metadata, but
    * synthesizing samples needs a filterbank/MDCT codec) and
    * INTER-FRAME video codecs ([[Mp4]] reads container metadata only;
    * MJPEG-in-AVI frame decode is REAL via [[Avi]] + [[Jpeg]] and
    * never reaches this stub). Contract:
    * same signature and determinism as the real decoders, so swapping
    * in a codec binding (javax.imageio, ffmpeg JNI) changes no
    * pipeline shape, schema, or partitioning — only the feature
    * VALUES. Everything else (baseline AND progressive JPEG, PNG,
    * GIF, BMP, PCM + IMA-ADPCM WAV) takes a real decode path and
    * never reaches this stub. */
  private[multimodal] def fakeDecodeFeature(bytes: Array[Byte], dim: Int): Array[Float] = {
    if (bytes == null) return null
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    var j = 0
    while (j < dim) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(j) = (h & 0xFFFF).toFloat / 65535.0f
      j += 1
    }
    out
  }

  /** A per-row media transform as a column: `f` of the `content`
    * bytes (null content passes in as null), called once per row and
    * shown as `name` in plans and errors. Non-deterministic so the
    * optimizer never copies the call into a filter on its result
    * (predicate pushdown would decode every row of
    * `.filter(col(out).isNotNull)` twice); like the `mapPartitions` it
    * stands for, no predicate moves below it. */
  private def fromContent[T: TypeTag](name: String)(f: Array[Byte] => T): Column =
    udf(f).withName(name).asNondeterministic()(col("content"))

  /** `content`'s byte count, null for null content. */
  private def nBytes: Column = length(col("content")).cast(LongType).as("n_bytes")

  /** The `feature` of one payload: BMP, PNG, GIF, baseline+progressive
    * JPEG and MJPEG AVI (frame 0) get per-quadrant pixel means, the
    * decodable audio codecs RMS+zero-crossing features, the scoped-out
    * formats the deterministic stub; null for null bytes. */
  private[graft] def mediaFeature(bytes: Array[Byte], dim: Int): Array[Float] =
    if (bytes == null) null
    else decodeImage(bytes) match {
      case (w, h, px) => bmpQuadrantMeans(w, h, px, dim)
      case null => decodeAudioSamples(bytes) match {
        case (_, samples) => wavQuarterFeatures(samples, dim)
        case null =>
          // REAL video-frame features for MJPEG AVI: frame 0 is a
          // complete JPEG the image decoder handles
          val fr = Avi.frame(bytes, 0)
          (if (fr == null) null else decodeImage(fr)) match {
            case (w, h, px) => bmpQuadrantMeans(w, h, px, dim)
            case null       => fakeDecodeFeature(bytes, dim)
          }
      }
    }

  /** Decode + featurize media rows ([[mediaFeature]]) into the
    * [[featureSchema]] layout — a map-only projection. Binary-heavy
    * frames should be repartitioned by size beforehand
    * (`maxPartitionBytes` governs scan splits natively). */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame =
    media.select(col("media_id"), col("kind"), nBytes,
      // the UDF's array<float> promises non-null elements; featureSchema's doesn't
      fromContent("mediaFeature")(mediaFeature(_, dim))
        .cast(ArrayType(FloatType)).as("feature"))

  /** REAL container-header sniffing, pure JVM byte arithmetic:
    * PNG IHDR (big-endian dims at offsets 16/20), JPEG SOF0-2 marker
    * walk, GIF logical screen (little-endian), RIFF/WAVE chunk walk
    * (duration from data size / byte rate), and ISO BMFF (MP4/MOV) box
    * walk ([[Mp4.sniff]] — geometry from tkhd, duration from mvhd
    * timescale ticks). Unknown formats return nulls. Returns
    * (mime, width, height, durationMs). */
  private[graft] def sniffMeta(b: Array[Byte])
      : (String, Integer, Integer, java.lang.Long) = {
    if (b == null || b.length < 12) return (null, null, null, null)
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (b.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
      return ("image/png", Integer.valueOf(be32(16).toInt), Integer.valueOf(be32(20).toInt), null)
    if (u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      while (i + 9 < b.length && u8(i) == 0xFF) {
        val m = u8(i + 1)
        if (m >= 0xC0 && m <= 0xC2)
          return ("image/jpeg", Integer.valueOf(be16(i + 7)), Integer.valueOf(be16(i + 5)), null)
        if (m == 0xFF) i += 1 // fill byte before a marker (spec-legal padding)
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) i += 2 // standalone markers
        else {
          val len = be16(i + 2)
          if (len < 2) return ("image/jpeg", null, null, null) // corrupt length
          i += 2 + len
        }
      }
      return ("image/jpeg", null, null, null)
    }
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
      // animated GIFs (≥2 image descriptors) report their play time —
      // a structural walk, no pixel decode (see gifAnimInfo)
      val (nf, delayCs) = gifAnimInfo(b)
      val dur = if (nf >= 2) java.lang.Long.valueOf(delayCs * 10L) else null
      return ("image/gif", Integer.valueOf(le16(6)), Integer.valueOf(le16(8)), dur)
    }
    if (b.length >= 54 && b(0) == 'B' && b(1) == 'M')
      // biHeight < 0 is spec-legal (top-down row order) — report the
      // magnitude, not the sign convention
      return ("image/bmp", Integer.valueOf(le32(18).toInt),
        Integer.valueOf(math.abs(le32(22).toInt)), null)
    if (b.length >= 44 && isWave(b)) {
      val (fmtOff, fmtSz, dataOff, dataSz, _) = wavChunks(b)
      val byteRate =
        if (fmtOff >= 0 && fmtSz >= 16 && fmtOff + 12 <= b.length)
          wavLe32(b, fmtOff + 8)
        else 0L
      val dur =
        if (byteRate > 0 && dataOff >= 0 && dataSz >= 0)
          java.lang.Long.valueOf(dataSz * 1000 / byteRate)
        else null
      return ("audio/wav", null, null, dur)
    }
    // FLAC: 4-byte magic + mandatory STREAMINFO (duration from its
    // total-samples field) — see Flac.sniff
    val flac = Flac.sniff(b)
    if (flac != null) return flac
    // RIFF AVI (checked after RIFF/WAVE — both share the RIFF magic):
    // geometry/timing from avih, REAL for MJPEG payloads
    val avi = Avi.sniff(b)
    if (avi != null) return avi
    // ISO BMFF (MP4/QuickTime): geometry and duration live in plain
    // mvhd/tkhd boxes — real container metadata, no codec involved
    val mp4 = Mp4.sniff(b)
    if (mp4 != null) return mp4
    // MPEG audio LAST: it has no magic bytes, only an 11-bit sync, so
    // the walker demands Mp3.MinFrames chained frames before claiming
    // audio/mpeg (duration/bitrate from the real frame sequence)
    val mp3 = Mp3.sniff(b)
    if (mp3 != null) return mp3
    (null, null, null, null)
  }

  val sniffedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** FNV-1a 64-bit — stable path→id and pixel-digest hash. */
  private def fnv64Bytes(bs: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xff).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  private def fnv64(s: String): Long =
    fnv64Bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Ingest a directory tree of media files as a media frame via
    * Spark's `binaryFile` source (distributed file listing, pushdown
    * of `pathGlobFilter`, scan splitting by `maxPartitionBytes`-style
    * file packing): one row per file with the payload in `content`,
    * `kind` derived from the sniffed mime ("image"/"audio"/"video"/
    * "other"), and the typed metadata struct filled by the same
    * pure-JVM sniffers the synthetic path uses. `media_id` is a stable
    * 64-bit FNV-1a hash of the file path (reproducible across runs,
    * unlike zipWithIndex which depends on listing order; 64 bits keep
    * the birthday bound negligible at training-corpus file counts). */
  def readMediaDir(spark: org.apache.spark.sql.SparkSession, path: String,
                   glob: String = null): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val withGlob = if (glob != null) reader.option("pathGlobFilter", glob) else reader
    val enc = org.apache.spark.sql.Encoders.row(StructType(
      mediaSchema.fields :+ StructField("path", StringType, nullable = false)))
    withGlob.load(path).select(col("path"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val p = r.getAs[String]("path")
          val bytes = r.getAs[Array[Byte]]("content")
          val (mime, w, h, dur) = sniffMeta(bytes)
          val kind =
            if (mime == null) "other"
            else if (mime.startsWith("image/")) "image"
            else if (mime.startsWith("audio/")) "audio"
            else "video"
          Row(fnv64(p), kind, bytes, Row(mime, w, h, dur), p)
        }
      }(enc)
  }

  /** `names` bound to the fields of the struct column `struct`, in
    * order — how the projecting transforms spread one per-row result. */
  private def fieldsOf(struct: String, names: String*): Seq[Column] =
    names.zipWithIndex.map { case (n, i) => col(s"$struct._${i + 1}").as(n) }

  /** Parse container headers across a media frame ([[sniffMeta]]) into
    * the [[sniffedSchema]] layout — real metadata from the bytes
    * themselves, map-only. */
  def sniffMetadata(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), nBytes,
        fromContent("sniffMeta")(sniffMeta).as("__m"))
      .select(Seq(col("media_id"), col("kind"), col("n_bytes")) ++
        fieldsOf("__m", "mime", "width", "height", "duration_ms"): _*)

  /** Bilinear resample of a decoded BGR buffer (the shared decoder
    * output convention) — pure JVM, half-pixel-center mapping (the
    * standard align-corners=false convention: output pixel centers map
    * to (x+0.5)·sw/ow − 0.5), channels rounded half-up. An identity
    * resize (same dims) reproduces the input exactly. */
  private[graft] def bilinearResizeBgr(sw: Int, sh: Int, px: Array[Byte],
                                       ow: Int, oh: Int): Array[Byte] = {
    val out = new Array[Byte](ow * oh * 3)
    val xScale = sw.toDouble / ow
    val yScale = sh.toDouble / oh
    var y = 0
    while (y < oh) {
      val srcY = (y + 0.5) * yScale - 0.5
      val y0 = math.max(0, math.min(sh - 1, math.floor(srcY).toInt))
      val y1 = math.min(sh - 1, y0 + 1)
      val fy = math.max(0.0, math.min(1.0, srcY - y0))
      var x = 0
      while (x < ow) {
        val srcX = (x + 0.5) * xScale - 0.5
        val x0 = math.max(0, math.min(sw - 1, math.floor(srcX).toInt))
        val x1 = math.min(sw - 1, x0 + 1)
        val fx = math.max(0.0, math.min(1.0, srcX - x0))
        val o = (y * ow + x) * 3
        var c = 0
        while (c < 3) {
          val p00 = px((y0 * sw + x0) * 3 + c) & 0xff
          val p01 = px((y0 * sw + x1) * 3 + c) & 0xff
          val p10 = px((y1 * sw + x0) * 3 + c) & 0xff
          val p11 = px((y1 * sw + x1) * 3 + c) & 0xff
          val v = (p00 * (1 - fx) + p01 * fx) * (1 - fy) +
            (p10 * (1 - fx) + p11 * fx) * fy
          out(o + c) = math.floor(v + 0.5).toInt.max(0).min(255).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit difference hash (dHash) of a decodable image: decode →
    * BGR bilinear resample to 9×8 → ITU-R 601 grayscale → bit set
    * where a pixel is brighter than its RIGHT neighbor, row-major MSB
    * first. Gradient SIGNS survive re-encode, resize and brightness
    * shifts, so Hamming distance over this hash ranks near-duplicate
    * IMAGES the way SimHash ranks near-duplicate text — and plugs
    * straight into `graft.ml.Dedup.hammingPairs`' pigeonhole blocking.
    * Null for undecodable bytes. */
  private[graft] def dHash64(bytes: Array[Byte]): java.lang.Long = {
    val dec = decodeImage(bytes)
    if (dec == null) return null
    val (w, h, px) = dec
    if (w <= 0 || h <= 0) return null
    val small = bilinearResizeBgr(w, h, px, 9, 8)
    val gray = new Array[Double](72)
    var i = 0
    while (i < 72) {
      gray(i) = 0.114 * (small(i * 3) & 0xff) +
        0.587 * (small(i * 3 + 1) & 0xff) + 0.299 * (small(i * 3 + 2) & 0xff)
      i += 1
    }
    var hsh = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        hsh <<= 1
        if (gray(y * 9 + x) > gray(y * 9 + x + 1)) hsh |= 1L
        x += 1
      }
      y += 1
    }
    java.lang.Long.valueOf(hsh)
  }

  /** Append a `phash` column ([[dHash64]], null for undecodable rows)
    * to a media frame. Near-dup image pairs are then one
    * `Dedup.hammingPairs(out, "media_id", "phash", maxDist)` call. */
  def withPerceptualHash(media: DataFrame): DataFrame =
    media.withColumn("phash", fromContent("dHash64")(dHash64))

  /** Canonical time base for [[audioFingerprint64]]: every clip is
    * linearly resampled to this rate before the Goertzel pass, so the
    * SAME clip stored at different sample rates (8 k vs 16 k vs 44.1 k
    * PCM — the "different PCM encoding" ingest case) lands within the
    * dedup blocking window instead of hashing as unrelated content
    * (Goertzel band frequencies are normalized to the sample rate, so
    * un-canonicalized rates shifted every band). */
  private val CanonicalFpRate = 8000

  /** Linear-interpolation resample, exact rational index arithmetic
    * (k·from/to) — deterministic on any engine, no phase drift; an
    * empty clip resamples to an empty one. Output
    * in double so an exact power-of-two gain edit stays exactly scaled
    * through the resample (the fingerprint's bit-identity contract). */
  private[graft] def resampleLinear(samples: Array[Short], from: Int, to: Int): Array[Double] = {
    if (from == to || samples.isEmpty) return samples.map(_.toDouble)
    val outLen = math.max(1, (samples.length.toLong * to / from).toInt)
    val out = new Array[Double](outLen)
    var k = 0
    while (k < outLen) {
      val num = k.toLong * from
      val i0 = (num / to).toInt
      val frac = (num % to).toDouble / to
      val i1 = math.min(i0 + 1, samples.length - 1)
      out(k) = samples(i0) + frac * (samples(i1) - samples(i0))
      k += 1
    }
    out
  }

  /** 64-bit audio fingerprint of decodable audio (the WAV family,
    * IMA-ADPCM, or FLAC — [[decodeAudioSamples]]):
    * samples canonicalized to [[CanonicalFpRate]], then 17 equal
    * sample frames × 5 Goertzel band powers, one bit per
    * adjacent-band double-difference across consecutive frames
    * (16 × 4 = 64 bits):
    *   bit = (E[f][b] − E[f][b+1]) − (E[f−1][b] − E[f−1][b+1]) > 0
    * Double-differences of band powers are invariant under uniform
    * volume scaling (all powers scale by c²; for power-of-two sample
    * scaling the FP computation scales EXACTLY through the linear
    * resample, so the hash is bit-identical) — Hamming distance over
    * this hash ranks near-duplicate AUDIO the way dHash ranks images,
    * and plugs into `graft.ml.Dedup.hammingPairs`. The pinned dedup
    * contract covers GAIN-EDITED, re-wrapped, and RATE-CONVERTED
    * ingests of the same clip (distance ≤ ~2, vs ≥ ~16 for distinct
    * content — spec-measured). LOSSY re-encodes drift with codec SNR:
    * IMA-ADPCM at 44.1 kHz (~32 dB) lands inside the ≤ 7 pigeonhole
    * blocking window, at 16 kHz (~20 dB) ~12 bits out, and 8 kHz
    * full-band content is destroyed by the 4-bit quantizer (~29 bits
    * — out of scope, spec-pinned gradient). Null for undecodable
    * bytes or clips shorter than ~8 canonical samples per frame. */
  private[graft] def audioFingerprint64(bytes: Array[Byte]): java.lang.Long = {
    val dec = decodeAudioSamples(bytes)
    if (dec == null) return null
    val samples = resampleLinear(dec._2, dec._1, CanonicalFpRate)
    val nf = 17
    val nb = 5
    if (samples.length < nf * 8) return null
    val e = Array.ofDim[Double](nf, nb)
    var f = 0
    while (f < nf) {
      val start = (f.toLong * samples.length / nf).toInt
      val end = ((f + 1).toLong * samples.length / nf).toInt
      var b = 0
      while (b < nb) {
        // Goertzel power at normalized frequency (b+1)/(2(nb+1)),
        // AVERAGED over short sub-windows of the frame. One long
        // unwindowed Goertzel at a non-bin frequency measures mostly
        // phase-dependent spectral leakage — a chaotic quantity that
        // modest codec noise flips wholesale; summing |X|² over many
        // short windows converges to the band's actual PSD share,
        // which noise only perturbs by its own power fraction.
        val coeff = 2.0 * math.cos(math.Pi * (b + 1) / (nb + 1).toDouble)
        val frameLen = end - start
        val w = math.min(96, frameLen) // 12 ms at the canonical 8 kHz
        var acc = 0.0
        var ws = start
        while (ws + w <= end) {
          var s1 = 0.0
          var s2 = 0.0
          var i = ws
          while (i < ws + w) {
            val s0 = samples(i) + coeff * s1 - s2
            s2 = s1
            s1 = s0
            i += 1
          }
          acc += s1 * s1 + s2 * s2 - coeff * s1 * s2
          ws += w
        }
        e(f)(b) = acc
        b += 1
      }
      f += 1
    }
    // bits compare LOG energies: sign of a ratio-of-ratios. In the
    // linear domain a 100x-louder band's codec noise drowns the quiet
    // band's difference entirely (IMA-ADPCM at ~19 dB SNR flipped ~20
    // bits); log margins are scale-free per band, and gain invariance
    // strengthens from powers-of-two to ANY uniform gain (log c cancels
    // in the differences). The epsilon keeps degenerate near-zero
    // differences (stationary frames, exact ratio ties) on a stable
    // side of the threshold under 1-ulp log rounding drift.
    val le = Array.ofDim[Double](nf, nb)
    f = 0
    while (f < nf) {
      var b = 0
      while (b < nb) {
        le(f)(b) = if (e(f)(b) > 0) math.log(e(f)(b)) else -745.0
        b += 1
      }
      f += 1
    }
    var h = 0L
    f = 1
    while (f < nf) {
      var b = 0
      while (b < nb - 1) {
        h <<= 1
        if ((le(f)(b) - le(f)(b + 1)) - (le(f - 1)(b) - le(f - 1)(b + 1)) > 1e-9)
          h |= 1L
        b += 1
      }
      f += 1
    }
    java.lang.Long.valueOf(h)
  }

  /** Append an `audio_fp` column ([[audioFingerprint64]], null for
    * undecodable rows). Near-dup audio pairs are then one
    * `Dedup.hammingPairs(out, "media_id", "audio_fp", maxDist)` call. */
  def withAudioFingerprint(media: DataFrame): DataFrame =
    media.withColumn("audio_fp", fromContent("audioFingerprint64")(audioFingerprint64))

  /** A computed sample, truncated to 16-bit range. */
  private def clampShort(v: Long): Short =
    math.max(Short.MinValue, math.min(Short.MaxValue, v)).toShort

  /** Volume-scale decodable audio by the exact rational num/den and
    * re-encode as mono 16-bit PCM at the source rate — the audio
    * counterpart of [[resizeImages]]: decode → integer-exact transform
    * → standard re-encode. Appends a `scaled` binary column (null when
    * the content isn't decodable audio). Scaling is integer arithmetic
    * (s·num/den, truncated, clamped to short range): a power-of-two
    * attenuation of EVEN samples is exact (fingerprint distance 0);
    * ODD samples (e.g. ADPCM-reconstructed signals) truncate by up to
    * 1 LSB, drifting [[audioFingerprint64]] by at most a couple of
    * bits — AudioFingerprintSpec pins the full syntheticMedia frame
    * within Hamming distance 2 of its half-gain copies. */
  def scaleAudioPcm(media: DataFrame, num: Int, den: Int): DataFrame = {
    require(den != 0, "den must be nonzero")
    media.withColumn("scaled", fromContent("scaleAudioPcm") { b =>
      val dec = decodeAudioSamples(b)
      if (dec == null) null
      else pcmWavBytes(dec._1, dec._2.map(s => clampShort(s.toLong * num / den)))
    })
  }

  /** Re-encode decodable audio as FLAC ([[Flac.flacBytes]]) — the
    * archival-format transcode stage. FLAC being lossless, the
    * transcoded clip decodes to the IDENTICAL samples, so its
    * [[audioFingerprint64]] is bit-equal to the source's and a
    * WAV-vs-FLAC re-ingest of one master collapses at Hamming
    * distance 0. Appends a `flac` binary column (null when the
    * content isn't decodable audio). */
  def transcodeAudioFlac(media: DataFrame): DataFrame =
    media.withColumn("flac", fromContent("transcodeAudioFlac") { b =>
      val dec = decodeAudioSamples(b)
      // FLAC's STREAMINFO rate field is 20 bits; a decodable WAV can
      // declare more — such a row NULLS (the module contract: hostile
      // rows never kill the job), it must not throw in flacBytes
      if (dec == null || dec._1 >= (1 << 20)) null else Flac.flacBytes(dec._1, dec._2)
    })

  /** Resample decodable audio to `targetRate` and re-encode as mono
    * 16-bit PCM — the rate-normalization stage of an audio ingest
    * pipeline (every clip onto one time base before fingerprinting or
    * training). Linear interpolation with exact rational index
    * arithmetic ([[resampleLinear]]), rounded half-even to shorts.
    * Appends a `resampled` binary column (null when the content isn't
    * decodable audio; an empty clip gives an empty WAV at
    * `targetRate`). */
  def resampleAudioPcm(media: DataFrame, targetRate: Int): DataFrame = {
    require(targetRate > 0, s"targetRate must be positive, got $targetRate")
    media.withColumn("resampled", fromContent("resampleAudioPcm") { b =>
      val dec = decodeAudioSamples(b)
      if (dec == null) null
      else pcmWavBytes(targetRate,
        resampleLinear(dec._2, dec._1, targetRate).map(v => clampShort(math.rint(v).toLong)))
    })
  }

  /** Sample every `everyK`-th stored video frame of each decodable
    * AVI or ANIMATED-GIF row into its own row (media_id, frame_index,
    * content) — the frame-sampling stage of a video pipeline. For
    * MJPEG the emitted content is the stored complete JPEG; for
    * animated GIFs it is the COMPOSED canvas (disposal/transparency
    * applied, see [[decodeGifFrames]]) re-encoded as PNG — either way
    * the sampled rows feed every image op directly (resize, features,
    * [[withPerceptualHash]] → video near-dup via the same Hamming
    * blocking). Static GIFs and other non-video rows yield no frames.
    * The row multiplier is frames/everyK, so this one stays a
    * `mapPartitions` (a column yields one value per row). */
  def sampleVideoFrames(media: DataFrame, everyK: Int = 1): DataFrame = {
    require(everyK >= 1, s"everyK must be >= 1 (got $everyK)")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_index", LongType, nullable = false),
      StructField("content", org.apache.spark.sql.types.BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](contentIdx)
        val n = Avi.frameCount(bytes)
        if (n > 0) {
          (0 until n by everyK).iterator.map(k =>
            Row(r.getLong(idIdx), k.toLong, Avi.frame(bytes, k)))
        } else {
          val gif = decodeGifFrames(bytes)
          if (gif == null || gif._3.length < 2) Iterator.empty
          else {
            val (sw, sh, frames) = gif
            (0 until frames.length by everyK).iterator.map(k =>
              Row(r.getLong(idIdx), k.toLong, pngFromBgr(sw, sh, frames(k)._2)))
          }
        }
      }
    }(enc)
  }

  /** Package each JPEG still as a single-frame MJPEG AVI (appended
    * `avi` column; null for rows whose content is not a JPEG — MJPEG
    * payloads must be JPEGs). The harness-side inverse of
    * [[sampleVideoFrames]], and a real packaging stage: the emitted
    * container round-trips through the sniffer, the frame extractor,
    * and external players. */
  def wrapAsMjpegAvi(media: DataFrame, fps: Int = 1): DataFrame = {
    require(fps >= 1, s"fps must be >= 1 (got $fps)")
    media.withColumn("avi", fromContent("wrapAsMjpegAvi") { b =>
      sniffMeta(b) match {
        case ("image/jpeg", w, h, _) if w != null && h != null =>
          Avi.mjpegAvi(w.intValue(), h.intValue(), fps, Seq(b))
        case _ => null
      }
    })
  }

  /** Spec-conformant RGB PNG from a decoded BGR buffer (filter-0
    * scanlines, one deflated IDAT, CRC'd chunks) — decodable by
    * [[decodePng]] and any external viewer. */
  private[graft] def pngFromBgr(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = 0 // filter: None
      var x = 0
      while (x < w) {
        val src = (y * w + x) * 3
        val dst = y * (stride + 1) + 1 + x * 3
        raw(dst) = px(src + 2)     // R (buffer is BGR)
        raw(dst + 1) = px(src + 1) // G
        raw(dst + 2) = px(src)     // B
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zipped = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zipped.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      pngChunk("IHDR", ihdr.array()) ++
      pngChunk("IDAT", zipped.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** Decode one image payload through the pure-JVM decoder chain —
    * (width, height, BGR) or null. Shared by the featurizer and the
    * resize op. */
  private def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    var d = decodeBmp(bytes)
    if (d == null) d = decodePng(bytes)
    if (d == null) d = decodeGif(bytes)
    if (d == null) d = Jpeg.decode(bytes)
    d
  }

  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("resized", BinaryType, nullable = true),
    // FNV-1a over the resampled BGR buffer: a deflate-independent
    // content digest (the PNG byte length varies with the JDK's zlib)
    StructField("pixel_digest", LongType, nullable = true)))

  /** REAL image resize across a media frame: decode (BMP/PNG/GIF/
    * baseline JPEG), bilinear-resample to (outW, outH), re-encode as
    * RGB PNG — all pure JVM, into the [[resizedSchema]] layout.
    * Rows whose payload isn't a decodable image carry null `resized`
    * (width/height report the ORIGINAL decoded geometry, so callers
    * can filter upscales). The training-pipeline "resize" stage:
    * normalize heterogeneous image sizes before feature extraction /
    * tensor batching. */
  def resizeImages(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0 && outW <= 32767 && outH <= 32767 &&
      // same invariant decodePng enforces: the pixel buffer and the
      // (stride+1)*h scanline buffer must stay inside Int range
      (outW.toLong * 3 + 1) * outH <= 256L * 1024 * 1024,
      s"resize dims out of range: $outW x $outH")
    media.select(col("media_id"), col("kind"),
        fromContent("resizedImage")(resizedImage(_, outW, outH)).as("__r"))
      .select(Seq(col("media_id"), col("kind")) ++
        fieldsOf("__r", "width", "height", "resized", "pixel_digest"): _*)
  }

  /** One row of [[resizeImages]]: the decoded (width, height), the
    * resized PNG and its [[resizedSchema]] pixel digest — null when the
    * bytes are not a decodable image. */
  private[graft] def resizedImage(bytes: Array[Byte], outW: Int, outH: Int)
      : (Integer, Integer, Array[Byte], java.lang.Long) =
    decodeImage(bytes) match {
      case (w, h, px) =>
        val resampled = bilinearResizeBgr(w, h, px, outW, outH)
        (w, h, pngFromBgr(outW, outH, resampled), fnv64Bytes(resampled))
      case null => null
    }

  /** One PNG chunk: length + type + data + CRC32 over type‖data. */
  private def pngChunk(t: String, data: Array[Byte]): Array[Byte] = {
    val tb = t.getBytes("US-ASCII")
    val out = java.nio.ByteBuffer.allocate(12 + data.length)
    out.putInt(data.length).put(tb).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** COMPLETE spec-conformant RGB PNG with a deterministic pixel
    * pattern — the BGR buffer goes through the same [[pngFromBgr]]
    * assembly the resize op uses (one copy of the deflate/chunk
    * machinery), fully decodable by [[decodePng]] and any viewer. */
  private[graft] def pngBytes(w: Int, h: Int, id: Long): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = graft.functions.Kernels.mix(id * 131 + y.toLong * w + x)
        val p = (y * w + x) * 3
        px(p) = ((v >> 16) & 0xff).toByte   // B
        px(p + 1) = ((v >> 8) & 0xff).toByte
        px(p + 2) = (v & 0xff).toByte       // R
        x += 1
      }
      y += 1
    }
    pngFromBgr(w, h, px)
  }

  /** Real baseline JPEG via the JRE's ImageIO encoder: a smooth
    * two-gradient-plus-checker pattern (JPEG is lossy — smooth content
    * keeps the round-trip meaningful, unlike the hash noise the
    * lossless formats carry). */
  private[graft] def jpegBytes(w: Int, h: Int, id: Long,
                               progressive: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val phase = (graft.functions.Kernels.mix(id) & 0xff).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 255 / math.max(w - 1, 1) + phase) & 0xff
        val g = (y * 255 / math.max(h - 1, 1)) & 0xff
        val b = if (((x / 8) + (y / 8)) % 2 == 0) 64 else 192
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    if (progressive) {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
    } else javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Complete uncompressed 24-bit BMP with a deterministic pixel
    * pattern — fully decodable by [[decodeBmp]]. */
  private[graft] def bmpBytes(w: Int, h: Int, id: Long): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val total = 54 + rowBytes * h
    val out = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(total).putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = graft.functions.Kernels.mix(id * 131 + y.toLong * w + x)
        out.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte).put(((v >> 16) & 0xff).toByte)
        x += 1
      }
      var pad = rowBytes - w * 3
      while (pad > 0) { out.put(0.toByte); pad -= 1 }
      y += 1
    }
    out.array()
  }

  /** Complete PCM WAV with a REAL (deterministic integer square-wave)
    * sample payload — fully decodable by [[decodeWavPcm16]]. */
  private def wavBytes(sampleRate: Int, nSamples: Int, id: Long): Array[Byte] =
    // square wave, period/amplitude derived from id — integer-exact
    pcmWavBytes(sampleRate, squareWave(nSamples, id))

  /** Complete mono 16-bit PCM WAV from raw samples — the re-encoder
    * behind [[scaleAudioPcm]] and the synthetic writer; round-trips
    * through [[decodeWavPcm16]] exactly. */
  private[graft] def pcmWavBytes(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2.toShort).putShort(16.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** Deterministic square-wave samples shared by the PCM and ADPCM
    * synthetic writers (same waveform family, two encodings). */
  private def squareWave(nSamples: Int, id: Long): Array[Short] = {
    val period = 20 + (id % 30).toInt
    val amp = (4000 + (id % 7) * 2000).toShort
    val s = new Array[Short](nSamples)
    var j = 0
    while (j < nSamples) {
      s(j) = if ((j / period) % 2 == 0) amp else (-amp).toShort
      j += 1
    }
    s
  }

  /** Complete IMA-ADPCM WAV (a REAL compressed encoding of the square
    * wave) — fully decodable by [[decodeWavAdpcm]]. */
  private def adpcmWavBytes(sampleRate: Int, nSamples: Int, id: Long): Array[Byte] =
    Adpcm.encodeWavIma(sampleRate, squareWave(nSamples, id))._1

  /** Deterministic synthetic media frame for tests/demos: image rows
    * cycle fully-decodable 24-bit BMPs, real JPEGs and complete PNGs;
    * audio rows cycle complete PCM WAVs, IMA-ADPCM WAVs (square-wave
    * payload) and walkable MP3 frame streams; video rows carry
    * structurally valid MP4 containers with real mvhd/tkhd metadata
    * (one sub-cycle stays opaque bytes so the unknown-format stub path
    * is exercised too). */
  def syntheticMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    spark.range(n.toLong).toDF("id").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val kind = Seq("image", "audio", "video")((id % 3).toInt)
        val content: Array[Byte] = kind match {
          case "image" if id % 6 == 0 =>
            bmpBytes(8 + (id % 16).toInt, 8 + (id % 12).toInt, id)
          case "image" if id % 12 == 3 =>
            // real JPEG via the JRE's built-in encoder (java.desktop);
            // the hand-rolled Jpeg.decode consumes it downstream —
            // alternating baseline and PROGRESSIVE (multi-scan SOF2)
            // streams. Falls back to PNG on a stripped-down JRE
            // without ImageIO.
            try jpegBytes(24 + (id % 32).toInt, 24 + (id % 24).toInt, id,
              progressive = id % 24 == 15)
            catch { case _: Throwable =>
              pngBytes(32 + (id % 64).toInt, 32 + (id % 48).toInt, id) }
          case "image" => pngBytes(32 + (id % 64).toInt, 32 + (id % 48).toInt, id)
          case "audio" if id % 6 == 4 =>
            adpcmWavBytes(16000, 8000 + (id % 100).toInt * 160, id)
          case "audio" if id % 9 == 7 =>
            // MP3: real walkable frame headers (duration/bitrate from
            // the frame walk); payload is junk → stub feature path.
            // audio ids are ≡1 (mod 3), so this picks ids 7, 25, 43…
            // (all ≡7 mod 18) without starving the PCM/ADPCM
            // sub-cycles; mod 36 genuinely alternates tagged and
            // tagless streams (mod 18 would be constant-true here)
            Mp3.mp3Bytes(10 + (id % 40).toInt, id, withId3 = id % 36 == 7)
          case "audio" => wavBytes(16000, 8000 + (id % 100).toInt * 160, id)
          case "video" if id % 9 == 8 =>
            // opaque bytes: the honest unknown-format stub path
            val bs = new Array[Byte](32)
            var h = id * 0x9E3779B97F4A7C15L
            var i = 0
            while (i < 32) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; bs(i) = h.toByte; i += 1 }
            bs
          case _ =>
            Mp4.mp4Bytes(320 + (id % 8).toInt * 80, 240 + (id % 6).toInt * 60,
              1000L + (id % 120) * 500L, id)
        }
        val (mime, w, hgt, dur) = sniffMeta(content)
        Row(id, kind, content, Row(mime, w, hgt, dur))
      }
    }(enc)
  }
}
