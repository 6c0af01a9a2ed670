package graft.multimodal

/** JPEG (ITU-T T.81, Huffman, 8-bit) decoder — pure JVM, no codec
  * libraries. Supports baseline/extended sequential (SOF0/SOF1) AND
  * progressive (SOF2: spectral selection + successive approximation,
  * DC/AC first and refinement scans, EOB runs), grayscale and
  * 3-component YCbCr (JFIF) with any h/v sampling factors up to 2
  * (4:4:4, 4:2:2, 4:2:0), quant-table precision 8/16, and restart
  * markers in both modes. Arithmetic coding, 12-bit precision,
  * hierarchical and CMYK return null — the caller falls through to the
  * deterministic stub feature, the same honest-degradation contract as
  * the other decoders. (The multimodal surface is a scale extension
  * beyond the reference library; SURVEY §2 "multimodal columns".)
  *
  * IDCT is the exact separable double-precision definition (spec
  * A.3.3), NOT a fast integer approximation, so decoded pixels sit
  * within ±1-2 counts of any conformant decoder (tolerance pinned in
  * the golden spec against ImageIO's libjpeg-derived output).
  */
object Jpeg {

  /** (width, height, BGR bytes row-major top-down), or null when the
    * bytes are not a decodable baseline JPEG. */
  private[graft] def decode(b: Array[Byte]): (Int, Int, Array[Byte]) =
    // NonFatal only: corrupt entropy data → null, but VM errors must
    // propagate (allocation is pre-guarded from header dims, so a
    // hostile header cannot reach an OOM in the first place)
    try decode0(b) catch { case scala.util.control.NonFatal(_) => null }

  private final class Huff {
    // canonical decode tables per spec F.2.2.3
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    var values: Array[Int] = null
  }

  private def buildHuff(bits: Array[Int], values: Array[Int]): Huff = {
    val h = new Huff
    h.values = values
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      if (bits(l) > 0) {
        h.valPtr(l) = k
        h.minCode(l) = code
        code += bits(l); k += bits(l)
        h.maxCode(l) = code - 1
      } else h.maxCode(l) = -1
      code <<= 1
      l += 1
    }
    h
  }

  /** Entropy-coded-segment bit reader: un-stuffs 0xFF00, stops at any
    * real marker (leaves position ON the 0xFF). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def align(): Unit = { acc = 0; nbits = 0 }
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) throw new RuntimeException("eof")
        val v = b(pos) & 0xff
        if (v == 0xff) {
          val n = if (pos + 1 < b.length) b(pos + 1) & 0xff else -1
          if (n == 0x00) { pos += 2; acc = 0xff }
          else throw new RuntimeException("marker in scan") // caller handles RST before reading
        } else { pos += 1; acc = v }
        nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decodeHuff(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (!(h.maxCode(l) >= 0 && code <= h.maxCode(l))) {
        code = (code << 1) | bit()
        l += 1
        if (l > 16) throw new RuntimeException("bad huffman code")
      }
      h.values(h.valPtr(l) + code - h.minCode(l))
    }
    /** receive-and-extend (spec F.2.2.1). */
    def extend(s: Int): Int = {
      if (s == 0) return 0
      val v = bits(s)
      if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    }
  }

  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cos((2x+1) u π / 16) with the Cu normalization folded in
  private val idctTable: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = 0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Separable exact IDCT: coef (natural order, dequantized) → 8x8
    * samples, level-shifted and clamped to 0..255. */
  private def idct(coef: Array[Double], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows: over u for each x
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += idctTable(u * 8 + x) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = s
        x += 1
      }
      x = 0
      y += 1
    }
    var x = 0
    while (x < 8) { // cols: over v for each y
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += idctTable(v * 8 + yy) * tmp(v * 8 + x); v += 1 }
        val p = math.round(s + 128.0).toInt
        out(yy * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        yy += 1
      }
      x += 1
    }
  }

  private def decode0(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (b == null || b.length < 4) return null
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (u8(0) != 0xff || u8(1) != 0xd8) return null

    val quant = Array.ofDim[Int](4, 64) // natural order
    val huffDc = new Array[Huff](4)
    val huffAc = new Array[Huff](4)
    var restartInterval = 0
    // frame
    var w = 0; var h = 0
    var nComp = 0
    var compId: Array[Int] = null
    var compH: Array[Int] = null
    var compV: Array[Int] = null
    var compTq: Array[Int] = null

    var progressive = false
    var prog: ProgState = null

    var p = 2
    // p+2 (not +4): a trailing EOI is exactly 2 bytes, and progressive
    // frames reconstruct AT the EOI marker; length-bearing markers read
    // past it only on malformed input, where the AIOOBE → null wrapper
    // in decode() is the contract anyway
    while (p + 2 <= b.length) {
      if (u8(p) != 0xff) return null
      var m = u8(p + 1)
      while (m == 0xff && p + 2 < b.length) { p += 1; m = u8(p + 1) } // fill bytes
      p += 2
      m match {
        case 0xd9 => // EOI: progressive reconstructs here; else no scan
          return if (prog != null) prog.reconstruct(w, h, quant, compTq) else null
        case 0xdb => // DQT
          val len = u16(p); var q = p + 2
          while (q < p + len) {
            val pq = u8(q) >> 4; val tq = u8(q) & 0x0f
            if (tq > 3 || pq > 1) return null
            q += 1
            var i = 0
            while (i < 64) {
              quant(tq)(zigzag(i)) = if (pq == 0) u8(q + i) else u16(q + 2 * i)
              i += 1
            }
            q += (if (pq == 0) 64 else 128)
          }
          p += len
        case 0xc4 => // DHT
          val len = u16(p); var q = p + 2
          while (q < p + len) {
            val tc = u8(q) >> 4; val th = u8(q) & 0x0f
            if (tc > 1 || th > 3) return null
            val bits = new Array[Int](17)
            var total = 0
            var i = 1
            while (i <= 16) { bits(i) = u8(q + i); total += bits(i); i += 1 }
            val values = new Array[Int](total)
            i = 0
            while (i < total) { values(i) = u8(q + 17 + i); i += 1 }
            val t = buildHuff(bits, values)
            if (tc == 0) huffDc(th) = t else huffAc(th) = t
            q += 17 + total
          }
          p += len
        case 0xdd => // DRI
          restartInterval = u16(p + 2); p += u16(p)
        case 0xc0 | 0xc1 | 0xc2 => // sequential Huffman / progressive
          progressive = m == 0xc2
          val len = u16(p)
          if (u8(p + 2) != 8) return null // 8-bit precision only
          h = u16(p + 3); w = u16(p + 5)
          nComp = u8(p + 7)
          if (w <= 0 || h <= 0 || w > 32767 || h > 32767 ||
              w.toLong * h * 3 > 256L * 1024 * 1024) return null
          if (nComp != 1 && nComp != 3) return null // gray or YCbCr
          compId = new Array[Int](nComp); compH = new Array[Int](nComp)
          compV = new Array[Int](nComp); compTq = new Array[Int](nComp)
          var c = 0
          while (c < nComp) {
            compId(c) = u8(p + 8 + 3 * c)
            compH(c) = u8(p + 9 + 3 * c) >> 4
            compV(c) = u8(p + 9 + 3 * c) & 0x0f
            compTq(c) = u8(p + 10 + 3 * c)
            if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2 ||
                compTq(c) > 3) return null
            c += 1
          }
          // T.81 A.2.3: a single-component scan is NON-interleaved —
          // data units raster over the full-resolution component, one
          // 8x8 block per MCU. Sampling factors only describe the
          // (absent) interleave geometry; normalizing them to 1 makes
          // the interleaved decoder below produce exactly that layout.
          if (nComp == 1) { compH(0) = 1; compV(0) = 1 }
          p += len
        case 0xda => // SOS
          if (compId == null) return null
          val len = u16(p)
          val ns = u8(p + 2)
          if (!progressive) {
            if (ns != nComp) return null // one interleaved scan only
            val dcSel = new Array[Int](nComp)
            val acSel = new Array[Int](nComp)
            var s = 0
            while (s < ns) {
              val cs = u8(p + 3 + 2 * s)
              val c = compId.indexOf(cs)
              if (c < 0) return null
              dcSel(c) = u8(p + 4 + 2 * s) >> 4
              acSel(c) = u8(p + 4 + 2 * s) & 0x0f
              s += 1
            }
            return decodeScan(b, p + len, w, h, nComp, compH, compV, compTq,
              dcSel, acSel, quant, huffDc, huffAc, restartInterval)
          } else {
            // progressive: one of many scans — accumulate coefficients
            if (ns < 1 || ns > nComp) return null
            val scanComps = new Array[Int](ns)
            val dcSel = new Array[Int](nComp)
            val acSel = new Array[Int](nComp)
            var s = 0
            while (s < ns) {
              val cs = u8(p + 3 + 2 * s)
              val c = compId.indexOf(cs)
              if (c < 0) return null
              scanComps(s) = c
              dcSel(c) = u8(p + 4 + 2 * s) >> 4
              acSel(c) = u8(p + 4 + 2 * s) & 0x0f
              s += 1
            }
            val ss = u8(p + 3 + 2 * ns)
            val se = u8(p + 4 + 2 * ns)
            val ah = u8(p + 5 + 2 * ns) >> 4
            val al = u8(p + 5 + 2 * ns) & 0x0f
            if (prog == null)
              prog = new ProgState(nComp, w, h, compH, compV, compH.max, compV.max)
            p = prog.decodeScan(b, p + len, scanComps, ss, se, ah, al,
              restartInterval, huffDc, huffAc, dcSel, acSel)
          }
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return null // lossless/arithmetic/hierarchical — unsupported
        case 0x01 => () // TEM, parameterless
        case x if x >= 0xd0 && x <= 0xd7 => () // stray RST, parameterless
        case _ => p += u16(p) // APPn, COM, others: skip by length
      }
    }
    null
  }

  private def decodeScan(b: Array[Byte], scanStart: Int, w: Int, h: Int,
                         nComp: Int, compH: Array[Int], compV: Array[Int],
                         compTq: Array[Int], dcSel: Array[Int], acSel: Array[Int],
                         quant: Array[Array[Int]], huffDc: Array[Huff],
                         huffAc: Array[Huff], restartInterval: Int): (Int, Int, Array[Byte]) = {
    val maxH = compH.max; val maxV = compV.max
    val mcuW = 8 * maxH; val mcuH = 8 * maxV
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    // per-component sample planes covering whole MCUs
    val planeW = new Array[Int](nComp)
    val planeH = new Array[Int](nComp)
    val planes = new Array[Array[Int]](nComp)
    // guard the TOTAL plane allocation (4 bytes/sample, up to 3 planes)
    // from header-declared dims BEFORE allocating — the w*h*3 output
    // guard alone admits ~1 GB of Int planes from a crafted SOF
    var totalInts = 0L
    var c = 0
    while (c < nComp) {
      planeW(c) = mcusX * compH(c) * 8
      planeH(c) = mcusY * compV(c) * 8
      totalInts += planeW(c).toLong * planeH(c)
      c += 1
    }
    if (totalInts * 4 > 256L * 1024 * 1024) return null
    c = 0
    while (c < nComp) {
      planes(c) = new Array[Int](planeW(c) * planeH(c))
      c += 1
    }
    val br = new BitReader(b, scanStart)
    val dcPred = new Array[Int](nComp)
    val coef = new Array[Double](64)
    val samples = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var rstCount = 0
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // align to the RSTn marker, verify cyclic number, reset DC
        br.align()
        var q = br.pos
        while (q + 1 < b.length && !((b(q) & 0xff) == 0xff &&
          (b(q + 1) & 0xff) >= 0xd0 && (b(q + 1) & 0xff) <= 0xd7)) q += 1
        if (q + 1 >= b.length) throw new RuntimeException("missing RST")
        if (((b(q + 1) & 0xff) - 0xd0) != (rstCount & 7))
          throw new RuntimeException("RST out of order")
        br.pos = q + 2
        rstCount += 1
        java.util.Arrays.fill(dcPred, 0)
      }
      val my = mcu / mcusX; val mx = mcu % mcusX
      c = 0
      while (c < nComp) {
        val qt = quant(compTq(c))
        var v = 0
        while (v < compV(c)) {
          var hh = 0
          while (hh < compH(c)) {
            // one 8x8 block: DC diff + AC run-length, dequant in natural order
            java.util.Arrays.fill(coef, 0.0)
            val t = br.decodeHuff(huffDc(dcSel(c)))
            dcPred(c) += br.extend(t)
            coef(0) = dcPred(c).toDouble * qt(0)
            var k = 1
            while (k < 64) {
              val rs = br.decodeHuff(huffAc(acSel(c)))
              val r = rs >> 4; val ss = rs & 0x0f
              if (ss == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) throw new RuntimeException("AC overflow")
                coef(zigzag(k)) = br.extend(ss).toDouble * qt(zigzag(k))
                k += 1
              }
            }
            idct(coef, samples)
            // place into the component plane
            val bx = (mx * compH(c) + hh) * 8
            val by = (my * compV(c) + v) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              val rowOff = (by + yy) * planeW(c) + bx
              while (xx < 8) {
                planes(c)(rowOff + xx) = samples(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            hh += 1
          }
          v += 1
        }
        c += 1
      }
      mcu += 1
    }
    toBgr(w, h, nComp, planes, planeW, compH, compV, maxH, maxV)
  }

  /** Color convert sample planes to BGR top-down (replication
    * upsampling for subsampled chroma — conformant; the golden spec's
    * tolerance absorbs the difference vs fancy upsampling). Shared by
    * the sequential and progressive paths. */
  private def toBgr(w: Int, h: Int, nComp: Int, planes: Array[Array[Int]],
                    planeW: Array[Int], compH: Array[Int], compV: Array[Int],
                    maxH: Int, maxV: Int): (Int, Int, Array[Byte]) = {
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        if (nComp == 1) {
          val g = planes(0)(y * planeW(0) + x).toByte
          out(o) = g; out(o + 1) = g; out(o + 2) = g
        } else {
          val yy = planes(0)((y * compV(0) / maxV) * planeW(0) + (x * compH(0) / maxH))
          val cb = planes(1)((y * compV(1) / maxV) * planeW(1) + (x * compH(1) / maxH))
          val cr = planes(2)((y * compV(2) / maxV) * planeW(2) + (x * compH(2) / maxH))
          var r = math.round(yy + 1.402 * (cr - 128)).toInt
          var g = math.round(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toInt
          var bl = math.round(yy + 1.772 * (cb - 128)).toInt
          if (r < 0) r = 0 else if (r > 255) r = 255
          if (g < 0) g = 0 else if (g > 255) g = 255
          if (bl < 0) bl = 0 else if (bl > 255) bl = 255
          out(o) = bl.toByte; out(o + 1) = g.toByte; out(o + 2) = r.toByte
        }
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Progressive-frame coefficient store + scan decoders (spec G.2).
    * Coefficients accumulate across scans in ZIGZAG index order (the
    * order spectral bands address them), MCU-padded per component;
    * dequantization and IDCT happen once, at EOI. */
  private final class ProgState(val nComp: Int, w: Int, h: Int,
                                compH: Array[Int], compV: Array[Int],
                                maxH: Int, maxV: Int) {
    val mcusX: Int = (w + 8 * maxH - 1) / (8 * maxH)
    val mcusY: Int = (h + 8 * maxV - 1) / (8 * maxV)
    // padded block grid (interleaved-scan geometry) and the actual
    // block grid (non-interleaved scans raster ONLY real blocks)
    val bwPad = new Array[Int](nComp); val bhPad = new Array[Int](nComp)
    val bwAct = new Array[Int](nComp); val bhAct = new Array[Int](nComp)
    val coef: Array[Array[Int]] = new Array[Array[Int]](nComp)
    locally {
      var totalInts = 0L
      var c = 0
      while (c < nComp) {
        bwPad(c) = mcusX * compH(c); bhPad(c) = mcusY * compV(c)
        val cw = (w * compH(c) + maxH - 1) / maxH
        val ch = (h * compV(c) + maxV - 1) / maxV
        bwAct(c) = (cw + 7) / 8; bhAct(c) = (ch + 7) / 8
        totalInts += bwPad(c).toLong * bhPad(c) * 64
        c += 1
      }
      if (totalInts * 4 > 256L * 1024 * 1024)
        throw new RuntimeException("coef store too large")
      c = 0
      while (c < nComp) { coef(c) = new Array[Int](bwPad(c) * bhPad(c) * 64); c += 1 }
    }
    private val dcPred = new Array[Int](nComp)
    private var eobrun = 0

    /** Decode one scan's entropy data; returns the offset of the next
      * marker's 0xFF. */
    def decodeScan(b: Array[Byte], start: Int, scanComps: Array[Int],
                   ss: Int, se: Int, ah: Int, al: Int, restartInterval: Int,
                   huffDc: Array[Huff], huffAc: Array[Huff],
                   dcSel: Array[Int], acSel: Array[Int]): Int = {
      if (ss < 0 || se > 63 || ss > se) throw new RuntimeException("bad band")
      if (ss == 0 && se != 0) // progressive DC and AC never share a scan
        throw new RuntimeException("DC+AC band")
      if (ss > 0 && scanComps.length != 1)
        throw new RuntimeException("interleaved AC scan")
      java.util.Arrays.fill(dcPred, 0)
      eobrun = 0
      val br = new BitReader(b, start)
      var rstCount = 0
      def restart(unit: Int): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          br.align()
          var q = br.pos
          while (q + 1 < b.length && !((b(q) & 0xff) == 0xff &&
            (b(q + 1) & 0xff) >= 0xd0 && (b(q + 1) & 0xff) <= 0xd7)) q += 1
          if (q + 1 >= b.length) throw new RuntimeException("missing RST")
          if (((b(q + 1) & 0xff) - 0xd0) != (rstCount & 7))
            throw new RuntimeException("RST out of order")
          br.pos = q + 2
          rstCount += 1
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }
      if (ss == 0 && scanComps.length > 1) {
        // interleaved DC scan: MCU raster over all scan components
        var mcu = 0
        val nMcus = mcusX * mcusY
        while (mcu < nMcus) {
          restart(mcu)
          val my = mcu / mcusX; val mx = mcu % mcusX
          var s = 0
          while (s < scanComps.length) {
            val c = scanComps(s)
            var v = 0
            while (v < compV(c)) {
              var hh = 0
              while (hh < compH(c)) {
                val blk = ((my * compV(c) + v) * bwPad(c) + mx * compH(c) + hh) * 64
                dcUnit(br, c, blk, ah, al, huffDc(dcSel(c)))
                hh += 1
              }
              v += 1
            }
            s += 1
          }
          mcu += 1
        }
      } else {
        // non-interleaved: raster the component's ACTUAL block grid
        val c = scanComps(0)
        val nUnits = bwAct(c) * bhAct(c)
        var unit = 0
        while (unit < nUnits) {
          restart(unit)
          val blk = ((unit / bwAct(c)) * bwPad(c) + unit % bwAct(c)) * 64
          if (ss == 0) dcUnit(br, c, blk, ah, al, huffDc(dcSel(c)))
          else if (ah == 0) acFirst(br, c, blk, ss, se, al, huffAc(acSel(c)))
          else acRefine(br, c, blk, ss, se, al, huffAc(acSel(c)))
          unit += 1
        }
      }
      // skip to the next true marker (align + pass any trailing RST)
      var q = br.pos
      while (q + 1 < b.length) {
        val n = b(q + 1) & 0xff
        if ((b(q) & 0xff) == 0xff && n != 0x00 && n != 0xff &&
          !(n >= 0xd0 && n <= 0xd7)) return q
        q += 1
      }
      b.length
    }

    private def dcUnit(br: BitReader, c: Int, blk: Int, ah: Int, al: Int,
                       dc: Huff): Unit =
      if (ah == 0) { // first pass: diff-coded magnitude at Al precision
        val t = br.decodeHuff(dc)
        dcPred(c) += br.extend(t)
        coef(c)(blk) = dcPred(c) << al
      } else { // refinement: one correction bit
        if (br.bit() == 1) coef(c)(blk) |= (1 << al)
      }

    private def acFirst(br: BitReader, c: Int, blk: Int, ss: Int, se: Int,
                        al: Int, ac: Huff): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      var k = ss
      while (k <= se) {
        val rs = br.decodeHuff(ac)
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else { // EOBn: this and the next 2^r-1+ext blocks end here
            eobrun = (1 << r) - 1 + (if (r > 0) br.bits(r) else 0)
            k = se + 1
          }
        } else {
          k += r
          if (k > se) throw new RuntimeException("AC overflow")
          coef(c)(blk + k) = br.extend(s) << al
          k += 1
        }
      }
    }

    /** AC refinement (spec G.1.2.3): each already-nonzero coefficient
      * in the band consumes a correction bit as the scan passes it;
      * zero-history positions count toward the run length / receive
      * the newly-significant ±1<<Al. */
    private def acRefine(br: BitReader, c: Int, blk: Int, ss: Int, se: Int,
                         al: Int, ac: Huff): Unit = {
      val p1 = 1 << al
      val m1 = -1 << al
      val cf = coef(c)
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = br.decodeHuff(ac)
          var r = rs >> 4
          val s = rs & 0x0f
          var newVal = 0
          if (s == 0) {
            if (r < 15) {
              // FULL run count — the current block's remaining band
              // still consumes correction bits below, and counts as
              // the run's first block (decremented there)
              eobrun = (1 << r) + (if (r > 0) br.bits(r) else 0)
              atEob = true
            } // r == 15: run over 16 zero-history positions, no new coef
          } else {
            if (s != 1) throw new RuntimeException("bad refine size")
            newVal = if (br.bit() == 1) p1 else m1
          }
          if (!atEob) {
            var placed = false
            while (k <= se && !placed) {
              val idx = blk + k
              if (cf(idx) != 0) { // history: correction bit
                if (br.bit() == 1 && (cf(idx) & p1) == 0)
                  cf(idx) += (if (cf(idx) >= 0) p1 else m1)
              } else if (r == 0) { // run exhausted: place here
                if (s != 0) cf(idx) = newVal
                placed = true
              } else r -= 1
              k += 1
            }
            if (!placed && s != 0) throw new RuntimeException("refine overflow")
          }
        }
      }
      if (eobrun > 0) { // EOB region still corrects nonzero history
        while (k <= se) {
          val idx = blk + k
          if (cf(idx) != 0) {
            if (br.bit() == 1 && (cf(idx) & p1) == 0)
              cf(idx) += (if (cf(idx) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
    }

    /** Dequantize + IDCT every block, then color convert — runs once,
      * at EOI. */
    def reconstruct(w: Int, h: Int, quant: Array[Array[Int]],
                    compTq: Array[Int]): (Int, Int, Array[Byte]) = {
      val planeW = new Array[Int](nComp)
      val planes = new Array[Array[Int]](nComp)
      var c = 0
      while (c < nComp) {
        planeW(c) = bwPad(c) * 8
        planes(c) = new Array[Int](planeW(c) * bhPad(c) * 8)
        c += 1
      }
      val nat = new Array[Double](64)
      val samples = new Array[Int](64)
      c = 0
      while (c < nComp) {
        val qt = quant(compTq(c))
        val cf = coef(c)
        var by = 0
        while (by < bhPad(c)) {
          var bx = 0
          while (bx < bwPad(c)) {
            val blk = (by * bwPad(c) + bx) * 64
            var k = 0
            while (k < 64) {
              nat(zigzag(k)) = cf(blk + k).toDouble * qt(zigzag(k))
              k += 1
            }
            idct(nat, samples)
            var yy = 0
            while (yy < 8) {
              val rowOff = (by * 8 + yy) * planeW(c) + bx * 8
              var xx = 0
              while (xx < 8) {
                planes(c)(rowOff + xx) = samples(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      toBgr(w, h, nComp, planes, planeW, compH, compV, maxH, maxV)
    }
  }
}
