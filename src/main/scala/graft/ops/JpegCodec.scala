package graft.ops

import graft.ops.ImageCodec.{Image, MaxDim, MaxPixels}

/** Pure-JVM baseline JPEG codec (ITU-T T.81 / ISO 10918-1), both
  * directions — the remaining web-dominant image format the decode slot
  * could not handle for real (PNG went real in r11; jpeg previously fell
  * to the documented stub). No ImageIO, no native libs: marker parsing,
  * DQT/DHT table loading, baseline sequential Huffman entropy coding,
  * FDCT/IDCT, chroma up/down-sampling and the JFIF YCbCr color
  * transform are all implemented here.
  *
  * Encoder: baseline SOF0, quality-scaled Annex-K quantization tables
  * (libjpeg's 5000/q | 200−2q scaling), standard Annex-K Huffman
  * tables, 4:4:4 sampling for color, automatic 1-component output for
  * pure-gray images (the fixture shape), optional restart markers.
  * FLAT 8×8 blocks take an exact-integer DCT shortcut — a constant
  * block's only nonzero coefficient is DC = 8·(v−128), computed without
  * touching a cosine, so constant-tile fixtures stay bit-predictable
  * end to end (the analytic-oracle discipline; see
  * [[MultimodalOps.jpegFeatures]]).
  *
  * Decoder: baseline sequential (SOF0) AND progressive (SOF2 — the
  * other format real crawls serve in volume: multi-scan spectral
  * selection + successive approximation per T.81 G.1.2, DC/AC first and
  * refinement scans, cross-block EOB runs, per-scan restart intervals,
  * coefficients accumulated per component until EOI then IDCT'd once);
  * extended/lossless/arithmetic SOFs reject as IllegalArgumentException
  * — the quarantine contract. 8-bit precision, 1 or 3 components,
  * sampling factors 1–2 (4:4:4 / 4:2:2 / 4:2:0), multi-table DQT/DHT
  * segments, DRI/RSTn restart intervals, 0xFF00 byte unstuffing.
  * DC-only blocks take the mirror-image exact IDCT shortcut
  * (pixel = round(dc/8)+128); general blocks run the separable
  * double-precision IDCT. Untrusted-header hardening throughout:
  * dimensions bounded by [[ImageCodec.MaxDim]], the area by
  * [[ImageCodec.MaxPixels]] in Long BEFORE any allocation (progressive
  * additionally by [[MaxProgressivePixels]], since coefficient planes
  * persist across scans), every segment length and Huffman code
  * bounds-checked, and every marker-segment field read under the
  * [[Bytes]] bounds rule (never past its own segment); malformed or
  * truncated payloads throw IllegalArgumentException only.
  */
object JpegCodec {

  /** Annex-K luminance quantization table, natural (row-major) order. */
  private val LumaQBase: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Annex-K chrominance quantization table, natural order. */
  private val ChromaQBase: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** The quality every fixture encode uses. At 50 the libjpeg scaling is
    * the identity, so the luma DC step is exactly [[QuantDc]] — PUBLIC so
    * the jpeg_features oracle interpolates the real constant (the
    * MaxBucket discipline).
    */
  val FixtureQuality: Int = 50

  /** Luma DC quantization step at [[FixtureQuality]] — the single
    * constant the constant-tile round-trip formula
    * `clamp(2·round(dc_q) + 128)` depends on (see
    * [[MultimodalOps.jpegFeatures]]).
    */
  val QuantDc: Int = scaledTable(LumaQBase, FixtureQuality)(0)

  /** libjpeg quality scaling: q<50 → 5000/q, else 200−2q percent. */
  private[ops] def scaledTable(base: Array[Int], quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"JPEG quality $quality")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map { v =>
      val s = (v * scale + 50) / 100
      math.max(1, math.min(255, s))
    }
  }

  /** Zigzag order: ZigZag(i) = natural index of the i-th zigzag coef. */
  private val ZigZag: Array[Int] = {
    val zz = new Array[Int](64)
    var i = 0; var x = 0; var y = 0; var up = true
    while (i < 64) {
      zz(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    zz
  }

  // Annex-K Huffman table specs: (bits per code length 1..16, values)
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).map(_.toByte).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).map(_.toByte).toArray
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  /** Per-symbol (code, length) encode table built from a bits/vals spec
    * by the canonical T.81 code assignment.
    */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Byte]): Array[Int] = {
    // packed: (length << 16) | code, indexed by symbol
    val table = new Array[Int](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k) & 0xff) = (len << 16) | code
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    table
  }

  private lazy val DcLumaEnc = buildEncodeTable(DcLumaBits, DcLumaVals)
  private lazy val AcLumaEnc = buildEncodeTable(AcLumaBits, AcLumaVals)
  private lazy val DcChromaEnc = buildEncodeTable(DcChromaBits, DcChromaVals)
  private lazy val AcChromaEnc = buildEncodeTable(AcChromaBits, AcChromaVals)

  /** Cosine basis: CosT(x)(u) = cos((2x+1)·u·π/16), C(0) folded later. */
  private lazy val CosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  // ------------------------------------------------------------- encode

  private final class BitWriter {
    private val buf = new Bytes.Buffer
    private var acc = 0L
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        buf.byte(b)
        if (b == 0xff) buf.byte(0x00) // byte stuffing
        nbits -= 8
      }
    }
    /** Pad to a byte boundary with 1-bits (T.81 F.1.2.3). */
    def align(): Unit = if (nbits > 0) put(0x7f, 8 - nbits)
    def raw(b: Int): Unit = { align(); buf.byte(b) }
    def result(): Array[Byte] = buf.result()
  }

  /** Bit category of a DC diff / AC value: 0 for 0, else bit length. */
  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Forward DCT + quantization of one 8×8 block of level-shifted
    * samples. Constant blocks shortcut to the exact integer DC (see
    * object doc); general blocks run the separable double FDCT.
    * Output in NATURAL order.
    */
  private def fdctQuant(block: Array[Int], q: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var flat = true
    var i = 1
    while (flat && i < 64) { flat = block(i) == block(0); i += 1 }
    if (flat) {
      out(0) = Math.round(8.0 * block(0) / q(0)).toInt
      return out
    }
    // rows then columns
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += block(y * 8 + x) * CosT(x)(u); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * CosT(yy)(v); yy += 1 }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        val f = 0.25 * cu * cv * s
        out(v * 8 + u) = Math.round(f / q(v * 8 + u)).toInt
        u += 1
      }
      v += 1
    }
    out
  }

  /** Entropy-encode one quantized block (natural order); returns new DC
    * predictor.
    */
  private def encodeBlock(
      w: BitWriter, coefs: Array[Int], pred: Int,
      dcTab: Array[Int], acTab: Array[Int]): Int = {
    val dc = coefs(0)
    val diff = dc - pred
    val t = category(diff)
    val dcode = dcTab(t)
    w.put(dcode & 0xffff, dcode >>> 16)
    if (t > 0) w.put(if (diff >= 0) diff else diff + (1 << t) - 1, t)
    var run = 0
    var k = 1
    while (k < 64) {
      // baseline AC categories stop at 10 (±1023); quality-100 tables
      // quantize by 1, where a pathological block can reach category 11 —
      // clamp like every production encoder instead of emitting a symbol
      // the standard tables cannot code
      val ac = math.max(-1023, math.min(1023, coefs(ZigZag(k))))
      if (ac == 0) run += 1
      else {
        while (run >= 16) {
          val z = acTab(0xf0); w.put(z & 0xffff, z >>> 16); run -= 16
        }
        val ta = category(ac)
        val sym = (run << 4) | ta
        val c = acTab(sym)
        w.put(c & 0xffff, c >>> 16)
        w.put(if (ac >= 0) ac else ac + (1 << ta) - 1, ta)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val e = acTab(0x00); w.put(e & 0xffff, e >>> 16) }
    dc
  }

  /** Extract one 8×8 block of channel `c` at (bx, by), edge-replicated
    * past the image border, level-shifted by −128. For gray images pass
    * the precomputed per-pixel plane instead.
    */
  private def extractBlock(
      plane: Array[Int], w: Int, h: Int, bx: Int, by: Int): Array[Int] = {
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, h - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, w - 1)
        out(y * 8 + x) = plane(sy * w + sx) - 128
        x += 1
      }
      y += 1
    }
    out
  }

  /** Baseline JPEG encode. Pure-gray images (R==G==B everywhere — the
    * fixture shape) emit a 1-component stream; color emits 3-component
    * 4:4:4. `restartInterval` > 0 adds DRI + RSTn markers every that
    * many MCUs (exercises the decoder's restart path).
    */
  def encodeJpeg(
      img: Image, quality: Int = FixtureQuality,
      restartInterval: Int = 0): Array[Byte] = {
    val w = img.width; val h = img.height
    val n = w * h
    var gray = true
    var i = 0
    while (gray && i < n) {
      gray = img.rgb(3 * i) == img.rgb(3 * i + 1) && img.rgb(3 * i + 1) == img.rgb(3 * i + 2)
      i += 1
    }
    val lumaQ = scaledTable(LumaQBase, quality)
    val chromaQ = scaledTable(ChromaQBase, quality)
    // component planes (always full resolution: 4:4:4)
    val planes: Array[Array[Int]] =
      if (gray) {
        val p = new Array[Int](n)
        var j = 0
        while (j < n) { p(j) = img.rgb(3 * j) & 0xff; j += 1 }
        Array(p)
      } else {
        val py = new Array[Int](n); val pcb = new Array[Int](n); val pcr = new Array[Int](n)
        var j = 0
        while (j < n) {
          val r = img.rgb(3 * j) & 0xff
          val g = img.rgb(3 * j + 1) & 0xff
          val b = img.rgb(3 * j + 2) & 0xff
          py(j) = clamp255(Math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt)
          pcb(j) = clamp255(Math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b).toInt)
          pcr(j) = clamp255(Math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b).toInt)
          j += 1
        }
        Array(py, pcb, pcr)
      }
    val nc = planes.length
    val out = new Bytes.Buffer
    def marker(m: Int): Unit = { out.byte(0xff); out.byte(m) }
    marker(0xd8) // SOI
    // APP0 JFIF
    marker(0xe0); out.u16be(16)
    out.append("JFIF".getBytes("US-ASCII")); out.byte(0)
    out.byte(1); out.byte(1) // version 1.1
    out.byte(0); out.u16be(1); out.u16be(1) // no density units, 1:1
    out.byte(0); out.byte(0) // no thumbnail
    // DQT (zigzag order on the wire)
    def dqt(id: Int, q: Array[Int]): Unit = {
      marker(0xdb); out.u16be(2 + 65)
      out.byte(id)
      var k = 0
      while (k < 64) { out.byte(q(ZigZag(k))); k += 1 }
    }
    dqt(0, lumaQ)
    if (nc == 3) dqt(1, chromaQ)
    // SOF0
    marker(0xc0); out.u16be(8 + 3 * nc)
    out.byte(8) // precision
    out.u16be(h); out.u16be(w)
    out.byte(nc)
    var c = 0
    while (c < nc) {
      out.byte(c + 1)       // component id
      out.byte(0x11)        // h=1, v=1 (4:4:4)
      out.byte(if (c == 0) 0 else 1) // quant table
      c += 1
    }
    // DHT
    def dht(tcTh: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      marker(0xc4); out.u16be(2 + 1 + 16 + vals.length)
      out.byte(tcTh)
      var k = 0
      while (k < 16) { out.byte(bits(k)); k += 1 }
      out.append(vals)
    }
    dht(0x00, DcLumaBits, DcLumaVals)
    dht(0x10, AcLumaBits, AcLumaVals)
    if (nc == 3) {
      dht(0x01, DcChromaBits, DcChromaVals)
      dht(0x11, AcChromaBits, AcChromaVals)
    }
    if (restartInterval > 0) { marker(0xdd); out.u16be(4); out.u16be(restartInterval) }
    // SOS
    marker(0xda); out.u16be(6 + 2 * nc)
    out.byte(nc)
    c = 0
    while (c < nc) {
      out.byte(c + 1)
      out.byte(if (c == 0) 0x00 else 0x11) // DC/AC table ids
      c += 1
    }
    out.byte(0); out.byte(63); out.byte(0) // Ss, Se, AhAl
    // entropy-coded data: 4:4:4 → MCU = one block per component
    val bw = new BitWriter()
    val mcusX = (w + 7) / 8
    val mcusY = (h + 7) / 8
    val preds = new Array[Int](nc)
    var rst = 0
    var mcu = 0
    var by = 0
    while (by < mcusY) {
      var bx = 0
      while (bx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.raw(0xff); bw.raw(0xd0 + (rst & 7))
          rst += 1
          java.util.Arrays.fill(preds, 0)
        }
        c = 0
        while (c < nc) {
          val q = if (c == 0) lumaQ else chromaQ
          val block = extractBlock(planes(c), w, h, bx, by)
          val coefs = fdctQuant(block, q)
          preds(c) = encodeBlock(bw, coefs, preds(c),
            if (c == 0) DcLumaEnc else DcChromaEnc,
            if (c == 0) AcLumaEnc else AcChromaEnc)
          c += 1
        }
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.align()
    out.append(bw.result())
    marker(0xd9) // EOI
    out.result()
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ------------------------------------------------------------- decode

  /** Canonical (maxcode/valptr) Huffman decode table per T.81 F.2.2.3. */
  private final class HuffTable(bits: Array[Int], val vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        } else maxCode(l) = -1
        code <<= 1
        l += 1
      }
      require(k == vals.length, s"JPEG: DHT spec/value count mismatch ($k vs ${vals.length})")
      require(k <= 256, s"JPEG: DHT with $k values")
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    /** Marker encountered at the cursor (0 = none). */
    var pendingMarker: Int = 0

    def bit(): Int = {
      if (nbits == 0) {
        require(pos < bytes.length, "JPEG: entropy stream truncated")
        var b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < bytes.length, "JPEG: entropy stream truncated at 0xFF")
          val m = bytes(pos) & 0xff; pos += 1
          if (m != 0x00) {
            // a real marker: expose it and feed 0-bits (the spec's pad
            // tolerance — decode must stop consuming at the boundary)
            pendingMarker = m
            pos -= 2
            b = 0
          }
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }

    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    def alignToMarker(): Int = {
      nbits = 0; pendingMarker = 0
      require(pos + 1 < bytes.length, "JPEG: truncated at restart")
      require((bytes(pos) & 0xff) == 0xff, "JPEG: expected restart marker")
      val m = bytes(pos + 1) & 0xff
      pos += 2
      m
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = bit()
      var l = 1
      while (t.maxCode(l) < 0 || code > t.maxCode(l)) {
        require(l < 16, "JPEG: invalid Huffman code")
        code = (code << 1) | bit()
        l += 1
      }
      t.vals(t.valPtr(l) + code - t.minCode(l)) & 0xff
    }
  }

  /** T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Dequantize + IDCT one block (zigzag coefs in, 8×8 samples out,
    * already +128 level-shifted and clamped). DC-only blocks take the
    * exact integer shortcut mirroring the encoder's flat path.
    */
  private def idctBlock(zz: Array[Int], q: Array[Int], out: Array[Int]): Unit = {
    var acAll0 = true
    var k = 1
    while (acAll0 && k < 64) { acAll0 = zz(k) == 0; k += 1 }
    if (acAll0) {
      val v = clamp255(Math.round(zz(0).toLong * q(0) / 8.0).toInt + 128)
      java.util.Arrays.fill(out, v)
      return
    }
    val coef = new Array[Double](64)
    k = 0
    while (k < 64) {
      val nat = ZigZag(k)
      coef(nat) = zz(k).toDouble * q(nat)
      k += 1
    }
    // separable IDCT: columns then rows
    val tmp = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) InvSqrt2 else 1.0
          s += cv * coef(v * 8 + x) * CosT(yy)(v)
          v += 1
        }
        tmp(yy * 8 + x) = s
        yy += 1
      }
      x += 1
    }
    var y = 0
    while (y < 8) {
      var xx = 0
      while (xx < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) InvSqrt2 else 1.0
          s += cu * tmp(y * 8 + u) * CosT(xx)(u)
          u += 1
        }
        out(y * 8 + xx) = clamp255(Math.round(0.25 * s).toInt + 128)
        xx += 1
      }
      y += 1
    }
  }

  private final case class Comp(id: Int, hs: Int, vs: Int, tq: Int) {
    var td: Int = 0
    var ta: Int = 0
  }

  /** Area cap for PROGRESSIVE streams, tighter than [[MaxPixels]]: a
    * progressive decode must hold every component's full coefficient
    * plane (4 bytes/sample) across scans, so the worst case is ~4× the
    * pixel buffer. 2^24 px = 4096×4096 keeps that under 200 MiB while
    * still far above any sane crawl payload.
    */
  val MaxProgressivePixels: Long = 1L << 24

  /** JPEG decode (baseline SOF0 and progressive SOF2) to the canonical
    * RGB buffer.
    */
  def decodeJpeg(bytes: Array[Byte]): Image = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var dri = 0
    var progressive = false
    // progressive state: per-component zigzag coefficient grids plus the
    // EOB run that T.81 G.1.2.2 carries ACROSS blocks within a scan
    var coefStore: Array[Array[Int]] = null
    var pos = 2
    while (pos < bytes.length) {
      require((bytes(pos) & 0xff) == 0xff, f"JPEG: expected marker at $pos")
      var m = Bytes.u8(bytes, pos + 1, bytes.length)
      pos += 2
      while (m == 0xff) { require(pos < bytes.length, "JPEG: truncated"); m = bytes(pos) & 0xff; pos += 1 }
      m match {
        case 0xd9 =>
          if (progressive && coefStore != null)
            return finishProgressive(w, h, comps, quant, coefStore)
          throw new IllegalArgumentException("JPEG: EOI before SOS")
        case 0x01 => () // TEM, standalone
        case rst if rst >= 0xd0 && rst <= 0xd7 => () // stray RST, standalone
        case _ =>
          require(pos + 1 < bytes.length, "JPEG: truncated")
          val len = Bytes.u16be(bytes, pos, bytes.length)
          require(len >= 2 && pos + len <= bytes.length, s"JPEG: bad segment length $len")
          val segEnd = pos + len
          // every field read stays inside this segment
          def segU8(off: Int): Int = Bytes.u8(bytes, off, segEnd)
          def segU16(off: Int): Int = Bytes.u16be(bytes, off, segEnd)
          m match {
            case 0xdb => // DQT: one or more tables
              var p = pos + 2
              while (p < segEnd) {
                val pqTq = segU8(p)
                require((pqTq >> 4) == 0, "JPEG: 16-bit quant tables unsupported")
                val tq = pqTq & 0x0f
                require(tq < 4, s"JPEG: quant table id $tq")
                require(p + 65 <= segEnd, "JPEG: truncated DQT")
                val t = new Array[Int](64)
                var k = 0
                while (k < 64) {
                  val q = bytes(p + 1 + k) & 0xff
                  require(q > 0, "JPEG: zero quantizer")
                  t(ZigZag(k)) = q
                  k += 1
                }
                quant(tq) = t
                p += 65
              }
            case 0xc4 => // DHT: one or more tables
              var p = pos + 2
              while (p < segEnd) {
                val tcTh = segU8(p)
                val tc = tcTh >> 4; val th = tcTh & 0x0f
                require(tc <= 1 && th < 4, s"JPEG: DHT class/id $tcTh")
                require(p + 17 <= segEnd, "JPEG: truncated DHT")
                val bits = new Array[Int](16)
                var total = 0
                var k = 0
                while (k < 16) { bits(k) = bytes(p + 1 + k) & 0xff; total += bits(k); k += 1 }
                require(total <= 256 && p + 17 + total <= segEnd, "JPEG: truncated DHT values")
                val vals = java.util.Arrays.copyOfRange(bytes, p + 17, p + 17 + total)
                val tab = new HuffTable(bits, vals)
                if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
                p += 17 + total
              }
            case sof0 if sof0 == 0xc0 || sof0 == 0xc2 => // baseline / progressive
              require(comps == null, "JPEG: multiple SOF")
              progressive = sof0 == 0xc2
              require(segU8(pos + 2) == 8, "JPEG: only 8-bit precision")
              h = segU16(pos + 3); w = segU16(pos + 5)
              require(w > 0 && w <= MaxDim && h > 0 && h <= MaxDim,
                s"JPEG: bad dimensions ${w}x$h")
              require(w.toLong * h <= MaxPixels,
                s"JPEG: pixel count ${w.toLong * h} exceeds $MaxPixels")
              require(!progressive || w.toLong * h <= MaxProgressivePixels,
                s"JPEG: progressive pixel count ${w.toLong * h} exceeds $MaxProgressivePixels")
              val nc = segU8(pos + 7)
              require(nc == 1 || nc == 3, s"JPEG: $nc components unsupported")
              comps = Array.tabulate(nc) { ci =>
                val o = pos + 8 + 3 * ci
                val id = segU8(o)
                val hv = segU8(o + 1)
                val hs = hv >> 4; val vs = hv & 0x0f
                require(hs >= 1 && hs <= 2 && vs >= 1 && vs <= 2,
                  s"JPEG: sampling ${hs}x$vs unsupported")
                val tq = segU8(o + 2)
                require(tq < 4, s"JPEG: quant id $tq")
                Comp(id, if (nc == 1) 1 else hs, if (nc == 1) 1 else vs, tq)
              }
              if (progressive) {
                val hmax = comps.map(_.hs).max
                val vmax = comps.map(_.vs).max
                val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
                val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
                coefStore = comps.map(c =>
                  new Array[Int](mcusX * c.hs * mcusY * c.vs * 64))
              }
            case sof if (sof >= 0xc1 && sof <= 0xcf) && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
              throw new IllegalArgumentException(
                f"JPEG: SOF$sof%x (extended/lossless/arithmetic) unsupported")
            case 0xdd =>
              dri = segU16(pos + 2)
            case 0xda => // SOS → entropy-coded data follows
              require(comps != null, "JPEG: SOS before SOF")
              val ns = segU8(pos + 2)
              require(ns >= 1 && ns <= comps.length, s"JPEG: $ns scan components")
              val scanComps = new Array[Comp](ns)
              var k = 0
              while (k < ns) {
                val cid = segU8(pos + 3 + 2 * k)
                val tdta = segU8(pos + 4 + 2 * k)
                val comp = comps.find(_.id == cid).getOrElse(
                  throw new IllegalArgumentException(s"JPEG: SOS names unknown component $cid"))
                comp.td = tdta >> 4; comp.ta = tdta & 0x0f
                require(comp.td < 4 && comp.ta < 4, f"JPEG: SOS table selectors 0x$tdta%02x")
                scanComps(k) = comp
                k += 1
              }
              val ss = segU8(pos + 3 + 2 * ns)
              val se = segU8(pos + 4 + 2 * ns)
              val ahAl = segU8(pos + 5 + 2 * ns)
              if (!progressive) {
                require(ns == comps.length, "JPEG: partial sequential scans unsupported")
                return decodeScan(bytes, segEnd, w, h, comps, quant, dcTabs, acTabs, dri)
              }
              pos = decodeProgressiveScan(bytes, segEnd, w, h, comps, scanComps,
                coefStore, dcTabs, acTabs, dri, ss, se, ahAl >> 4, ahAl & 0x0f)
            case 0xd8 => throw new IllegalArgumentException("JPEG: nested SOI")
            case _ => () // APPn / COM / other: skip
          }
          if (m != 0xda) pos = segEnd
      }
    }
    throw new IllegalArgumentException(
      if (progressive) "JPEG: progressive stream missing EOI" else "JPEG: no SOS marker")
  }

  private def decodeScan(
      bytes: Array[Byte], start: Int, w: Int, h: Int, comps: Array[Comp],
      quant: Array[Array[Int]], dcTabs: Array[HuffTable],
      acTabs: Array[HuffTable], dri: Int): Image = {
    val nc = comps.length
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val mcuW = 8 * hmax; val mcuH = 8 * vmax
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    // per-component planes at component resolution
    val compW = comps.map(c => mcusX * 8 * c.hs)
    val compH = comps.map(c => mcusY * 8 * c.vs)
    val planes = Array.tabulate(nc)(ci => new Array[Int](compW(ci) * compH(ci)))
    comps.foreach { c =>
      require(quant(c.tq) != null, s"JPEG: quant table ${c.tq} undefined")
      require(dcTabs(c.td) != null, s"JPEG: DC table ${c.td} undefined")
      require(acTabs(c.ta) != null, s"JPEG: AC table ${c.ta} undefined")
    }
    val r = new BitReader(bytes, start)
    val preds = new Array[Int](nc)
    val zz = new Array[Int](64)
    val px = new Array[Int](64)
    var rstExpect = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          val m = r.alignToMarker()
          require(m == 0xd0 + (rstExpect & 7), f"JPEG: expected RST${rstExpect & 7} got 0x$m%02x")
          rstExpect += 1
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          val q = quant(c.tq)
          var v = 0
          while (v < c.vs) {
            var hb = 0
            while (hb < c.hs) {
              // decode one block
              java.util.Arrays.fill(zz, 0)
              val t = r.decodeHuff(dcTabs(c.td))
              require(t <= 11, s"JPEG: DC category $t")
              preds(ci) += extend(r.bits(t), t)
              zz(0) = preds(ci)
              var k = 1
              while (k < 64) {
                val rs = r.decodeHuff(acTabs(c.ta))
                val run = rs >> 4; val ta = rs & 0x0f
                if (ta == 0) {
                  if (run == 15) k += 16 // ZRL
                  else k = 64            // EOB
                } else {
                  k += run
                  require(k < 64, "JPEG: AC index overrun")
                  zz(k) = extend(r.bits(ta), ta)
                  k += 1
                }
              }
              idctBlock(zz, q, px)
              // place into the component plane
              val ox = (mx * c.hs + hb) * 8
              val oy = (my * c.vs + v) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  planes(ci)((oy + yy) * compW(ci) + ox + xx) = px(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              hb += 1
            }
            v += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    assembleRgb(w, h, comps, planes, compW)
  }

  /** Canonical RGB assembly with nearest-neighbor chroma upsampling —
    * shared by the sequential and progressive paths.
    */
  private def assembleRgb(
      w: Int, h: Int, comps: Array[Comp], planes: Array[Array[Int]],
      compW: Array[Int]): Image = {
    val nc = comps.length
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val rgb = new Array[Byte](3 * w * h)
    if (nc == 1) {
      val p = planes(0); val cw = compW(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = p(y * cw + x).toByte
          val d = 3 * (y * w + x)
          rgb(d) = g; rgb(d + 1) = g; rgb(d + 2) = g
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yv = planes(0)((y * comps(0).vs / vmax) * compW(0) + x * comps(0).hs / hmax)
          val cb = planes(1)((y * comps(1).vs / vmax) * compW(1) + x * comps(1).hs / hmax)
          val cr = planes(2)((y * comps(2).vs / vmax) * compW(2) + x * comps(2).hs / hmax)
          val d = 3 * (y * w + x)
          rgb(d) = clamp255(Math.round(yv + 1.402 * (cr - 128)).toInt).toByte
          rgb(d + 1) = clamp255(Math.round(
            yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toInt).toByte
          rgb(d + 2) = clamp255(Math.round(yv + 1.772 * (cb - 128)).toInt).toByte
          x += 1
        }
        y += 1
      }
    }
    Image(w, h, rgb)
  }

  /** One progressive scan (T.81 G.1.2): spectral band [ss, se] at
    * successive-approximation stage (ah → al) for `scanComps`, decoded
    * into the per-component zigzag coefficient grids. Returns the input
    * position of the next marker after the scan's entropy data.
    *
    * DC scans (ss = 0) may interleave all scan components in MCU order;
    * AC scans are single-component in the component's own (non-padded)
    * block raster, with the EOB run carried across blocks. Refinement
    * scans (ah > 0) read one correction bit per nonzero-history
    * coefficient they pass — the libjpeg-shape algorithm, which is the
    * published reference realization of G.1.2.3.
    */
  private def decodeProgressiveScan(
      bytes: Array[Byte], start: Int, w: Int, h: Int, comps: Array[Comp],
      scanComps: Array[Comp], coefStore: Array[Array[Int]],
      dcTabs: Array[HuffTable], acTabs: Array[HuffTable], dri: Int,
      ss: Int, se: Int, ah: Int, al: Int): Int = {
    require(ss >= 0 && se <= 63 && ss <= se, s"JPEG: spectral band $ss..$se")
    require(al <= 13 && (ah == 0 || ah == al + 1),
      s"JPEG: successive approximation $ah -> $al")
    if (ss == 0) require(se == 0, "JPEG: progressive scan mixes DC and AC")
    else require(scanComps.length == 1, "JPEG: interleaved AC scan")
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val r = new BitReader(bytes, start)
    val preds = new Array[Int](scanComps.length)
    var eobrun = 0
    var rstExpect = 0
    var unit = 0 // restart-interval counter: MCUs (interleaved) or blocks

    def restartIfDue(): Unit =
      if (dri > 0 && unit > 0 && unit % dri == 0) {
        val m = r.alignToMarker()
        require(m == 0xd0 + (rstExpect & 7),
          f"JPEG: expected RST${rstExpect & 7} got 0x$m%02x")
        rstExpect += 1
        java.util.Arrays.fill(preds, 0)
        eobrun = 0
      }

    def coefIdx(ci: Int, brow: Int, bcol: Int): Int = {
      val bwPad = mcusX * comps(ci).hs
      (brow * bwPad + bcol) * 64
    }

    def decodeDcBlock(si: Int, ci: Int, base: Int): Unit = {
      val coefs = coefStore(ci)
      if (ah == 0) {
        val c = scanComps(si)
        require(dcTabs(c.td) != null, s"JPEG: DC table ${c.td} undefined")
        val t = r.decodeHuff(dcTabs(c.td))
        require(t <= 11, s"JPEG: DC category $t")
        preds(si) += extend(r.bits(t), t)
        coefs(base) = preds(si) << al
      } else {
        if (r.bit() == 1) coefs(base) |= 1 << al
      }
    }

    def decodeAcFirstBlock(c: Comp, ci: Int, base: Int): Unit = {
      val coefs = coefStore(ci)
      if (eobrun > 0) { eobrun -= 1; return }
      var k = ss
      while (k <= se) {
        val rs = r.decodeHuff(acTabs(c.ta))
        val run = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (run < 15) { eobrun = (1 << run) - 1 + r.bits(run); k = 64 }
          else k += 16 // ZRL
        } else {
          k += run
          require(k <= se, "JPEG: AC index overrun")
          coefs(base + k) = extend(r.bits(s), s) << al
          k += 1
        }
      }
    }

    def decodeAcRefineBlock(c: Comp, ci: Int, base: Int): Unit = {
      val coefs = coefStore(ci)
      val p1 = 1 << al
      def correct(idx: Int): Unit =
        if (r.bit() == 1 && (coefs(idx) & p1) == 0)
          coefs(idx) += (if (coefs(idx) >= 0) p1 else -p1)
      var k = ss
      if (eobrun == 0) {
        var inBand = true
        while (inBand && k <= se) {
          val rs = r.decodeHuff(acTabs(c.ta))
          var run = rs >> 4; val s = rs & 0x0f
          var newval = 0
          if (s == 0) {
            if (run < 15) {
              // unlike the first-scan form, NO -1 here: the current
              // block's remaining band is consumed by the EOB correction
              // section below, which decrements for it
              eobrun = (1 << run) + r.bits(run); inBand = false
            }
            // run == 15: ZRL — skip 16 zero-history coefficients below
          } else {
            require(s == 1, s"JPEG: AC refinement magnitude $s")
            newval = if (r.bit() == 1) p1 else -p1
          }
          if (inBand) {
            var placed = false
            while (!placed && k <= se) {
              val idx = base + k
              if (coefs(idx) != 0) correct(idx)
              else if (run == 0) {
                if (s != 0) coefs(idx) = newval
                placed = true
              } else run -= 1
              k += 1
            }
            require(placed || k > se, "JPEG: refinement run overran band")
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) { // EOB region still carries correction bits
          val idx = base + k
          if (coefs(idx) != 0) correct(idx)
          k += 1
        }
        eobrun -= 1
      }
    }

    if (ss == 0 && scanComps.length > 1) {
      // interleaved DC scan in MCU order
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          restartIfDue()
          var si = 0
          while (si < scanComps.length) {
            val c = scanComps(si)
            val ci = comps.indexOf(c)
            var v = 0
            while (v < c.vs) {
              var hb = 0
              while (hb < c.hs) {
                decodeDcBlock(si, ci, coefIdx(ci, my * c.vs + v, mx * c.hs + hb))
                hb += 1
              }
              v += 1
            }
            si += 1
          }
          unit += 1
          mx += 1
        }
        my += 1
      }
    } else {
      // single-component scan in the component's own block raster
      val c = scanComps(0)
      val ci = comps.indexOf(c)
      val cw = (w * c.hs + 8 * hmax - 1) / (8 * hmax) // blocks wide (ceil)
      val ch = (h * c.vs + 8 * vmax - 1) / (8 * vmax)
      if (ss > 0) require(acTabs(c.ta) != null, s"JPEG: AC table ${c.ta} undefined")
      var brow = 0
      while (brow < ch) {
        var bcol = 0
        while (bcol < cw) {
          restartIfDue()
          val base = coefIdx(ci, brow, bcol)
          if (ss == 0) decodeDcBlock(0, ci, base)
          else if (ah == 0) decodeAcFirstBlock(c, ci, base)
          else decodeAcRefineBlock(c, ci, base)
          unit += 1
          bcol += 1
        }
        brow += 1
      }
    }
    // hand the cursor back at the next true marker (skip pad + stray RST)
    var p = r.pos
    var found = -1
    while (found < 0) {
      require(p + 1 < bytes.length, "JPEG: truncated after scan")
      if ((bytes(p) & 0xff) == 0xff) {
        val m = bytes(p + 1) & 0xff
        if (m == 0x00) p += 2
        else if (m >= 0xd0 && m <= 0xd7) p += 2
        else if (m == 0xff) p += 1
        else found = p
      } else p += 1
    }
    found
  }

  /** Final pass of a progressive decode: dequantize + IDCT every stored
    * coefficient block into component planes, then assemble RGB.
    */
  private def finishProgressive(
      w: Int, h: Int, comps: Array[Comp], quant: Array[Array[Int]],
      coefStore: Array[Array[Int]]): Image = {
    val nc = comps.length
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val compW = comps.map(c => mcusX * 8 * c.hs)
    val compH = comps.map(c => mcusY * 8 * c.vs)
    val planes = Array.tabulate(nc)(ci => new Array[Int](compW(ci) * compH(ci)))
    val zz = new Array[Int](64)
    val px = new Array[Int](64)
    var ci = 0
    while (ci < nc) {
      val c = comps(ci)
      require(quant(c.tq) != null, s"JPEG: quant table ${c.tq} undefined")
      val q = quant(c.tq)
      val bw = mcusX * c.hs
      val bh = mcusY * c.vs
      var brow = 0
      while (brow < bh) {
        var bcol = 0
        while (bcol < bw) {
          System.arraycopy(coefStore(ci), (brow * bw + bcol) * 64, zz, 0, 64)
          idctBlock(zz, q, px)
          val ox = bcol * 8; val oy = brow * 8
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((oy + yy) * compW(ci) + ox + xx) = px(yy * 8 + xx)
              xx += 1
            }
            yy += 1
          }
          bcol += 1
        }
        brow += 1
      }
      ci += 1
    }
    assembleRgb(w, h, comps, planes, compW)
  }
}
