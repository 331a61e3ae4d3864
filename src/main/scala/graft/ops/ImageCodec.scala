package graft.ops

/** Pure-JVM image codecs for the multimodal lane: binary PPM (P6),
  * uncompressed 24-bit BMP, PNG (both directions — decode via the stdlib
  * Inflater, encode as stored-deflate zlib so the byte count stays
  * oracle-analytic), decode-only GIF, and baseline JPEG both directions
  * (FDCT/IDCT + Annex-K Huffman, in [[JpegCodec]]) — the formats a
  * codec-free container can handle for real (no ImageIO plugins, no
  * native libs).
  * These are REAL
  * parsers over real encoded bytes: the header is read, validated, and
  * the pixel array extracted to a canonical row-major top-down RGB
  * buffer; a malformed payload throws. [[MultimodalOps]] uses them both
  * directions — fixtures are genuinely encoded, the decode slot
  * genuinely parses — replacing the former deterministic stub for these
  * formats (the stub remains only as the documented fallback for
  * payloads in formats this container cannot decode). Header fields are
  * read under the [[Bytes]] bounds rule, so a malformed payload throws
  * IllegalArgumentException only.
  *
  * Format notes:
  *  - PPM P6 (Netpbm): `P6` magic, whitespace-separated width, height,
  *    maxval (only 255 supported), `#` comments to end-of-line anywhere
  *    in the header, ONE whitespace byte after maxval, then 3·w·h raw
  *    RGB bytes.
  *  - BMP: 14-byte file header (`BM`, file size, pixel-data offset at
  *    byte 10) + 40-byte BITMAPINFOHEADER (width int32 LE at 18, height
  *    at 22 — positive = bottom-up, bpp 24 at 28, compression BI_RGB=0
  *    at 30). Rows are BGR, padded to 4-byte multiples, stored
  *    bottom-up; decode flips to top-down RGB.
  *  - PNG: 8-byte signature + length/type/data/CRC32 chunks. Decode
  *    supports 8-bit color types 0/2/6, filters 0-4, non-interlaced,
  *    multi-IDAT; encode writes color type 2 with filter 0 and STORED
  *    deflate blocks (see [[encodePng]] for why).
  *  - GIF87a/89a: decode-only, first image, variable-width LZW.
  */
object ImageCodec {

  /** Canonical decoded image: row-major, top-down, 3 bytes (R,G,B) per
    * pixel, length exactly 3·width·height.
    */
  final case class Image(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == 3 * width * height,
      s"rgb length ${rgb.length} != 3*$width*$height")
  }

  /** Upper bound on any parsed header dimension / maxval — generous for
    * real images (a 1M×1M frame would be 3 TB raw) while keeping every
    * product 3·w·h, dataOff+rowSize·h comfortably inside Long, so a
    * crafted header can never wrap the arithmetic its own require guards
    * check against.
    */
  val MaxDim: Int = 1 << 20

  /** Cap on total pixel COUNT (w*h), checked in Long before any
    * pixel-buffer allocation. Per-dimension bounds alone don't protect the
    * area: GIF dimensions are u16 so `MaxDim` can never fire there, yet
    * 65535x65535 wraps `w*h` negative as Int (NegativeArraySizeException —
    * outside the IllegalArgumentException-only quarantine) and a near-max
    * VALID header would force a ~12 GiB allocation before any code-stream
    * validation. PPM/BMP are implicitly area-bounded by their
    * truncated-input checks (raw pixels must be present in the payload),
    * but LZW/deflate payloads COMPRESS, so compressed formats need the
    * explicit cap. 2^26 pixels = 8192x8192 RGB = 192 MiB, far above any
    * sane crawl payload and far below the Int ceiling.
    */
  val MaxPixels: Long = 1L << 26

  // ---------------------------------------------------------------- PPM

  def encodePpm(img: Image): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  def decodePpm(bytes: Array[Byte]): Image = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 PPM")
    var pos = 2
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    // skip whitespace and '#' comments (to end of line)
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < bytes.length && isWs(bytes(pos))) pos += 1
        if (pos < bytes.length && bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        s"PPM header: digit expected at byte $pos")
      var v = 0L
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0')
        // bound BEFORE the next digit so long runs can't wrap even Long
        require(v <= MaxDim, s"PPM header: value $v exceeds $MaxDim")
        pos += 1
      }
      v.toInt
    }
    val w = readInt()
    val h = readInt()
    require(w > 0 && h > 0, s"PPM: bad dimensions ${w}x$h")
    val maxval = readInt()
    require(maxval == 255, s"PPM maxval $maxval unsupported (only 255)")
    // exactly ONE whitespace byte separates the header from pixel data
    require(pos < bytes.length && isWs(bytes(pos)), "PPM: missing data separator")
    pos += 1
    val n = 3L * w * h // Long: MaxDim² pixels would wrap an Int product
    require(bytes.length - pos == n,
      s"PPM: ${bytes.length - pos} data bytes for ${w}x$h (want $n)")
    val rgb = new Array[Byte](n.toInt)
    System.arraycopy(bytes, pos, rgb, 0, n.toInt)
    Image(w, h, rgb)
  }

  // ---------------------------------------------------------------- BMP

  /** Padded bytes per stored row: 3·w rounded up to a 4-byte multiple. */
  def bmpRowSize(width: Int): Int = (3 * width + 3) / 4 * 4

  def encodeBmp(img: Image): Array[Byte] = {
    val rowSize = bmpRowSize(img.width)
    val dataSize = rowSize * img.height
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'; out(1) = 'M'
    Bytes.putI32le(out, 2, out.length) // file size
    Bytes.putI32le(out, 10, 54)        // pixel-data offset
    Bytes.putI32le(out, 14, 40)        // BITMAPINFOHEADER size
    Bytes.putI32le(out, 18, img.width)
    Bytes.putI32le(out, 22, img.height) // positive: bottom-up
    out(26) = 1                   // planes
    out(28) = 24                  // bpp
    Bytes.putI32le(out, 30, 0)          // BI_RGB
    Bytes.putI32le(out, 34, dataSize)
    var y = 0
    while (y < img.height) {
      // stored bottom-up, BGR
      val srcRow = img.height - 1 - y
      var x = 0
      while (x < img.width) {
        val s = 3 * (srcRow * img.width + x)
        val d = 54 + y * rowSize + 3 * x
        out(d) = img.rgb(s + 2)     // B
        out(d + 1) = img.rgb(s + 1) // G
        out(d + 2) = img.rgb(s)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  def decodeBmp(bytes: Array[Byte]): Image = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val dataOff = Bytes.i32le(bytes, 10, bytes.length)
    // int32 header fields are UNTRUSTED: a negative/huge offset or width
    // must fail THESE requires (IllegalArgumentException → quarantine),
    // never escape as NegativeArraySize/IndexOutOfBounds downstream.
    require(dataOff >= 54 && dataOff <= bytes.length,
      s"BMP: pixel-data offset $dataOff out of range")
    val dibSize = Bytes.i32le(bytes, 14, bytes.length)
    require(dibSize >= 40, s"BMP: DIB header $dibSize unsupported")
    val w = Bytes.i32le(bytes, 18, bytes.length)
    require(w > 0 && w <= MaxDim, s"BMP: bad width $w")
    val hRaw = Bytes.i32le(bytes, 22, bytes.length)
    require(hRaw > 0, "BMP: top-down (negative height) unsupported")
    require(hRaw <= MaxDim, s"BMP: bad height $hRaw")
    val bpp = Bytes.u16le(bytes, 28, bytes.length)
    require(bpp == 24, s"BMP: $bpp bpp unsupported (only 24)")
    require(Bytes.i32le(bytes, 30, bytes.length) == 0, "BMP: compressed payload unsupported")
    val rowSize = bmpRowSize(w)
    // size check in Long — MaxDim bounds keep every product exact
    require(bytes.length >= dataOff.toLong + rowSize.toLong * hRaw,
      "BMP: truncated pixel data")
    val rgb = new Array[Byte](3 * w * hRaw)
    var y = 0
    while (y < hRaw) {
      val srcRow = hRaw - 1 - y // stored bottom-up
      var x = 0
      while (x < w) {
        val s = dataOff + srcRow * rowSize + 3 * x
        val d = 3 * (y * w + x)
        rgb(d) = bytes(s + 2)     // R
        rgb(d + 1) = bytes(s + 1) // G
        rgb(d + 2) = bytes(s)     // B
        x += 1
      }
      y += 1
    }
    Image(w, hRaw, rgb)
  }

  // ---------------------------------------------------------------- GIF

  /** GIF87a encoder — closes the last decode-only asymmetry (every
    * other format here is bidirectional). A REAL adaptive
    * variable-width LZW compressor, not a literal-spam shortcut: the
    * dictionary grows to the 12-bit cap, then a CLEAR code resets it
    * (the interop-safe choice: deferred-clear streams are valid GIF87a
    * but some strict legacy decoders mishandle a full table with no
    * reset), code widths bump exactly when the DECODER's will
    * (encoder tracks next = decoder_next + 1, so its bump test is
    * `next == (1 << width) + 1` where the decoder's is `next == 1 <<
    * width` — including the virtual tail add that mirrors the
    * decoder's entry for the final data code, whose bump governs the
    * width EOI is read at). Palette = the image's distinct colors in
    * ascending packed-RGB order, padded to a power of two; images with
    * more than 256 distinct colors are REJECTED (quantization is a
    * lossy design decision no encoder should take silently), as are
    * dimensions outside u16 and areas past [[MaxPixels]] — the same
    * untrusted-input posture as the decoder, applied to encode inputs.
    */
  def encodeGif(img: Image): Array[Byte] = {
    val w = img.width; val h = img.height
    require(w >= 1 && w <= 0xffff && h >= 1 && h <= 0xffff,
      s"GIF encode: dimensions ${w}x$h outside u16")
    require(w.toLong * h <= MaxPixels,
      s"GIF encode: pixel count ${w.toLong * h} exceeds $MaxPixels")
    val n = w * h
    // palette: distinct packed colors, ascending (deterministic bytes)
    val colorSet = new java.util.TreeSet[Integer]
    var i = 0
    while (i < n) {
      val c = ((img.rgb(3 * i) & 0xff) << 16) |
        ((img.rgb(3 * i + 1) & 0xff) << 8) | (img.rgb(3 * i + 2) & 0xff)
      if (colorSet.add(c))
        require(colorSet.size <= 256,
          "GIF encode: more than 256 distinct colors — quantize first")
      i += 1
    }
    val palette = new Array[Int](colorSet.size)
    val colorIdx = new java.util.HashMap[Integer, Integer]
    val it = colorSet.iterator()
    var ci = 0
    while (it.hasNext) { val c = it.next(); palette(ci) = c; colorIdx.put(c, ci); ci += 1 }
    var tabBits = 1
    while ((1 << tabBits) < palette.length) tabBits += 1 // 1..8
    val minCode = math.max(2, tabBits)
    // indices
    val idx = new Array[Int](n)
    i = 0
    while (i < n) {
      val c = ((img.rgb(3 * i) & 0xff) << 16) |
        ((img.rgb(3 * i + 1) & 0xff) << 8) | (img.rgb(3 * i + 2) & 0xff)
      idx(i) = colorIdx.get(c)
      i += 1
    }
    // LZW, LSB-first bit packing
    val clear = 1 << minCode
    val eoi = clear + 1
    val lzw = new Bytes.Buffer
    var acc = 0L
    var nbits = 0
    var width = minCode + 1
    var next = eoi + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << nbits; nbits += width
      while (nbits >= 8) {
        lzw.byte(acc.toInt); acc >>>= 8; nbits -= 8
      }
    }
    // decoder adds its entry one code LATER than the encoder, so the
    // encoder's next runs one ahead and every bump test shifts by one
    def addEntry(): Unit =
      if (next < (1 << 12)) {
        next += 1
        if (next == (1 << width) + 1 && width < 12) width += 1
      }
    put(clear)
    val dict = new java.util.HashMap[Integer, Integer]
    var cur = idx(0)
    i = 1
    while (i < n) {
      val key = Integer.valueOf((cur << 8) | idx(i))
      val e = dict.get(key)
      if (e != null) cur = e.intValue()
      else {
        put(cur)
        if (next < (1 << 12)) {
          dict.put(key, next)
          addEntry()
        } else {
          // table full: emit CLEAR (at the current 12-bit width — the
          // decoder's width is still 12 when it reads it) and reset
          // dictionary/width on both sides, instead of the r14
          // deferred-clear stream (valid GIF87a and round-tripped our
          // decoder, but some strict legacy decoders mishandle
          // full-table no-clear streams). The decoder's clear branch
          // resets next/width/prev identically; the first code emitted
          // after the reset is necessarily a literal (cur can only be a
          // dictionary code via a dict hit, and the dict is now empty),
          // which is exactly what the decoder requires post-clear.
          put(clear)
          dict.clear()
          width = minCode + 1
          next = eoi + 1
        }
        cur = idx(i)
      }
      i += 1
    }
    put(cur)
    addEntry() // mirrors the decoder's entry for the final data code
    put(eoi)
    if (nbits > 0) lzw.byte(acc.toInt)
    val code = lzw.result()
    // assemble: header + LSD + global table + descriptor + sub-blocks
    val tableN = 1 << tabBits
    val nBlocks = (code.length + 254) / 255
    val out = new Bytes.Buffer
    out.append("GIF87a".getBytes("US-ASCII"))
    out.u16le(w); out.u16le(h)
    out.append(Array[Byte](
      (0x80 | ((tabBits - 1) << 4) | (tabBits - 1)).toByte, 0, 0))
    val table = new Array[Byte](3 * tableN)
    i = 0
    while (i < palette.length) {
      table(3 * i) = (palette(i) >> 16).toByte
      table(3 * i + 1) = (palette(i) >> 8).toByte
      table(3 * i + 2) = palette(i).toByte
      i += 1
    }
    out.append(table)
    out.append(Array[Byte](0x2c, 0, 0, 0, 0)) // descriptor, left/top 0
    out.u16le(w); out.u16le(h)
    out.append(Array[Byte](0, minCode.toByte)) // flags, LZW min code
    var off = 0
    var b = 0
    while (b < nBlocks) {
      val sz = math.min(255, code.length - off)
      out.byte(sz)
      out.append(code, off, sz)
      off += sz; b += 1
    }
    out.append(Array[Byte](0, 0x3b)) // data terminator + trailer
    out.result()
  }

  /** GIF87a/89a decoder — the encode twin is [[encodeGif]] (this
    * widens the REAL domain of the decode slot to payloads a crawl
    * actually serves). Parses the logical screen descriptor, global and
    * local color tables, skips 89a extension blocks, and inflates the
    * first image's variable-width LZW code stream (clear/EOI handling,
    * dictionary growth to the 12-bit cap) into color indices mapped
    * through the active palette to the canonical RGB buffer. Interlaced
    * images and truncated/overfull code streams are rejected as
    * IllegalArgumentException — the quarantine contract. Header fields
    * are untrusted: dimensions are bounds-checked against [[MaxDim]] and
    * the w*h area against [[MaxPixels]] (in Long) before any allocation.
    */
  def decodeGif(bytes: Array[Byte]): Image = {
    require(bytes.length >= 13, "GIF: truncated header")
    val magic = new String(bytes, 0, 6, "US-ASCII")
    require(magic == "GIF87a" || magic == "GIF89a", s"GIF: bad magic '$magic'")
    var pos = 6
    val sw = Bytes.u16le(bytes, pos, bytes.length)
    val sh = Bytes.u16le(bytes, pos + 2, bytes.length)
    val packed = bytes(pos + 4) & 0xff
    pos += 7
    var palette: Array[Byte] = null
    if ((packed & 0x80) != 0) { // global color table
      val n = 1 << ((packed & 7) + 1)
      require(pos + 3 * n <= bytes.length, "GIF: truncated global color table")
      palette = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
      pos += 3 * n
    }
    while (pos < bytes.length) {
      (bytes(pos) & 0xff) match {
        case 0x21 => // extension: label byte + data sub-blocks
          pos += 2
          while ({
            require(pos < bytes.length, "GIF: truncated extension")
            val sz = bytes(pos) & 0xff; pos += 1 + sz; sz != 0
          }) ()
        case 0x2c => // image descriptor
          require(pos + 10 <= bytes.length, "GIF: truncated image descriptor")
          val w = Bytes.u16le(bytes, pos + 5, bytes.length)
          val h = Bytes.u16le(bytes, pos + 7, bytes.length)
          require(w > 0 && w <= MaxDim && h > 0 && h <= MaxDim,
            s"GIF: bad dimensions ${w}x$h (screen ${sw}x$sh)")
          // Area bound in Long BEFORE any w*h Int product: u16 dims always
          // pass the MaxDim check, but 65535x65535 wraps w*h negative.
          require(w.toLong * h <= MaxPixels,
            s"GIF: pixel count ${w.toLong * h} exceeds $MaxPixels")
          val ip = bytes(pos + 9) & 0xff
          require((ip & 0x40) == 0, "GIF: interlaced images unsupported")
          pos += 10
          if ((ip & 0x80) != 0) { // local color table wins
            val n = 1 << ((ip & 7) + 1)
            require(pos + 3 * n <= bytes.length, "GIF: truncated local color table")
            palette = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
            pos += 3 * n
          }
          require(palette != null, "GIF: no color table")
          require(pos < bytes.length, "GIF: missing LZW code size")
          val minCode = bytes(pos) & 0xff
          require(minCode >= 2 && minCode <= 8, s"GIF: LZW min code $minCode")
          pos += 1
          // collect the sub-blocked code stream
          val data = new Bytes.Buffer
          while ({
            require(pos < bytes.length, "GIF: truncated image data")
            val sz = bytes(pos) & 0xff
            require(pos + 1 + sz <= bytes.length, "GIF: truncated data sub-block")
            data.append(bytes, pos + 1, sz)
            pos += 1 + sz
            sz != 0
          }) ()
          val indices = lzwDecode(data.result(), minCode, w * h)
          val nColors = palette.length / 3
          val rgb = new Array[Byte](3 * w * h)
          var i = 0
          while (i < w * h) {
            val ci = indices(i) & 0xff
            require(ci < nColors, s"GIF: color index $ci outside $nColors-entry table")
            rgb(3 * i) = palette(3 * ci)
            rgb(3 * i + 1) = palette(3 * ci + 1)
            rgb(3 * i + 2) = palette(3 * ci + 2)
            i += 1
          }
          return Image(w, h, rgb)
        case 0x3b => throw new IllegalArgumentException("GIF: trailer before image")
        case b => throw new IllegalArgumentException(f"GIF: unknown block 0x$b%02x")
      }
    }
    throw new IllegalArgumentException("GIF: no image descriptor")
  }

  /** GIF-variant LZW: codes read LSB-first at widths minCode+1..12,
    * dictionary of (prefix, suffix) pairs reset on CLEAR, the classic
    * "code == next" self-reference case handled, output capped at
    * exactly `expect` pixels (a stream yielding too few pixels is
    * rejected; extra codes past the cap are ignored per the spec's
    * tolerance for padded streams).
    */
  private def lzwDecode(data: Array[Byte], minCode: Int, expect: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val maxCodes = 1 << 12
    val prefix = new Array[Int](maxCodes)
    val suffix = new Array[Byte](maxCodes)
    val out = new Array[Byte](expect)
    var outLen = 0
    var next = eoi + 1
    var width = minCode + 1
    var prev = -1
    var acc = 0L
    var nbits = 0
    var bytePos = 0
    // decode one code's expansion into out (reversed walk via stack)
    val stack = new Array[Byte](maxCodes)
    def emit(code: Int): Unit = {
      var top = 0
      var c = code
      while (c >= clear) { // dictionary entry: walk prefixes
        require(top < stack.length, "GIF: LZW chain loop")
        stack(top) = suffix(c); top += 1; c = prefix(c)
      }
      require(outLen + top + 1 <= expect, "GIF: LZW stream overruns pixel count")
      out(outLen) = c.toByte; outLen += 1
      while (top > 0) { top -= 1; out(outLen) = stack(top); outLen += 1 }
    }
    def firstChar(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var done = false
    while (!done && outLen < expect) {
      while (nbits < width && bytePos < data.length) {
        acc |= (data(bytePos) & 0xffL) << nbits
        nbits += 8; bytePos += 1
      }
      require(nbits >= width, "GIF: LZW stream exhausted before pixel count")
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>>= width; nbits -= width
      if (code == clear) {
        next = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        require(code < clear, "GIF: first code after clear not a literal")
        emit(code); prev = code
      } else {
        require(code <= next, s"GIF: code $code beyond dictionary $next")
        if (next < maxCodes) {
          prefix(next) = prev
          suffix(next) = firstChar(if (code == next) prev else code).toByte
          next += 1
        }
        emit(code)
        if (next == (1 << width) && width < 12) width += 1
        prev = code
      }
    }
    require(outLen == expect, s"GIF: LZW yielded $outLen of $expect pixels")
    out
  }

  // ------------------------------------------------------------- common

  /** Magic-byte sniff: Some("ppm") / Some("bmp") / Some("gif") / None. */
  // ---------------------------------------------------------------- PNG

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG encoder — critical chunks only (IHDR / one IDAT / IEND), 8-bit
    * truecolor (color type 2), filter 0 on every scanline, and a
    * hand-written zlib stream of STORED (uncompressed) deflate blocks
    * with a real Adler32 and real per-chunk CRC32s. Stored blocks are
    * deliberate: the encoded size becomes an EXACT analytic function of
    * the dimensions — `63 + 5*ceil(raw/65535) + raw` with
    * `raw = h*(1+3w)` — which keeps every media op that re-encodes
    * (multimodal_meta byte counts, media_thumbnail out_bytes) fully
    * DuckDB-oracle-checkable, something a compressed stream could never
    * be. Any standard PNG reader (and [[decodePng]]) inflates it.
    */
  def encodePng(img: Image): Array[Byte] = {
    val w = img.width; val h = img.height
    val stride = 1 + 3 * w
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) { // filter byte 0 + the row's RGB
      System.arraycopy(img.rgb, 3 * y * w, raw, y * stride + 1, 3 * w)
      y += 1
    }
    val nBlocks = (raw.length + 65534) / 65535
    val zLen = 2 + 5 * nBlocks + raw.length + 4
    val out = new Array[Byte](8 + 25 + 12 + zLen + 12)
    System.arraycopy(PngSig, 0, out, 0, 8)
    // IHDR
    Bytes.putI32be(out, 8, 13)
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    Bytes.putI32be(out, 16, w); Bytes.putI32be(out, 20, h)
    out(24) = 8; out(25) = 2 // bit depth 8, truecolor; compression/filter/interlace 0
    val crc = new java.util.zip.CRC32()
    crc.update(out, 12, 4 + 13)
    Bytes.putI32be(out, 29, crc.getValue.toInt)
    // IDAT: zlib header + stored deflate blocks + adler32
    Bytes.putI32be(out, 33, zLen)
    out(37) = 'I'; out(38) = 'D'; out(39) = 'A'; out(40) = 'T'
    var p = 41
    out(p) = 0x78; out(p + 1) = 0x01; p += 2 // zlib: deflate, 32K window, no dict
    var off = 0
    while (off < raw.length) {
      val n = math.min(65535, raw.length - off)
      out(p) = if (off + n == raw.length) 1 else 0 // BFINAL, BTYPE=00 (stored)
      out(p + 1) = (n & 0xff).toByte; out(p + 2) = (n >>> 8).toByte
      out(p + 3) = (~n & 0xff).toByte; out(p + 4) = ((~n >>> 8) & 0xff).toByte
      System.arraycopy(raw, off, out, p + 5, n)
      p += 5 + n; off += n
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw, 0, raw.length)
    Bytes.putI32be(out, p, adler.getValue.toInt); p += 4
    crc.reset(); crc.update(out, 37, 4 + zLen)
    Bytes.putI32be(out, p, crc.getValue.toInt); p += 4
    // IEND
    Bytes.putI32be(out, p, 0)
    out(p + 4) = 'I'; out(p + 5) = 'E'; out(p + 6) = 'N'; out(p + 7) = 'D'
    crc.reset(); crc.update(out, p + 4, 4)
    Bytes.putI32be(out, p + 8, crc.getValue.toInt)
    out
  }

  /** PNG decoder — critical-chunk (IHDR/IDAT/IEND), 8-bit depth, color
    * types 0 (grayscale, expanded), 2 (truecolor) and 6 (truecolor+alpha,
    * alpha dropped), scanline filters 0–4 (None/Sub/Up/Average/Paeth),
    * non-interlaced. The inflate step is stdlib `java.util.zip.Inflater`,
    * so REAL compressed streams decode, not just [[encodePng]]'s stored
    * blocks. Interlaced images, other bit depths/color types, and
    * malformed payloads reject as IllegalArgumentException — the
    * quarantine contract. Untrusted-header hardening: per-dimension
    * [[MaxDim]] and Long-arithmetic [[MaxPixels]] area bounds BEFORE any
    * allocation, chunk lengths bounds-checked in Long against the input,
    * per-chunk CRC32 validation, and a decompression bomb cannot
    * overshoot (output array is exact-sized; a stream yielding too few
    * or too many bytes is rejected).
    */
  def decodePng(bytes: Array[Byte]): Image = {
    require(bytes.length >= 8 + 25 + 12, "PNG: truncated")
    var i = 0
    while (i < 8) {
      require(bytes(i) == PngSig(i), "PNG: bad signature"); i += 1
    }
    var pos = 8
    var w = 0; var h = 0; var colorType = -1
    var seenIhdr = false; var seenIend = false
    val idat = new Bytes.Buffer
    val crc = new java.util.zip.CRC32()
    while (!seenIend) {
      require(pos + 8 <= bytes.length, "PNG: truncated chunk header")
      val len = Bytes.i32be(bytes, pos, bytes.length)
      require(len >= 0, s"PNG: negative chunk length $len")
      val ctype = Bytes.tag(bytes, pos + 4, bytes.length)
      require(pos + 8L + len + 4L <= bytes.length, s"PNG: truncated $ctype chunk")
      val end = pos + 12 + len
      crc.reset(); crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == Bytes.i32be(bytes, pos + 8 + len, end),
        s"PNG: CRC mismatch on $ctype")
      ctype match {
        case "IHDR" =>
          require(!seenIhdr && len == 13, "PNG: bad IHDR")
          w = Bytes.i32be(bytes, pos + 8, end); h = Bytes.i32be(bytes, pos + 12, end)
          require(w > 0 && w <= MaxDim && h > 0 && h <= MaxDim,
            s"PNG: bad dimensions ${w}x$h")
          require(w.toLong * h <= MaxPixels,
            s"PNG: pixel count ${w.toLong * h} exceeds $MaxPixels")
          require((bytes(pos + 16) & 0xff) == 8, "PNG: only 8-bit depth supported")
          colorType = bytes(pos + 17) & 0xff
          require(colorType == 0 || colorType == 2 || colorType == 6,
            s"PNG: color type $colorType unsupported")
          require(bytes(pos + 18) == 0 && bytes(pos + 19) == 0,
            "PNG: unknown compression/filter method")
          require(bytes(pos + 20) == 0, "PNG: interlaced images unsupported")
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, "PNG: IDAT before IHDR")
          idat.append(bytes, pos + 8, len)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks skipped (CRC still validated)
      }
      pos = end
    }
    require(seenIhdr, "PNG: missing IHDR")
    val bpp = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
    // raw size fits Int: MaxPixels*4 + MaxDim rows = 2^28 + 2^20
    val stride = 1 + w * bpp
    val raw = new Array[Byte](h * stride)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.result())
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n =
          try inf.inflate(raw, off, raw.length - off)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"PNG: corrupt deflate stream: ${e.getMessage}")
          }
        if (n == 0 && inf.needsInput())
          throw new IllegalArgumentException("PNG: truncated deflate stream")
        off += n
      }
      require(off == raw.length, "PNG: decompressed data short")
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        val extra =
          try inf.inflate(probe, 0, 1)
          catch { case _: java.util.zip.DataFormatException => 0 }
        require(extra == 0, "PNG: decompressed data overlong")
      }
    } finally inf.end()
    // unfilter in place: each row's reconstructed bytes live at
    // raw(y*stride+1 ..), so `up` reads the PREVIOUS row already unfiltered
    val rowBytes = w * bpp
    var y = 0
    while (y < h) {
      val f = raw(y * stride) & 0xff
      val base = y * stride + 1
      val prevBase = base - stride
      var x = 0
      f match {
        case 0 => ()
        case 1 => // Sub
          x = bpp
          while (x < rowBytes) {
            raw(base + x) = (raw(base + x) + raw(base + x - bpp)).toByte; x += 1
          }
        case 2 => // Up
          if (y > 0) while (x < rowBytes) {
            raw(base + x) = (raw(base + x) + raw(prevBase + x)).toByte; x += 1
          }
        case 3 => // Average
          while (x < rowBytes) {
            val a = if (x >= bpp) raw(base + x - bpp) & 0xff else 0
            val b = if (y > 0) raw(prevBase + x) & 0xff else 0
            raw(base + x) = (raw(base + x) + ((a + b) >> 1)).toByte; x += 1
          }
        case 4 => // Paeth
          while (x < rowBytes) {
            val a = if (x >= bpp) raw(base + x - bpp) & 0xff else 0
            val b = if (y > 0) raw(prevBase + x) & 0xff else 0
            val c = if (y > 0 && x >= bpp) raw(prevBase + x - bpp) & 0xff else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            raw(base + x) = (raw(base + x) + pred).toByte; x += 1
          }
        case bad => throw new IllegalArgumentException(s"PNG: filter type $bad")
      }
      y += 1
    }
    // to canonical RGB
    val rgb = new Array[Byte](3 * w * h)
    y = 0
    while (y < h) {
      val base = y * stride + 1
      var xp = 0
      while (xp < w) {
        val d = 3 * (y * w + xp)
        colorType match {
          case 0 =>
            val g = raw(base + xp)
            rgb(d) = g; rgb(d + 1) = g; rgb(d + 2) = g
          case 2 =>
            val s = base + 3 * xp
            rgb(d) = raw(s); rgb(d + 1) = raw(s + 1); rgb(d + 2) = raw(s + 2)
          case _ =>
            val s = base + 4 * xp // RGBA: alpha dropped
            rgb(d) = raw(s); rgb(d + 1) = raw(s + 1); rgb(d + 2) = raw(s + 2)
        }
        xp += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  def sniff(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') Some("ppm")
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') Some("bmp")
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8') Some("gif")
    else if (bytes.length >= 8 && bytes(0) == PngSig(0) && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) Some("jpeg")
    else None

  def decode(bytes: Array[Byte]): Image = sniff(bytes) match {
    case Some("ppm") => decodePpm(bytes)
    case Some("bmp") => decodeBmp(bytes)
    case Some("gif") => decodeGif(bytes)
    case Some("png") => decodePng(bytes)
    case Some("jpeg") => JpegCodec.decodeJpeg(bytes)
    case _ => throw new IllegalArgumentException("unknown image format")
  }

  /** Classic dHash over the decoded image: grayscale, box-average
    * downsample to a 9×8 grid, one gradient bit per horizontally
    * adjacent cell pair (bit set iff right cell is strictly brighter).
    * Cell comparisons use exact integer cross-multiplication
    * (s1·a0 > s0·a1), never float division, so the hash is
    * bit-reproducible everywhere. Requires width ≥ 9 and height ≥ 8.
    */
  def dhash64(img: Image): Long = {
    require(img.width >= 9 && img.height >= 8, "dhash needs >= 9x8 pixels")
    val sums = new Array[Long](72)  // 9 cols x 8 rows, gray sums (3x gray)
    val areas = new Array[Long](72) // pixel counts per cell
    var cy = 0
    while (cy < 8) {
      val y0 = cy * img.height / 8
      val y1 = (cy + 1) * img.height / 8
      var cx = 0
      while (cx < 9) {
        val x0 = cx * img.width / 9
        val x1 = (cx + 1) * img.width / 9
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = 3 * (y * img.width + x)
            // 3·gray = r+g+b — the /3 cancels in the cross-compare
            s += (img.rgb(p) & 0xff) + (img.rgb(p + 1) & 0xff) + (img.rgb(p + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        sums(cy * 9 + cx) = s
        areas(cy * 9 + cx) = (x1 - x0).toLong * (y1 - y0)
        cx += 1
      }
      cy += 1
    }
    var h = 0L
    var b = 0
    while (b < 64) {
      val cy = b / 8
      val cx = b % 8
      val i0 = cy * 9 + cx
      val i1 = i0 + 1
      // mean(i1) > mean(i0) via exact cross-multiplication
      if (sums(i1) * areas(i0) > sums(i0) * areas(i1)) h |= (1L << b)
      b += 1
    }
    h
  }
}
