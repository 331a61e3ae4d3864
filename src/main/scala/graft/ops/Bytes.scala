package graft.ops

/** The media codecs' byte layer: 8/16/32-bit little- and big-endian reads
  * and writes, four-character tags, and the one growable [[Buffer]]
  * ([[ImageCodec]], [[JpegCodec]], [[AudioCodec]] and [[AviCodec]] keep no
  * private copies).
  *
  * Bounds rule for untrusted input: every read takes `end`, the end of its
  * enclosing segment or chunk (at most the array length), and a read that
  * would cross it fails through `require` — an IllegalArgumentException,
  * the one failure the decode slots' quarantine catch expects. A read never
  * reaches past its own segment into the next one. The check runs once per
  * field; a per-sample or per-pixel loop checks its whole span once with
  * [[need]] and then indexes directly. Writes go to arrays the caller
  * sized, and are unchecked.
  */
object Bytes {

  /** Fails unless the `n` bytes at `off` lie before `end`, and `end` inside `a`. */
  def need(a: Array[Byte], off: Int, n: Int, end: Int): Unit =
    require(off >= 0 && off <= end - n && end <= a.length,
      s"read of $n bytes at $off overruns end $end")

  def u8(a: Array[Byte], off: Int, end: Int): Int = {
    need(a, off, 1, end)
    a(off) & 0xff
  }

  def u16le(a: Array[Byte], off: Int, end: Int): Int = {
    need(a, off, 2, end)
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8)
  }

  def i32le(a: Array[Byte], off: Int, end: Int): Int = {
    need(a, off, 4, end)
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
      ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)
  }

  def u16be(a: Array[Byte], off: Int, end: Int): Int = {
    need(a, off, 2, end)
    ((a(off) & 0xff) << 8) | (a(off + 1) & 0xff)
  }

  def i32be(a: Array[Byte], off: Int, end: Int): Int = {
    need(a, off, 4, end)
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
      ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)
  }

  /** Four-character code (RIFF chunk id, PNG chunk type) as ASCII. */
  def tag(a: Array[Byte], off: Int, end: Int): String = {
    need(a, off, 4, end)
    new String(a, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
  }

  def putU16le(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = v.toByte
    a(off + 1) = (v >>> 8).toByte
  }

  def putI32le(a: Array[Byte], off: Int, v: Int): Unit = {
    putU16le(a, off, v)
    putU16le(a, off + 2, v >>> 16)
  }

  def putI32be(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte; a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte; a(off + 3) = v.toByte
  }

  def putTag(a: Array[Byte], off: Int, t: String): Unit = {
    var i = 0
    while (i < 4) { a(off + i) = t.charAt(i).toByte; i += 1 }
  }

  /** Growable byte buffer for writers whose output size is not known up
    * front (GIF's LZW stream, JPEG's entropy-coded data, PNG's IDAT
    * concatenation); capacity doubles, so appends are amortized O(1).
    */
  final class Buffer {
    private var buf = new Array[Byte](256)
    private var len = 0

    private def reserve(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, len + n))

    def byte(b: Int): Unit = {
      reserve(1)
      buf(len) = b.toByte; len += 1
    }

    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      reserve(n)
      System.arraycopy(src, off, buf, len, n); len += n
    }

    def append(src: Array[Byte]): Unit = append(src, 0, src.length)

    def u16le(v: Int): Unit = { byte(v); byte(v >>> 8) }

    def u16be(v: Int): Unit = { byte(v >>> 8); byte(v) }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }
}
