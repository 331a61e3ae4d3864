package graft.ops

/** Pure-JVM WAV (RIFF / 16-bit PCM) codec — the audio lane's
  * [[ImageCodec]] twin, making the multimodal layer genuinely
  * multi-MODAL: real RIFF headers parsed and validated, real
  * little-endian PCM sample extraction, unknown chunks skipped the way
  * a real reader must (a LIST/INFO chunk before `data` is routine).
  * Malformed payloads fail as IllegalArgumentException so the decode
  * slot's quarantine catch ([[AudioOps]]) stays total: every field is
  * untrusted and read under the [[Bytes]] bounds rule, and size
  * arithmetic runs in Long. The RIFF chunk walk, the PCM format block and
  * s16le sample packing below are shared with [[AviCodec]].
  *
  * Layout (canonical minimal writer, tolerant reader):
  *   "RIFF" <fileSize-8 : u32le> "WAVE"
  *   "fmt " <16 : u32le> <1=PCM : u16le> <channels : u16le>
  *          <sampleRate : u32le> <byteRate : u32le>
  *          <blockAlign : u16le> <16 bits : u16le>
  *   "data" <dataBytes : u32le> <interleaved s16le samples>
  */
object AudioCodec {

  /** Canonical decoded clip: interleaved 16-bit samples, frame-major
    * (`samples.length == frames · channels`).
    */
  final case class Audio(sampleRate: Int, channels: Int, samples: Array[Short]) {
    require(channels > 0 && samples.length % channels == 0,
      s"${samples.length} samples not a multiple of $channels channels")
    def frames: Int = samples.length / channels
  }

  /** Bounds for untrusted header fields (same role as
    * [[ImageCodec.MaxDim]]): keep every derived product inside Long and
    * reject absurd headers outright.
    */
  val MaxRate: Int = 1 << 20
  val MaxChannels: Int = 64

  /** One RIFF chunk: four-character `id`, header offset `off`, payload
    * `size`; the payload runs from [[data]] to [[end]].
    */
  private[ops] final case class Chunk(id: String, off: Int, size: Int) {
    def data: Int = off + 8
    def end: Int = off + 8 + size
  }

  /** The one RIFF chunk walk (WAV's top level and all four of AVI's):
    * chunks in `[from, end)`, each size checked against `end` (the message
    * names the codec and the enclosing `scope`), odd sizes followed by
    * their pad byte.
    */
  private[ops] def chunks(a: Array[Byte], from: Int, end: Int,
      codec: String, scope: String): Iterator[Chunk] = new Iterator[Chunk] {
    private var pos = from
    def hasNext: Boolean = pos + 8 <= end
    def next(): Chunk = {
      val id = Bytes.tag(a, pos, end)
      val sz = Bytes.i32le(a, pos + 4, end)
      require(sz >= 0 && pos + 8L + sz <= end,
        s"$codec: chunk '$id' size $sz overruns $scope")
      val c = Chunk(id, pos, sz)
      pos += 8 + sz + (sz & 1)
      c
    }
  }

  /** The 16-byte PCMWAVEFORMAT block (WAV's `fmt `, AVI's audio `strf`),
    * fields as read; each decoder applies its own checks.
    */
  private[ops] final case class PcmFormat(
      formatTag: Int, channels: Int, rate: Int, byteRate: Int,
      blockAlign: Int, bits: Int)

  private[ops] def readPcmFormat(a: Array[Byte], off: Int, end: Int): PcmFormat =
    PcmFormat(Bytes.u16le(a, off, end), Bytes.u16le(a, off + 2, end),
      Bytes.i32le(a, off + 4, end), Bytes.i32le(a, off + 8, end),
      Bytes.u16le(a, off + 12, end), Bytes.u16le(a, off + 14, end))

  /** Writes the 16-bit PCM format block for `clip` at `off`. */
  private[ops] def writePcmFormat(a: Array[Byte], off: Int, clip: Audio): Unit = {
    Bytes.putU16le(a, off, 1)                                       // PCM
    Bytes.putU16le(a, off + 2, clip.channels)
    Bytes.putI32le(a, off + 4, clip.sampleRate)
    Bytes.putI32le(a, off + 8, clip.sampleRate * clip.channels * 2) // byte rate
    Bytes.putU16le(a, off + 12, clip.channels * 2)                  // block align
    Bytes.putU16le(a, off + 14, 16)                                 // bits/sample
  }

  /** Packs `samples(from until until)` as s16le at `off`. */
  private[ops] def packS16(samples: Array[Short], from: Int, until: Int,
      out: Array[Byte], off: Int): Unit = {
    var i = from
    while (i < until) {
      Bytes.putU16le(out, off + 2 * (i - from), samples(i))
      i += 1
    }
  }

  /** Unpacks `n` s16le samples at `off`; the span is checked against `end`
    * once.
    */
  private[ops] def unpackS16(a: Array[Byte], off: Int, n: Int, end: Int): Array[Short] = {
    Bytes.need(a, off, 2 * n, end)
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((a(off + 2 * i) & 0xff) | ((a(off + 2 * i + 1) & 0xff) << 8)).toShort
      i += 1
    }
    samples
  }

  def encodeWav(clip: Audio): Array[Byte] = {
    val dataBytes = 2 * clip.samples.length
    val out = new Array[Byte](44 + dataBytes)
    Bytes.putTag(out, 0, "RIFF"); Bytes.putI32le(out, 4, out.length - 8)
    Bytes.putTag(out, 8, "WAVE")
    Bytes.putTag(out, 12, "fmt "); Bytes.putI32le(out, 16, 16)
    writePcmFormat(out, 20, clip)
    Bytes.putTag(out, 36, "data"); Bytes.putI32le(out, 40, dataBytes)
    packS16(clip.samples, 0, clip.samples.length, out, 44)
    out
  }

  def decodeWav(bytes: Array[Byte]): Audio = {
    require(sniff(bytes) && bytes.length >= 44, "not a RIFF/WAVE payload")
    // fmt must precede data; unknown chunks skipped
    var fmt: PcmFormat = null
    val it = chunks(bytes, 12, bytes.length, "WAV", "payload")
    while (it.hasNext) {
      val c = it.next()
      if (c.id == "fmt ") {
        require(c.size >= 16, s"WAV: fmt chunk size ${c.size}")
        fmt = readPcmFormat(bytes, c.data, c.end)
        require(fmt.formatTag == 1, "WAV: only PCM supported")
        require(fmt.channels >= 1 && fmt.channels <= MaxChannels,
          s"WAV: ${fmt.channels} channels")
        require(fmt.rate >= 1 && fmt.rate <= MaxRate, s"WAV: bad sample rate ${fmt.rate}")
        require(fmt.bits == 16, "WAV: only 16-bit supported")
      } else if (c.id == "data") {
        require(fmt != null, "WAV: data chunk before fmt")
        require(c.size % 2 == 0, s"WAV: odd data size ${c.size}")
        require(c.size.toLong % (2L * fmt.channels) == 0,
          s"WAV: ${c.size} data bytes not whole frames of ${fmt.channels} channels")
        return Audio(fmt.rate, fmt.channels, unpackS16(bytes, c.data, c.size / 2, c.end))
      }
    }
    throw new IllegalArgumentException("WAV: no data chunk")
  }

  /** Magic sniff: RIFF/WAVE container. */
  def sniff(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && Bytes.tag(bytes, 0, 12) == "RIFF" &&
      Bytes.tag(bytes, 8, 12) == "WAVE"

  /** 64-bit energy-gradient fingerprint — the audio twin of
    * [[ImageCodec.dhash64]]: per-channel-agnostic |sample| energy summed
    * into 65 equal time blocks, one gradient bit per adjacent block pair
    * (bit set iff the later block is strictly louder). Integer sums and
    * comparisons only — bit-reproducible everywhere. Requires at least
    * 65 samples.
    */
  def ehash64(clip: Audio): Long = {
    val n = clip.samples.length
    require(n >= 65, "ehash needs >= 65 samples")
    val blocks = new Array[Long](65)
    var i = 0
    while (i < n) {
      val s = clip.samples(i)
      blocks((i.toLong * 65L / n).toInt) += math.abs(s.toLong)
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < 64) {
      if (blocks(b + 1) > blocks(b)) h |= (1L << b)
      b += 1
    }
    h
  }
}
