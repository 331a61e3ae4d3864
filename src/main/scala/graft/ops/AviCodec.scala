package graft.ops

/** Pure-JVM MJPEG-in-AVI container codec — the video lane's
  * [[AudioCodec]]/[[ImageCodec]] sibling, completing the multimodal
  * layer's last synthetic modality: a REAL RIFF form is written and
  * parsed (the same chunk grammar AudioCodec walks for WAV, one nesting
  * level deeper), and every frame payload is a REAL baseline JPEG
  * ([[JpegCodec]]) decoded through the full marker/Huffman/IDCT path.
  *
  * Layout (canonical minimal writer, tolerant reader — the classic
  * pre-OpenDML AVI 1.0 form, msdn AVIMAINHEADER/AVISTREAMHEADER/
  * BITMAPINFOHEADER field order):
  * {{{
  *   "RIFF" <fileSize-8 : u32le> "AVI "
  *     "LIST" <sz> "hdrl"
  *       "avih" <56> MicroSecPerFrame MaxBytesPerSec PaddingGranularity
  *                   Flags(0x10 HASINDEX) TotalFrames InitialFrames
  *                   Streams(1) SuggestedBufferSize Width Height
  *                   Reserved[4]
  *       "LIST" <sz> "strl"
  *         "strh" <56> fccType('vids') fccHandler('MJPG') Flags Priority
  *                     (u16) Language(u16) InitialFrames Scale Rate Start
  *                     Length SuggestedBufferSize Quality SampleSize
  *                     rcFrame{l,t,r,b : 4×u16}
  *         "strf" <40> biSize(40) biWidth biHeight biPlanes(1, u16)
  *                     biBitCount(24, u16) biCompression('MJPG')
  *                     biSizeImage biXPels biYPels biClrUsed biClrImportant
  *     "LIST" <sz> "movi"
  *       per frame: "00dc" <sz> <JPEG bytes> [pad byte if sz odd]
  *     "idx1" <16·n> per frame: "00dc" Flags(0x10 KEYFRAME)
  *                              offset-from-movi-list-start size
  * }}}
  *
  * Untrusted-header hardening: every field is read under the [[Bytes]]
  * bounds rule, all size arithmetic runs in Long, dimension/frame-count
  * caps reject absurd headers outright, and every malformed payload fails
  * as IllegalArgumentException so the decode slot's quarantine catch
  * stays total. The RIFF chunk walk (which skips unknown chunks and LISTs
  * the way a real reader must, pad bytes included), the PCM format block
  * and s16le packing are [[AudioCodec]]'s, shared with WAV.
  */
object AviCodec {

  /** Stream metadata from the parsed headers — everything [[MultimodalOps
    * .videoMeta]] reports, derived from avih/strh/strf, never from frame
    * payloads.
    */
  final case class AviMeta(
      width: Int, height: Int, rate: Int, scale: Int, nFrames: Int) {
    /** Integer frames-per-second; the canonical writer always uses
      * scale = 1. Exact only when scale divides rate.
      */
    def fps: Int = rate / scale
  }

  /** Full container content: video metadata + undecoded frame payloads +
    * the PCM audio stream when the file carries one ('auds' strl +
    * interleaved '01wb' chunks — [[encodeAviAv]] writes it,
    * [[decodeAviFull]] parses it).
    */
  final case class AviContent(
      meta: AviMeta, frames: IndexedSeq[Array[Byte]],
      audio: Option[AudioCodec.Audio])

  /** Caps for untrusted header fields (same role as
    * [[ImageCodec.MaxDim]]/[[ImageCodec.MaxPixels]]).
    */
  val MaxDim: Int = ImageCodec.MaxDim
  val MaxPixels: Long = ImageCodec.MaxPixels
  val MaxFrames: Int = 1 << 16
  val MaxRate: Int = 1 << 20
  /** Cap on total interleaved PCM bytes a header may declare. */
  val MaxAudioBytes: Long = 1L << 28

  /** Encode pre-encoded JPEG frame payloads as a minimal MJPEG AVI; with
    * `audio`, the canonical two-stream A/V form: a second 'strl' (strh
    * 'auds' + 16-byte PCMWAVEFORMAT strf with the MS PCM conventions
    * dwScale = nBlockAlign, dwRate = nAvgBytesPerSec, dwSampleSize =
    * nBlockAlign, dwLength = sample-frames), and the audio split into one
    * '01wb' chunk per video frame, interleaved 00dc/01wb the way a real
    * muxer keeps streams seekable; idx1 indexes every stream chunk in file
    * order. Deterministic byte-for-byte (AviCodecSpec pins a hand-built
    * file of each form).
    */
  def encodeAvi(
      width: Int, height: Int, fps: Int, frames: Seq[Array[Byte]],
      audio: Option[AudioCodec.Audio] = None): Array[Byte] = {
    require(width >= 1 && width <= MaxDim && height >= 1 && height <= MaxDim,
      s"AVI: bad dimensions $width x $height")
    // canonical-writer invariants tighter than the tolerant reader's caps:
    // the output must round-trip through decodeAvi (MaxPixels), and rcFrame
    // carries u16 fields, so dims beyond 0xffff would truncate silently
    require(width.toLong * height <= MaxPixels,
      s"AVI: $width x $height exceeds MaxPixels")
    require(width <= 0xffff && height <= 0xffff,
      s"AVI: $width x $height exceeds rcFrame u16 range")
    require(fps >= 1 && fps <= MaxRate, s"AVI: bad fps $fps")
    require(frames.nonEmpty && frames.length <= MaxFrames,
      s"AVI: ${frames.length} frames")
    audio.foreach { a =>
      require(a.sampleRate >= 1 && a.sampleRate <= AudioCodec.MaxRate,
        s"AVI: bad audio rate ${a.sampleRate}")
      require(a.channels <= AudioCodec.MaxChannels, s"AVI: ${a.channels} channels")
      require(2L * a.samples.length <= MaxAudioBytes, "AVI: audio too long")
    }
    val n = frames.length
    val blockAlign = audio.fold(0)(2 * _.channels)
    // even split of the audio across n interleaved '01wb' chunks: chunk i
    // carries sample-frames [aFrames·i/n, aFrames·(i+1)/n)
    def sliceStart(i: Int): Int = audio.fold(0)(a => ((a.frames.toLong * i) / n).toInt)
    // movi chunks in file order: (id, payload size)
    val chunks = (0 until n).flatMap { i =>
      ("00dc", frames(i).length) +: audio.toSeq.map(_ =>
        ("01wb", (sliceStart(i + 1) - sliceStart(i)) * blockAlign))
    }
    val hdrlSize = 4 + (8 + 56) +
      (8 + 4 + (8 + 56) + (8 + 40)) +                  // video strl
      audio.fold(0)(_ => 8 + 4 + (8 + 56) + (8 + 16))  // audio strl
    val moviSize = 4 + chunks.map { case (_, sz) => 8L + sz + (sz & 1) }.sum
    val idx1Size = 16L * chunks.length
    val riffSize = 4L + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)
    require(riffSize + 8 <= Int.MaxValue, "AVI: file exceeds RIFF 1.0 bounds")
    val out = new Array[Byte]((riffSize + 8).toInt)
    var p = 0
    def chunkHeader(t: String, sz: Int): Unit = {
      Bytes.putTag(out, p, t); Bytes.putI32le(out, p + 4, sz); p += 8
    }
    def list(sz: Int, t: String): Unit = {
      chunkHeader("LIST", sz); Bytes.putTag(out, p, t); p += 4
    }
    def i32(off: Int, v: Int): Unit = Bytes.putI32le(out, p + off, v)
    // zero fields are left as allocated
    chunkHeader("RIFF", riffSize.toInt); Bytes.putTag(out, p, "AVI "); p += 4
    list(hdrlSize, "hdrl")
    chunkHeader("avih", 56)
    i32(0, 1000000 / fps)                   // dwMicroSecPerFrame
    i32(12, 0x10)                           // dwFlags: AVIF_HASINDEX
    i32(16, n)                              // dwTotalFrames
    i32(24, 1 + audio.size)                 // dwStreams
    i32(32, width); i32(36, height)
    p += 56
    list(4 + 64 + 48, "strl")
    chunkHeader("strh", 56)
    Bytes.putTag(out, p, "vids"); Bytes.putTag(out, p + 4, "MJPG")
    i32(20, 1)                              // dwScale
    i32(24, fps)                            // dwRate
    i32(32, n)                              // dwLength (frames)
    i32(40, -1)                             // dwQuality (default)
    Bytes.putU16le(out, p + 52, width); Bytes.putU16le(out, p + 54, height) // rcFrame r,b
    p += 56
    chunkHeader("strf", 40)
    i32(0, 40)                              // biSize
    i32(4, width); i32(8, height)
    Bytes.putU16le(out, p + 12, 1)          // biPlanes
    Bytes.putU16le(out, p + 14, 24)         // biBitCount
    Bytes.putTag(out, p + 16, "MJPG")       // biCompression
    i32(20, 3 * width * height)             // biSizeImage (uncompressed)
    p += 40
    audio.foreach { a =>
      list(4 + 64 + 24, "strl")
      chunkHeader("strh", 56)
      Bytes.putTag(out, p, "auds")          // fccType; fccHandler stays 0
      i32(20, blockAlign)                   // dwScale = nBlockAlign
      i32(24, a.sampleRate * blockAlign)    // dwRate = nAvgBytesPerSec
      i32(32, a.frames)                     // dwLength (sample-frames)
      i32(40, -1)                           // dwQuality (default)
      i32(44, blockAlign)                   // dwSampleSize
      p += 56
      chunkHeader("strf", 16)
      AudioCodec.writePcmFormat(out, p, a)
      p += 16
    }
    list(moviSize.toInt, "movi")
    val moviListStart = p - 4 // idx1 offsets are relative to the 'movi' tag
    val offsets = new Array[Int](chunks.length)
    var k = 0
    while (k < chunks.length) {
      val (id, sz) = chunks(k)
      val i = k / (1 + audio.size) // the video frame this chunk rides with
      offsets(k) = p - moviListStart
      chunkHeader(id, sz)
      if (id == "00dc") System.arraycopy(frames(i), 0, out, p, sz)
      else audio.foreach(a => AudioCodec.packS16(a.samples,
        sliceStart(i) * a.channels, sliceStart(i + 1) * a.channels, out, p))
      p += sz + (sz & 1) // even alignment
      k += 1
    }
    chunkHeader("idx1", idx1Size.toInt)
    k = 0
    while (k < chunks.length) {
      val (id, sz) = chunks(k)
      Bytes.putTag(out, p, id)
      i32(4, if (id == "00dc") 0x10 else 0) // AVIIF_KEYFRAME on video
      i32(8, offsets(k))
      i32(12, sz)
      p += 16
      k += 1
    }
    out
  }

  /** The A/V form of [[encodeAvi]]: MJPEG frames + an interleaved 16-bit
    * PCM stream ([[AudioCodec.Audio]] supplies the payload — the WAV
    * lane's clip type, muxed instead of wrapped).
    */
  def encodeAviAv(
      width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]], audio: AudioCodec.Audio): Array[Byte] =
    encodeAvi(width, height, fps, frames, Some(audio))

  /** Magic sniff: RIFF/AVI container. */
  def sniff(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && Bytes.tag(bytes, 0, 12) == "RIFF" &&
      Bytes.tag(bytes, 8, 12) == "AVI "

  /** Single-stream view of [[decodeAviFull]]: video metadata + frame
    * payloads (audio, if the file carries a stream, is parsed, validated
    * and dropped — the video_meta/frame_sample consumers are audio-blind
    * by contract).
    */
  def decodeAvi(bytes: Array[Byte]): (AviMeta, IndexedSeq[Array[Byte]]) = {
    val c = decodeAviFull(bytes)
    (c.meta, c.frames)
  }

  /** Parse the container: headers validated against the caps, movi walked
    * for the stream chunks (video payloads returned UNDECODED — callers
    * feed them to [[JpegCodec.decodeJpeg]] per sampled frame, so
    * header-only consumers like videoMeta never pay entropy decode),
    * idx1 (when present) cross-checked entry-for-entry (id, offset, size)
    * against the walked chunks of BOTH streams. Strict on the invariants
    * a well-formed writer guarantees: stream 0 vids/MJPG with dims
    * consistent across avih/strh/strf and frame count consistent across
    * avih/strh/movi; the optional stream 1 auds/PCM with strh
    * scale/rate/sampleSize matching the strf block-align/byte-rate and
    * '01wb' byte total matching the declared sample-frame length.
    */
  def decodeAviFull(bytes: Array[Byte]): AviContent = {
    require(bytes.length >= 24 && sniff(bytes), "not a RIFF/AVI payload")
    val riffSize = Bytes.i32le(bytes, 4, bytes.length)
    require(riffSize >= 4 && 8L + riffSize <= bytes.length,
      s"AVI: RIFF size $riffSize overruns payload")
    def i32(off: Int, end: Int): Int = Bytes.i32le(bytes, off, end)
    def walk(from: Int, end: Int, scope: String) =
      AudioCodec.chunks(bytes, from, end, "AVI", scope)
    def listTag(c: AudioCodec.Chunk): String =
      if (c.id == "LIST" && c.size >= 4) Bytes.tag(bytes, c.data, c.end) else ""
    var w = 0; var h = 0; var rate = 0; var scale = 0
    var totalFrames = -1; var strhLength = -1
    var nStreams = 0
    var haveAvih = false; var haveStrh = false; var haveStrf = false
    // audio stream state (nStreams == 2)
    var aFmt: AudioCodec.PcmFormat = null
    var aByteRate = 0; var aBlockAlign = 0; var aLength = -1
    var haveAStrh = false
    var strlSeen = 0
    // every indexed stream chunk (video AND audio) in file order, for idx1
    val streamChunks = scala.collection.mutable.ArrayBuffer.empty[AudioCodec.Chunk]
    var moviListStart = -1
    var idx1: AudioCodec.Chunk = null

    def walkStrl(c: AudioCodec.Chunk, streamIdx: Int): Unit =
      walk(c.data + 4, c.end, "strl").foreach { f =>
        val (d, e) = (f.data, f.end)
        if (f.id == "strh" && streamIdx == 0) {
          require(f.size >= 56, s"AVI: strh size ${f.size}")
          require(Bytes.tag(bytes, d, e) == "vids", "AVI: stream 0 is not video")
          val handler = Bytes.tag(bytes, d + 4, e)
          require(handler == "MJPG", s"AVI: handler '$handler' not MJPG")
          scale = i32(d + 20, e)
          rate = i32(d + 24, e)
          strhLength = i32(d + 32, e)
          require(scale >= 1 && rate >= 1 && rate <= MaxRate,
            s"AVI: bad rate/scale $rate/$scale")
          // fps = rate/scale integer-divides to 0 when scale > rate — a
          // sub-1fps stream is outside the canonical-writer family; reject
          // rather than report fps=0
          require(scale <= rate,
            s"AVI: scale $scale > rate $rate (sub-1fps stream)")
          haveStrh = true
        } else if (f.id == "strf" && streamIdx == 0) {
          require(haveStrh, "AVI: strf before strh")
          require(f.size >= 40, s"AVI: strf size ${f.size}")
          require(i32(d + 4, e) == w && i32(d + 8, e) == h,
            "AVI: strf dimensions disagree with avih")
          require(Bytes.tag(bytes, d + 16, e) == "MJPG",
            "AVI: strf compression not MJPG")
          haveStrf = true
        } else if (f.id == "strh" && streamIdx == 1) {
          require(f.size >= 56, s"AVI: strh size ${f.size}")
          require(Bytes.tag(bytes, d, e) == "auds", "AVI: stream 1 is not audio")
          // MS PCM conventions: dwScale = nBlockAlign, dwRate =
          // nAvgBytesPerSec, dwLength = sample-frames, dwSampleSize =
          // nBlockAlign; cross-checked against strf below
          aBlockAlign = i32(d + 20, e)
          aByteRate = i32(d + 24, e)
          aLength = i32(d + 32, e)
          val sampleSize = i32(d + 44, e)
          require(aBlockAlign >= 1 && aByteRate >= 1,
            s"AVI: bad audio scale/rate $aBlockAlign/$aByteRate")
          require(aLength >= 0 && aLength.toLong * aBlockAlign <= MaxAudioBytes,
            s"AVI: audio length $aLength exceeds cap")
          require(sampleSize == aBlockAlign,
            s"AVI: audio sampleSize $sampleSize != blockAlign $aBlockAlign")
          haveAStrh = true
        } else if (f.id == "strf" && streamIdx == 1) {
          require(haveAStrh, "AVI: audio strf before strh")
          require(f.size >= 16, s"AVI: audio strf size ${f.size}")
          val fmt = AudioCodec.readPcmFormat(bytes, d, e)
          require(fmt.formatTag == 1, "AVI: audio format not PCM")
          require(fmt.channels >= 1 && fmt.channels <= AudioCodec.MaxChannels,
            s"AVI: ${fmt.channels} audio channels")
          require(fmt.rate >= 1 && fmt.rate <= AudioCodec.MaxRate,
            s"AVI: bad audio rate ${fmt.rate}")
          require(fmt.bits == 16, s"AVI: ${fmt.bits}-bit audio (16-bit PCM only)")
          require(fmt.blockAlign == 2 * fmt.channels,
            s"AVI: blockAlign ${fmt.blockAlign} != 2 x ${fmt.channels} channels")
          require(fmt.blockAlign == aBlockAlign && fmt.byteRate == aByteRate,
            "AVI: audio strf disagrees with strh scale/rate")
          require(fmt.byteRate == fmt.rate * fmt.blockAlign,
            s"AVI: byteRate ${fmt.byteRate} != rate x blockAlign")
          aFmt = fmt
        }
      }

    def walkHdrl(c: AudioCodec.Chunk): Unit =
      walk(c.data + 4, c.end, "hdrl").foreach { f =>
        if (f.id == "avih") {
          val (d, e) = (f.data, f.end)
          require(f.size >= 56, s"AVI: avih size ${f.size}")
          nStreams = i32(d + 24, e)
          require(nStreams == 1 || nStreams == 2,
            s"AVI: $nStreams streams (supported: 1 video, optional audio)")
          totalFrames = i32(d + 16, e)
          w = i32(d + 32, e)
          h = i32(d + 36, e)
          require(w >= 1 && w <= MaxDim && h >= 1 && h <= MaxDim,
            s"AVI: bad dimensions $w x $h")
          require(w.toLong * h <= MaxPixels, s"AVI: $w x $h exceeds MaxPixels")
          require(totalFrames >= 1 && totalFrames <= MaxFrames,
            s"AVI: bad frame count $totalFrames")
          haveAvih = true
        } else if (listTag(f) == "strl") {
          require(haveAvih, "AVI: strl before avih")
          require(strlSeen < nStreams,
            s"AVI: more strl lists than the $nStreams declared streams")
          walkStrl(f, strlSeen)
          strlSeen += 1
        }
      }

    var nFrames = 0
    def walkMovi(c: AudioCodec.Chunk): Unit =
      walk(c.data + 4, c.end, "movi").foreach { f =>
        // 00dc = compressed video, 00db = uncompressed-convention tag some
        // writers still use for JPEG frames — accept both, like a player;
        // 01wb = stream-1 audio data
        if (f.id == "00dc" || f.id == "00db") {
          require(nFrames < MaxFrames, "AVI: too many frame chunks")
          nFrames += 1
          streamChunks += f
        } else if (f.id == "01wb") {
          require(nStreams == 2 && aFmt != null,
            "AVI: audio chunk without an audio stream")
          streamChunks += f
        }
      }

    walk(12, 8 + riffSize, "payload").foreach { c =>
      listTag(c) match {
        case "hdrl" => walkHdrl(c)
        case "movi" =>
          require(haveAvih && haveStrh && haveStrf,
            "AVI: movi before complete headers")
          require(nStreams == 1 || (haveAStrh && aFmt != null),
            "AVI: movi before complete audio headers")
          moviListStart = c.data
          walkMovi(c)
        case _ => if (c.id == "idx1") idx1 = c // unknown LISTs (INFO etc.) skipped
      }
    }
    require(haveAvih && haveStrh && haveStrf, "AVI: incomplete headers")
    require(moviListStart >= 0, "AVI: no movi list")
    require(nFrames == totalFrames,
      s"AVI: avih declares $totalFrames frames, movi carries $nFrames")
    require(strhLength == totalFrames,
      s"AVI: strh length $strhLength disagrees with avih $totalFrames")
    if (idx1 != null) {
      require(idx1.size == 16 * streamChunks.length,
        s"AVI: idx1 carries ${idx1.size / 16} entries for " +
          s"${streamChunks.length} stream chunks")
      streamChunks.iterator.zipWithIndex.foreach { case (c, i) =>
        val e = idx1.data + 16 * i
        val id = Bytes.tag(bytes, e, idx1.end)
        require(id == c.id,
          s"AVI: idx1 entry $i id '$id' disagrees with walked chunk '${c.id}'")
        // offsets are relative to the 'movi' fourcc position in the
        // canonical form; some writers emit absolute file offsets — a
        // tolerant reader accepts either, but the entry must point at
        // THIS chunk's header
        val off = i32(e + 8, idx1.end)
        require(off == c.off - moviListStart || off == c.off,
          s"AVI: idx1 entry $i offset $off points at neither relative " +
            s"${c.off - moviListStart} nor absolute ${c.off}")
        require(i32(e + 12, idx1.end) == c.size,
          s"AVI: idx1 entry $i size disagrees with chunk")
      }
    }
    def payload(c: AudioCodec.Chunk): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, c.data, c.end)
    val frames = streamChunks.iterator.filter(_.id != "01wb").map(payload).toIndexedSeq
    val audioChunks = streamChunks.filter(_.id == "01wb")
    val audio =
      if (nStreams == 1) {
        require(audioChunks.isEmpty, "AVI: audio chunks in a 1-stream file")
        None
      } else {
        require(aFmt != null, "AVI: incomplete audio headers")
        val total = audioChunks.iterator.map(_.size.toLong).sum
        require(total == aLength.toLong * aBlockAlign,
          s"AVI: audio carries $total bytes, strh declares " +
            s"${aLength.toLong * aBlockAlign}")
        // chunk sizes may be odd, so a sample can straddle two chunks
        val data = new Array[Byte](total.toInt)
        var o = 0
        audioChunks.foreach { c =>
          System.arraycopy(bytes, c.data, data, o, c.size); o += c.size
        }
        Some(AudioCodec.Audio(aFmt.rate, aFmt.channels,
          AudioCodec.unpackS16(data, 0, data.length / 2, data.length)))
      }
    AviContent(AviMeta(w, h, rate, scale, totalFrames), frames, audio)
  }
}
