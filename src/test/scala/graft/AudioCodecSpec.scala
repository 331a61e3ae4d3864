package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AudioCodec, AudioOps}
import graft.ops.AudioCodec.Audio

/** Byte-level ground truth for the WAV codec (the ImageCodecSpec
  * discipline on the audio lane): hand-built RIFF payloads decode
  * byte-for-byte, round-trips are identity, unknown chunks are skipped,
  * crafted headers fail as IllegalArgumentException and quarantine, and
  * the energy hash is pinned on a clip whose 65-block downsample is the
  * identity map.
  */
class AudioCodecSpec extends AnyFunSuite {

  private def le32(v: Int) = Array[Byte](
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def tag(s: String) = s.getBytes("US-ASCII")

  private def wav(rate: Int, chans: Int, pcm: Array[Byte],
      extraChunk: Array[Byte] = Array.empty): Array[Byte] =
    tag("RIFF") ++ le32(4 + 24 + extraChunk.length + 8 + pcm.length) ++ tag("WAVE") ++
      tag("fmt ") ++ le32(16) ++ le16(1) ++ le16(chans) ++ le32(rate) ++
      le32(rate * chans * 2) ++ le16(chans * 2) ++ le16(16) ++
      extraChunk ++
      tag("data") ++ le32(pcm.length) ++ pcm

  test("decodeWav parses a hand-built payload byte-for-byte") {
    // 3 frames, stereo: samples 1, -1, 300, -300, 32767, -32768
    val pcm = Array[Byte](1, 0, -1, -1, 44, 1, -44, -2, -1, 127, 0, -128)
    val a = AudioCodec.decodeWav(wav(16000, 2, pcm))
    assert(a.sampleRate == 16000 && a.channels == 2 && a.frames == 3)
    assert(a.samples.toSeq == Seq[Short](1, -1, 300, -300, 32767, -32768))
  }

  test("decodeWav skips unknown chunks before data (LIST/INFO is routine)") {
    val pcm = Array[Byte](5, 0, 6, 0)
    val list = tag("LIST") ++ le32(4) ++ tag("INFO")
    val a = AudioCodec.decodeWav(wav(8000, 1, pcm, extraChunk = list))
    assert(a.sampleRate == 8000 && a.samples.toSeq == Seq[Short](5, 6))
    // odd-sized unknown chunk: the pad byte must be skipped too
    val odd = tag("junk") ++ le32(3) ++ Array[Byte](9, 9, 9, 0)
    val b = AudioCodec.decodeWav(wav(8000, 1, pcm, extraChunk = odd))
    assert(b.samples.toSeq == Seq[Short](5, 6))
  }

  test("encode/decode round-trips are identity") {
    for ((rate, chans, n) <- Seq((8000, 1, 1), (16000, 2, 7), (44100, 2, 300))) {
      val samples = Array.tabulate(n * chans)(i => ((i * 1103 + 7) % 65536 - 32768).toShort)
      val a = AudioCodec.decodeWav(AudioCodec.encodeWav(Audio(rate, chans, samples)))
      assert(a.sampleRate == rate && a.channels == chans, s"$rate/$chans")
      assert(a.samples.toSeq == samples.toSeq, s"$rate/$chans/$n")
    }
  }

  test("crafted headers fail as IllegalArgumentException, not array errors") {
    val good = AudioCodec.encodeWav(Audio(8000, 1, Array.tabulate(80)(_.toShort)))
    def patched(off: Int, bytes: Array[Byte]): Array[Byte] = {
      val b = good.clone(); bytes.copyToArray(b, off); b
    }
    // negative data-chunk size
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(40, le32(-8))))
    // data size overrunning the payload
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(40, le32(1 << 30))))
    // zero channels (would divide by zero downstream)
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(22, le16(0))))
    // absurd sample rate fails the MaxRate bound
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(24, le32(-5))))
    // 8-bit payloads unsupported
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(34, le16(8))))
    // truncated container / wrong magic
    intercept[IllegalArgumentException](AudioCodec.decodeWav(good.take(20)))
    intercept[IllegalArgumentException](AudioCodec.decodeWav(patched(8, tag("AVI "))))
    // data bytes not whole frames of the declared channel count
    val stereo = AudioCodec.encodeWav(Audio(8000, 2, Array.tabulate(80)(_.toShort)))
    intercept[IllegalArgumentException](
      AudioCodec.decodeWav(stereo.patch(40, le32(158), 4).take(44 + 158)))
    // and the decode slot quarantines every variant instead of throwing
    for (bad <- Seq(patched(40, le32(-8)), patched(22, le16(0)), good.take(20))) {
      val m = AudioOps.realDecode(AudioOps.AudioRow(1L, bad))
      assert(m.status == "corrupt" && m.sample_rate == 0, m)
    }
    assert(AudioOps.realDecode(AudioOps.AudioRow(2L, good)).status == "ok")
  }

  test("ehash64 bits are adjacent-block energy gradients (65-sample identity)") {
    // 65 samples: each block is ONE sample, so expected bits compare |s|
    val vals = Array.tabulate(65)(i => (((i * 37 + 11) % 200) - 100).toShort)
    var expected = 0L
    for (b <- 0 until 64)
      if (math.abs(vals(b + 1).toInt) > math.abs(vals(b).toInt)) expected |= 1L << b
    assert(AudioCodec.ehash64(Audio(8000, 1, vals)) == expected)
    // too-short clips fall back through the total fingerprint slot
    val tiny = AudioCodec.encodeWav(Audio(8000, 1, Array.tabulate(10)(_.toShort)))
    assert(AudioOps.fingerprint64(tiny) == graft.ops.MultimodalOps.stubPhash64(tiny))
  }

  test("banded audio_fingerprint equals brute-force all-pairs at Hamming <= 3") {
    // needs a SparkSession — piggyback on the shared suite session
    val spark = GraftSession.local(4, "AudioCodecSpec").getOrCreate()
    val sf = "/root/testdata/sf0.001"
    val hashes = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> AudioOps.fingerprint64(
        AudioOps.buildPayload(r.getAs[String]("text").getBytes("UTF-8"))))
    val expected = (for {
      (ida, ha) <- hashes
      (idb, hb) <- hashes
      if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ida, idb, d)).toSet
    assert(expected.nonEmpty, "fixture has no near-dup clips - test is vacuous")
    val got = SparkEntry.queries("audio_fingerprint")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == expected)
  }

  test("audio_vad: PCM-walked window energies match the analytic text-byte law") {
    val spark = GraftSession.local(4, "AudioCodecSpec").getOrCreate()
    val sf = "/root/testdata/sf0.001"
    // independent replay: NOT via the codec — straight from the fixture's
    // text-byte→sample law (what the DuckDB oracle also does), so a codec
    // or window-walk bug on the op side cannot self-confirm
    val expect = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map { r =>
        val id = r.getAs[Long]("doc_id")
        val text = r.getAs[String]("text")
        val nb = text.length
        val m = math.min(math.max(nb, 1), 128)
        val channels = 1 + (nb / 32) % 2
        val frames = 256 + ((nb / 16) * 31) % 2048
        val nWin = frames * channels / AudioOps.VadWindow
        val energies = (0 until nWin).map { w =>
          16L * 40000L * (16 * w until 16 * w + 16)
            .map { b => val c = (text((b % m)).toLong - 128); c * c }.sum
        }
        id -> (nWin, energies.count(_ > AudioOps.VadThresholdEnergy),
          energies.sum)
      }.toMap
    val got = SparkEntry.queries("audio_vad")(spark, sf).collect()
    assert(got.length == expect.size)
    for (r <- got) {
      val id = r.getAs[Long]("doc_id")
      val (nWin, nAct, sumE) = expect(id)
      assert(r.getAs[Int]("n_windows") == nWin, s"doc $id")
      assert(r.getAs[Int]("n_active") == nAct, s"doc $id")
      assert(r.getAs[Long]("sum_energy") == sumE, s"doc $id")
      assert(r.getAs[Double]("active_frac") == nAct.toDouble / nWin, s"doc $id")
      assert(r.getAs[String]("status") == "ok", s"doc $id")
    }
    // the gate is REAL on this fixture: both classes occur
    val total = expect.values.map(_._1).sum
    val active = expect.values.map(_._2).sum
    assert(active > 0, "no active windows — threshold too high, gate vacuous")
    assert(active < total, "every window active — threshold too low, gate vacuous")
  }

  test("buildPayload encodes real clips; near-identical texts collide in ehash") {
    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val pa = AudioOps.buildPayload(base.getBytes("UTF-8"))
    val a = AudioCodec.decodeWav(pa)
    val nb = base.length
    assert(a.sampleRate == Seq(8000, 16000, 44100)((nb / 64) % 3))
    assert(a.channels == 1 + (nb / 32) % 2)
    assert(a.frames == 256 + ((nb / 16) * 31) % 2048)
    // tail edit beyond the 128-byte sampling prefix, same length: the
    // waveform is identical => hash distance 0
    val edited = base.dropRight(3) + "cat"
    val pb = AudioOps.buildPayload(edited.getBytes("UTF-8"))
    assert(java.lang.Long.bitCount(
      AudioOps.fingerprint64(pa) ^ AudioOps.fingerprint64(pb)) == 0)
    // rewriting the sampled prefix moves the hash far
    val front = (0 until 99).map(i => ('!' + (i * 7) % 90).toChar).mkString + base.drop(99)
    val pc = AudioOps.buildPayload(front.getBytes("UTF-8"))
    assert(java.lang.Long.bitCount(
      AudioOps.fingerprint64(pa) ^ AudioOps.fingerprint64(pc)) > 3)
  }
}
