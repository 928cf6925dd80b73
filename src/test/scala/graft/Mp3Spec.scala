package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Mp3

/** MPEG-1 Layer III frame walker: pack→parse round-trips (VBR,
  * padding, CRC protection, ID3 tags), closed-form arithmetic, and
  * the loud-failure contract on every malformed/reserved structure. */
class Mp3Spec extends AnyFunSuite {

  test("round-trip: VBR frames with padding, frame lengths match the spec formula") {
    val bidx = Seq(1, 5, 9, 14, 7, 7)
    val pads = Seq(true, false, true, true, false, false)
    val a = Mp3.parse(Mp3.pack(1, 2, bidx, pads, seed = 42))
    assert(a.sampleRate == 48000 && a.channels == 2 && a.nFrames == 6)
    assert(a.frames.map(_.bitrateKbps) == bidx.map(Mp3.BitrateKbps))
    assert(a.frames.map(_.padded) == pads)
    val expectLens = bidx.zip(pads).map { case (b, p) =>
      144000 * Mp3.BitrateKbps(b) / 48000 + (if (p) 1 else 0) }
    assert(a.frames.map(_.frameLen) == expectLens)
    assert(a.audioBytes == expectLens.map(_.toLong).sum)
    assert(a.durationMs == 6L * 1152L * 1000L / 48000L)
    // frame offsets are the running length sum
    assert(a.frames.map(_.offset) == expectLens.scanLeft(0)(_ + _).init)
  }

  test("CRC-16 protection: written CRCs verify; a flipped side-info bit fails loudly") {
    val good = Mp3.pack(0, 1, Seq(9, 9, 9), Seq(false, true, false),
      seed = 7, protection = true)
    val a = Mp3.parse(good)
    assert(a.nFrames == 3 && a.frames.forall(_.crcPresent))
    // flip one side-info byte in frame 0 (bytes 6.. after header+crc)
    val broken = good.clone(); broken(8) = (broken(8) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](Mp3.parse(broken))
    assert(e.getMessage.contains("CRC-16"), e.getMessage)
  }

  test("ID3v2 prefix and ID3v1 tail are skipped; tag bytes never count as audio") {
    val plain = Mp3.parse(Mp3.pack(2, 2, Seq(4, 4), Seq(false, false), seed = 3))
    val tagged = Mp3.parse(Mp3.pack(2, 2, Seq(4, 4), Seq(false, false), seed = 3,
      id3Size = 200, id3v1Tail = true))
    assert(tagged.nFrames == plain.nFrames && tagged.audioBytes == plain.audioBytes)
    assert(tagged.sampleRate == 32000)
    // an ID3v2 size field pointing past the end fails loudly
    val overrun = Mp3.pack(2, 2, Seq(4), Seq(false), id3Size = 50).take(40)
    val e = intercept[IllegalArgumentException](Mp3.parse(overrun))
    assert(e.getMessage.contains("ID3v2"), e.getMessage)
  }

  test("loud contract: bad sync, reserved codes, MPEG-2, free bitrate, truncation") {
    val good = Mp3.pack(1, 1, Seq(6, 6), Seq(false, false), seed = 1)
    def broken(f: Array[Byte] => Unit): Array[Byte] = { val b = good.clone(); f(b); b }
    // sync destroyed
    val e1 = intercept[IllegalArgumentException](Mp3.parse(broken(_(0) = 0x12)))
    assert(e1.getMessage.contains("sync"), e1.getMessage)
    // MPEG-2 version code (bits 4-3 = 10)
    val e2 = intercept[IllegalArgumentException](
      Mp3.parse(broken(b => b(1) = ((b(1) & ~0x18) | 0x10).toByte)))
    assert(e2.getMessage.contains("MPEG version"), e2.getMessage)
    // Layer I code (bits 2-1 = 11)
    val e3 = intercept[IllegalArgumentException](
      Mp3.parse(broken(b => b(1) = (b(1) | 0x06).toByte)))
    assert(e3.getMessage.contains("layer"), e3.getMessage)
    // free-format bitrate (0) and forbidden (15)
    val e4 = intercept[IllegalArgumentException](
      Mp3.parse(broken(b => b(2) = (b(2) & 0x0f).toByte)))
    assert(e4.getMessage.contains("free-format"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException](
      Mp3.parse(broken(b => b(2) = (b(2) | 0xf0).toByte)))
    assert(e5.getMessage.contains("forbidden"), e5.getMessage)
    // reserved sample-rate code (3)
    val e6 = intercept[IllegalArgumentException](
      Mp3.parse(broken(b => b(2) = (b(2) | 0x0c).toByte)))
    assert(e6.getMessage.contains("sample-rate"), e6.getMessage)
    // truncated mid-frame
    val e7 = intercept[IllegalArgumentException](Mp3.parse(good.dropRight(5)))
    assert(e7.getMessage.contains("overruns"), e7.getMessage)
    // rate change mid-stream
    val mixed = Mp3.pack(0, 1, Seq(6), Seq(false)) ++ Mp3.pack(1, 1, Seq(6), Seq(false))
    val e8 = intercept[IllegalArgumentException](Mp3.parse(mixed))
    assert(e8.getMessage.contains("changed mid-stream"), e8.getMessage)
  }
}
