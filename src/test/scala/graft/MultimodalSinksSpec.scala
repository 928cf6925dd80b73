package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

/** Multimodal plumbing: container header walks, pixel and frame
  * decode. */
class MultimodalSinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("real container headers: PNG/BMP/JPEG from the JDK's own encoders decode correctly") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def encode(fmt: String, img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"JDK has no $fmt writer")
      bos.toByteArray
    }
    val rgb = new BufferedImage(37, 21, BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(3, 4, 0xff8800) // non-trivial content
    val gray = new BufferedImage(5, 9, BufferedImage.TYPE_BYTE_GRAY)

    val png = Multimodal.decode(1L, encode("png", rgb))
    assert((png.width, png.height, png.channels, png.format) == ((37, 21, 3, "png")), png)
    val pngGray = Multimodal.decode(2L, encode("png", gray))
    assert((pngGray.width, pngGray.height, pngGray.channels, pngGray.format) == ((5, 9, 1, "png")), pngGray)
    val bmp = Multimodal.decode(3L, encode("bmp", rgb))
    assert((bmp.width, bmp.height, bmp.channels, bmp.format) == ((37, 21, 3, "bmp")), bmp)
    val jpg = Multimodal.decode(4L, encode("jpg", rgb))
    assert((jpg.width, jpg.height, jpg.channels, jpg.format) == ((37, 21, 3, "jpeg")), jpg)
  }

  test("real container headers: WAV from the JDK's own javax.sound writer decodes correctly") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    def wavBytes(rate: Float, channels: Int, bits: Int, nFrames: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate, bits, channels, true, false)
      val pcm = new Array[Byte](nFrames * channels * (bits / 8))
      scala.util.Random.javaRandomToRandom(new java.util.Random(7)).nextBytes(pcm)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 16 kHz mono 16-bit, 1600 frames = exactly 100 ms
    val mono = Multimodal.decodeWav(wavBytes(16000f, 1, 16, 1600))
    assert(mono == Multimodal.WavMeta(16000, 1, 16, 1600L, 100.0, pcm = true), mono)
    // 44.1 kHz stereo 16-bit, 4410 frames = 100 ms
    val stereo = Multimodal.decodeWav(wavBytes(44100f, 2, 16, 4410))
    assert(stereo == Multimodal.WavMeta(44100, 2, 16, 4410L, 100.0, pcm = true), stereo)
    // the shared dispatch maps audio into the Decoded shape, not the stub
    val d = Multimodal.decode(9L, wavBytes(8000f, 1, 8, 800))
    assert((d.width, d.height, d.channels, d.format) == ((8000, 8, 1, "wav")), d)
    // garbled: a truncated container without fmt/data must throw, not zero
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeWav("RIFF\u0000\u0000\u0000\u0000WAVEjunk".getBytes("ISO-8859-1") ++
        new Array[Byte](40)))
    assert(e.getMessage.contains("fmt"), e.getMessage)
  }

  test("real container headers: hand-built PNG IHDR byte literal (no encoder involved)") {
    // PNG signature + IHDR length/type + width=640 height=480,
    // bit depth 8, color type 6 (RGBA) — the spec's §11.2.2 layout
    val b = Array[Int](
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R', // IHDR chunk header
      0x00, 0x00, 0x02, 0x80, // width 640
      0x00, 0x00, 0x01, 0xe0, // height 480
      0x08, 0x06 // bit depth 8, color type 6
    ).map(_.toByte)
    val d = Multimodal.decode(7L, b)
    assert((d.width, d.height, d.channels, d.format) == ((640, 480, 4, "png")), d)
    assert(d.byteLen == b.length && d.checksum == b.map(_ & 0xff).sum.toLong)
  }

  test("packWav bytes are accepted by the JDK's own javax.sound reader (independent check)") {
    import javax.sound.sampled.AudioSystem
    val b = Multimodal.packWav(22050, 2, 16, 441)
    val m = Multimodal.decodeWav(b)
    assert(m == Multimodal.WavMeta(22050, 2, 16, 441L, 20.0, pcm = true), m)
    // the JDK parses our writer's bytes to the same format
    val fmt = AudioSystem.getAudioFileFormat(new java.io.ByteArrayInputStream(b))
    assert(fmt.getFormat.getSampleRate == 22050f && fmt.getFormat.getChannels == 2 &&
      fmt.getFormat.getSampleSizeInBits == 16 && fmt.getFrameLength == 441,
      fmt.toString)
  }

  test("packPngHeader parses through the real PNG branch of decode") {
    val d = Multimodal.decode(5L, Multimodal.packPngHeader(800, 600, 6))
    assert((d.width, d.height, d.channels, d.format, d.byteLen) == ((800, 600, 4, "png", 33)), d)
    // every color type maps to its spec channel count
    assert(Seq(0, 2, 3, 4, 6).map(ct =>
      Multimodal.decode(0L, Multimodal.packPngHeader(2, 2, ct)).channels) == Seq(1, 3, 1, 2, 4))
    assert(intercept[IllegalArgumentException](
      Multimodal.packPngHeader(2, 2, 5)).getMessage.contains("color type"))
  }

  test("real container headers: MP4 packMp4 round-trip + hand-built version-1 boxes") {
    // packMp4 (version-0 writer) through the real walk
    val m = Multimodal.decodeMp4(Multimodal.packMp4(1920, 1080, 90500L, "avc1"))
    assert(m == Multimodal.VideoMeta("mp4", 1920, 1080, 90500.0, 1, "avc1"), m)
    // shared dispatch: video maps into Decoded as (w, h, nTracks, "mp4")
    val d = Multimodal.decode(3L, Multimodal.packMp4(640, 360, 1000L, "hvc1"))
    assert((d.width, d.height, d.channels, d.format) == ((640, 360, 1, "mp4")), d)
    // hand-built VERSION-1 mvhd + tkhd (64-bit times; spec 8.2.2/8.3.2
    // layouts) — the offsets packMp4 never exercises
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, p: Array[Byte]*) = {
      val body = p.flatten.toArray
      be32(8L + body.length) ++ t.getBytes("US-ASCII") ++ body
    }
    val mvhd1 = box("mvhd", Array(1.toByte, 0, 0, 0), // version 1
      new Array[Byte](16),                  // creation/modification (64-bit each)
      be32(600), be32(0) ++ be32(3000),     // timescale 600, duration 3000 (64-bit)
      new Array[Byte](100 - 4 - 16 - 4 - 8))
    val tkhd1 = box("tkhd", Array(1.toByte, 0, 0, 7),
      new Array[Byte](84),                  // v1 fixed fields through matrix
      be32(320L << 16), be32(240L << 16))   // width/height at +88/+92
    val v1 = box("ftyp", "isom".getBytes("US-ASCII")) ++
      box("moov", mvhd1, box("trak", tkhd1))
    val mm = Multimodal.decodeMp4(v1)
    assert(mm == Multimodal.VideoMeta("mp4", 320, 240, 5000.0, 1, ""), mm)
    // no mvhd: loud, never a zero-duration guess
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeMp4(box("ftyp", "isom".getBytes("US-ASCII")) ++ box("moov")))
    assert(e.getMessage.contains("mvhd"), e.getMessage)
    // bogus box size: loud
    val bad = Multimodal.packMp4(64, 64, 100L)
    bad(0) = 0x7f // first box claims 2 GB
    assert(intercept[IllegalArgumentException](Multimodal.decodeMp4(bad))
      .getMessage.contains("bogus size"))
  }

  test("real container headers: hand-built AVI avih + vids strh") {
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    // avih: µs/frame 40000 (25 fps), 250 frames, 2 streams, 704x576
    val avih = chunk("avih", le32(40000) ++ new Array[Byte](12) ++ le32(250) ++
      le32(0) ++ le32(2) ++ le32(0) ++ le32(704) ++ le32(576) ++ new Array[Byte](16))
    val strh = chunk("strh", "vidsXVID".getBytes("US-ASCII") ++ new Array[Byte](48))
    def list(typ: String, body: Array[Byte]) =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val hdrl = list("hdrl", avih ++ list("strl", strh))
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(4 + hdrl.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl
    val m = Multimodal.decodeAvi(avi)
    assert(m == Multimodal.VideoMeta("avi", 704, 576, 10000.0, 2, "XVID"), m)
    val d = Multimodal.decode(4L, avi)
    assert((d.width, d.height, d.channels, d.format) == ((704, 576, 2, "avi")), d)
    // truncated header: loud
    val e = intercept[IllegalArgumentException](Multimodal.decodeAvi(
      "RIFF".getBytes("US-ASCII") ++ le32(4) ++ "AVI ".getBytes("US-ASCII")))
    assert(e.getMessage.contains("avih"), e.getMessage)
  }

  test("pack->parse round-trips hold across 200 seeded-random parameter draws") {
    val rnd = new scala.util.Random(42)
    val codecs = Seq("avc1", "hvc1", "mp4v", "av01")
    for (_ <- 1 to 200) {
      val (w, h) = (rnd.nextInt(8192) + 1, rnd.nextInt(8192) + 1)
      val dur = rnd.nextInt(Int.MaxValue).toLong
      val codec = codecs(rnd.nextInt(codecs.length))
      val m = Multimodal.decodeMp4(Multimodal.packMp4(w, h, dur, codec))
      assert(m == Multimodal.VideoMeta("mp4", w, h, dur.toDouble, 1, codec), m)

      val rate = (rnd.nextInt(12) + 1) * 4000
      val ch = rnd.nextInt(8) + 1
      val bits = Seq(8, 16, 24, 32)(rnd.nextInt(4))
      val frames = rnd.nextInt(500) // 0 frames legal; odd data sizes hit the pad path
      val wv = Multimodal.decodeWav(Multimodal.packWav(rate, ch, bits, frames))
      assert(wv == Multimodal.WavMeta(rate, ch, bits, frames.toLong,
        frames * 1000.0 / rate, pcm = true), wv)

      val ct = Seq(0, 2, 3, 4, 6)(rnd.nextInt(5))
      val expCh = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)(ct)
      val d = Multimodal.decode(0L, Multimodal.packPngHeader(w, h, ct))
      assert((d.width, d.height, d.channels, d.format) == ((w, h, expCh, "png")), d)
    }
  }

  test("decodePixels: real ImageIO decode is bit-exact for lossless PNG/BMP") {
    val pix = (x: Int, y: Int) => {
      val r = (x * 3 + y * 5 + 17) % 256
      (r << 16) | (((r + 85) % 256) << 8) | ((r + 170) % 256)
    }
    for (fmt <- Seq("png", "bmp")) {
      val bytes = Multimodal.packImage(7, 5, fmt)(pix)
      val p = Multimodal.decodePixels(9L, bytes).get
      assert((p.w, p.h, p.channels) == ((7, 5, 3)), s"$fmt dims")
      for (y <- 0 until 5; x <- 0 until 7) {
        val o = (y * 7 + x) * 3
        val rgb = pix(x, y)
        assert((p.pixels(o) & 0xff) == ((rgb >> 16) & 0xff), s"$fmt R at ($x,$y)")
        assert((p.pixels(o + 1) & 0xff) == ((rgb >> 8) & 0xff), s"$fmt G at ($x,$y)")
        assert((p.pixels(o + 2) & 0xff) == (rgb & 0xff), s"$fmt B at ($x,$y)")
      }
    }
  }

  test("decodePixels: gray PNG stays 1-channel; JPEG decodes with right shape; junk is None") {
    import java.awt.image.BufferedImage
    val gray = new BufferedImage(6, 4, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 6)
      gray.getRaster.setSample(x, y, 0, (x * 40 + y * 9) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "png", bos)
    val g = Multimodal.decodePixels(1L, bos.toByteArray).get
    assert((g.w, g.h, g.channels) == ((6, 4, 1)))
    for (y <- 0 until 4; x <- 0 until 6)
      assert((g.pixels(y * 6 + x) & 0xff) == (x * 40 + y * 9) % 256, s"gray at ($x,$y)")

    val jpg = Multimodal.packImage(16, 8, "jpg")((x, y) => ((x + y) * 16 % 256) * 0x010101)
    val j = Multimodal.decodePixels(2L, jpg).get
    assert((j.w, j.h, j.channels) == ((16, 8, 3)), "JPEG decodes lossily but with exact shape")

    assert(Multimodal.decodePixels(3L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).isEmpty)
  }

  test("imagePixelStats: per-channel exact sums over real decoded rasters; junk payload is loud") {
    val media = (1L to 8L).map { id =>
      val w = (id % 8 + 4).toInt; val h = (id % 6 + 3).toInt
      (id, Multimodal.packImage(w, h, "png") { (x, y) =>
        val r = ((id * 7 + x * 3 + y * 5) % 256).toInt
        (r << 16) | (((r + 85) % 256) << 8) | ((r + 170) % 256)
      })
    }.toDF("id", "payload")
    val rows = Multimodal.imagePixelStats(spark, media).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      val w = (id % 8 + 4).toInt; val h = (id % 6 + 3).toInt
      val exp = for { y <- 0 until h; x <- 0 until w } yield (id * 7 + x * 3 + y * 5) % 256
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("r_sum") == exp.sum, s"r_sum id=$id")
      assert(r.getAs[Long]("g_sum") == exp.map(v => (v + 85) % 256).sum, s"g_sum id=$id")
      assert(r.getAs[Long]("b_sum") == exp.map(v => (v + 170) % 256).sum, s"b_sum id=$id")
    }
    val junk = Seq((99L, Array[Byte](9, 9, 9, 9, 9, 9, 9, 9))).toDF("id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.imagePixelStats(spark, junk).collect()
    }
    assert(e.getMessage != null)
  }

  test("unpackVideo: animated GIF frames decode through the REAL JDK codec, bit-exact gray") {
    val frames = (0 until 4).map { f =>
      Array.tabulate(24)(i => ((f * 31 + i * 7 + 3) % 256).toByte)
    }
    val gif = Multimodal.packGifFrames(frames, 4, 6)
    assert(Multimodal.isGif(gif))
    val back = Multimodal.unpackVideo(42L, gif).toSeq
    assert(back.length == 4)
    back.zipWithIndex.foreach { case (fr, i) =>
      assert((fr.id, fr.frameIdx, fr.h, fr.w) == ((42L, i, 4, 6)))
      assert(fr.pixels.toSeq == frames(i).toSeq, s"frame $i pixels")
    }
  }

  test("unpackVideo: AVI uncompressed-DIB frames round-trip bit-exact (stride + bottom-up)") {
    // w=6 -> DIB stride 8 (row pad), w=5 -> stride 8 too; both must
    // de-stride and un-flip exactly. DIB is lossless by construction.
    for ((w, h) <- Seq((6, 3), (5, 4), (4, 2))) {
      val frames = (0 until 3).map { f =>
        Array.tabulate(h * w)(i => ((f * 53 + i * 11 + 9) % 256).toByte)
      }
      val avi = Multimodal.packAviFrames(frames, h, w)
      assert(Multimodal.isAvi(avi) && !Multimodal.isGif(avi))
      // the metadata walk sees the same container
      val meta = Multimodal.decodeAvi(avi)
      assert((meta.width, meta.height, meta.nTracks, meta.codec) == ((w, h, 1, "DIB")))
      val back = Multimodal.unpackVideo(41L, avi).toSeq
      assert(back.length == 3)
      back.zipWithIndex.foreach { case (fr, i) =>
        assert((fr.id, fr.frameIdx, fr.h, fr.w) == ((41L, i, h, w)))
        assert(fr.pixels.toSeq == frames(i).toSeq, s"($w x $h) frame $i pixels")
      }
    }
  }

  test("unpackVideo: AVI MJPG frames decode through the REAL JDK JPEG codec (lossy, near)") {
    val h = 16; val w = 16
    // smooth gradients: the case motion-JPEG is built for
    val frames = (0 until 3).map { f =>
      Array.tabulate(h * w)(i => (32 + f * 16 + (i % w) * 4 + (i / w) * 2).toByte)
    }
    val avi = Multimodal.packAviFrames(frames, h, w, codec = "MJPG")
    assert(Multimodal.decodeAvi(avi).codec == "MJPG")
    val back = Multimodal.unpackVideo(43L, avi).toSeq
    assert(back.length == 3)
    back.zipWithIndex.foreach { case (fr, i) =>
      assert((fr.frameIdx, fr.h, fr.w) == ((i, h, w)))
      val diffs = fr.pixels.zip(frames(i)).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff))
      }
      val mean = diffs.sum.toDouble / diffs.length
      assert(mean <= 3.0 && diffs.max <= 16,
        s"frame $i: JPEG round-trip error mean=$mean max=${diffs.max}")
    }
  }

  test("unpackVideo: AVI with an unknown codec or truncated bytes falls back to the stub") {
    val good = Multimodal.packAviFrames(
      Seq(Array.tabulate(16)(_.toByte)), 4, 4)
    // corrupt biCompression in the vids strf to a codec the JDK lacks
    val strfAt = {
      val idx = good.indexOfSlice("strf".getBytes("US-ASCII"))
      assert(idx > 0); idx
    }
    val bad = good.clone()
    System.arraycopy("XVID".getBytes("US-ASCII"), 0, bad, strfAt + 8 + 16, 4)
    val stubbed = Multimodal.unpackVideo(7L, bad).toSeq
    assert(stubbed.length == 1 && stubbed.head.frameIdx == 0)
    val s = Multimodal.decodeStub(7L, bad)
    assert((stubbed.head.h, stubbed.head.w) == ((s.height, s.width)))
    // truncated container: loud parse inside, stub outside
    val trunc = Multimodal.unpackVideo(8L, good.take(30)).toSeq
    assert(trunc.length == 1 && trunc.head.frameIdx == 0)
  }

  test("decodePixels: 16-bit gray scales down, 1-bit gray scales to full range") {
    import java.awt.image.BufferedImage
    val deep = new BufferedImage(3, 2, BufferedImage.TYPE_USHORT_GRAY)
    val vals16 = Array(0, 0x0100, 0x7fff, 0x8000, 0xfffe, 0xffff)
    for (i <- vals16.indices) deep.getRaster.setSample(i % 3, i / 3, 0, vals16(i))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(deep, "png", bos))
    val p = Multimodal.decodePixels(1L, bos.toByteArray).get
    assert(p.channels == 1)
    assert(p.pixels.map(_ & 0xff).toSeq == vals16.map(_ >> 8).toSeq,
      "16-bit gray must scale to the high byte, not truncate to the low")

    // 1-bit B/W: the JDK models it as a {black, white} palette (sRGB
    // IndexColorModel), so the color branch handles it — white must
    // come out 255 on every channel, never a raw palette index of 1
    val bw = new BufferedImage(2, 1, BufferedImage.TYPE_BYTE_BINARY)
    bw.getRaster.setSample(0, 0, 0, 0); bw.getRaster.setSample(1, 0, 0, 1)
    val bos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bw, "png", bos2))
    val q = Multimodal.decodePixels(2L, bos2.toByteArray).get
    assert(q.channels == 3)
    assert(q.pixels.map(_ & 0xff).toSeq == Seq(0, 0, 0, 255, 255, 255),
      "1-bit white must decode as full-range 255s")
  }

  test("unpackVideo: color GIF frames get Rec.601 luma; GIF-magic garbage falls back to the stub") {
    import java.awt.image.BufferedImage
    // color single-frame GIF through the JDK writer (few solid colors
    // -> exact palette)
    val img = new BufferedImage(3, 1, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00); img.setRGB(2, 0, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val frames = Multimodal.unpackVideo(5L, bos.toByteArray).toSeq
    assert(frames.length == 1 && frames.head.w == 3)
    val luma = frames.head.pixels.map(_ & 0xff).toSeq
    assert(luma == Seq((255 * 299 + 500) / 1000, (255 * 587 + 500) / 1000,
      (255 * 114 + 500) / 1000), s"got $luma — blue-channel-as-gray would be Seq(0, 0, 255)")

    // GIF magic + garbage: the documented never-throw contract routes
    // it to the deterministic stub frame
    val junk = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](77, 12, -3, 9, 1, 2, 3, 4)
    val fb = Multimodal.unpackVideo(6L, junk).toSeq
    assert(fb.length == 1 && fb.head.frameIdx == 0)
    val stub = Multimodal.decodeStub(6L, junk)
    assert((fb.head.h, fb.head.w) == ((stub.height, stub.width)))
  }

  test("image codec round-trips hold across seeded-random parameter draws") {
    val rnd = new scala.util.Random(42)
    // 60 lossless RGB draws: random dims (odd widths exercise BMP row
    // padding), random pixel content, both JDK writers
    for (i <- 0 until 60) {
      val w = rnd.nextInt(40) + 1; val h = rnd.nextInt(40) + 1
      val fmt = if (rnd.nextBoolean()) "png" else "bmp"
      val pix = Array.fill(w * h)(rnd.nextInt(0x1000000))
      val bytes = Multimodal.packImage(w, h, fmt)((x, y) => pix(y * w + x))
      val p = Multimodal.decodePixels(i.toLong, bytes).get
      assert((p.w, p.h, p.channels) == ((w, h, 3)), s"draw $i $fmt ${w}x$h")
      var j = 0
      while (j < w * h) {
        assert((p.pixels(3 * j) & 0xff) == ((pix(j) >> 16) & 0xff) &&
          (p.pixels(3 * j + 1) & 0xff) == ((pix(j) >> 8) & 0xff) &&
          (p.pixels(3 * j + 2) & 0xff) == (pix(j) & 0xff),
          s"draw $i $fmt pixel $j")
        j += 1
      }
    }
    // 30 gray animated-GIF draws: random dims / frame counts / content
    for (i <- 0 until 30) {
      val w = rnd.nextInt(16) + 1; val h = rnd.nextInt(16) + 1
      val nF = rnd.nextInt(5) + 1
      val frames = Seq.fill(nF)(Array.fill(h * w)(rnd.nextInt(256).toByte))
      val gif = Multimodal.packGifFrames(frames, h, w)
      val back = Multimodal.unpackVideo(1000L + i, gif).toSeq
      assert(back.length == nF, s"gif draw $i: ${back.length} of $nF frames")
      back.zipWithIndex.foreach { case (f, fi) =>
        assert((f.h, f.w) == ((h, w)), s"gif draw $i frame $fi dims")
        assert(f.pixels.toSeq == frames(fi).toSeq, s"gif draw $i frame $fi pixels")
      }
    }
  }

  test("unpackVideo: MP4 raw-grayscale frames round-trip bit-exact (stsz/stsc/stco walk)") {
    // frame counts 1..5 with samplesPerChunk in {1,2,3} cover the
    // one-run stsc, the two-run short-tail stsc, and single-sample
    // chunks; all must expand to the same absolute mdat offsets
    for ((w, h, nF, spc) <- Seq((5, 3, 5, 2), (6, 4, 4, 2), (3, 3, 1, 2),
                                (4, 2, 3, 1), (7, 2, 5, 3))) {
      val frames = (0 until nF).map { f =>
        Array.tabulate(h * w)(i => ((f * 47 + i * 13 + 5) % 256).toByte)
      }
      val mp4 = Multimodal.packMp4Frames(frames, h, w, samplesPerChunk = spc)
      assert(Multimodal.isMp4(mp4) && !Multimodal.isAvi(mp4) && !Multimodal.isGif(mp4))
      // the metadata walk sees the same container (tkhd dims, stsd fourcc)
      val meta = Multimodal.decodeMp4(mp4)
      assert((meta.width, meta.height, meta.nTracks, meta.codec) == ((w, h, 1, "raw ")))
      val back = Multimodal.unpackVideo(51L, mp4).toSeq
      assert(back.length == nF, s"($w x $h, n=$nF, spc=$spc)")
      back.zipWithIndex.foreach { case (fr, i) =>
        assert((fr.id, fr.frameIdx, fr.h, fr.w) == ((51L, i, h, w)))
        assert(fr.pixels.toSeq == frames(i).toSeq,
          s"($w x $h, n=$nF, spc=$spc) frame $i pixels")
      }
    }
  }

  test("unpackVideo: MP4 motion-JPEG frames decode through the REAL JDK JPEG codec (lossy, near)") {
    val h = 16; val w = 16
    // smooth gradients: the case motion-JPEG is built for
    val frames = (0 until 3).map { f =>
      Array.tabulate(h * w)(i => (32 + f * 16 + (i % w) * 4 + (i / w) * 2).toByte)
    }
    val mp4 = Multimodal.packMp4Frames(frames, h, w, codec = "jpeg")
    assert(Multimodal.decodeMp4(mp4).codec == "jpeg")
    val back = Multimodal.unpackVideo(53L, mp4).toSeq
    assert(back.length == 3)
    back.zipWithIndex.foreach { case (fr, i) =>
      assert((fr.frameIdx, fr.h, fr.w) == ((i, h, w)))
      val diffs = fr.pixels.zip(frames(i)).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff))
      }
      val mean = diffs.sum.toDouble / diffs.length
      assert(mean <= 3.0 && diffs.max <= 16,
        s"frame $i: JPEG round-trip error mean=$mean max=${diffs.max}")
    }
  }

  test("unpackVideo: MP4 with an H.264-class codec fails loudly inside, stub outside") {
    val good = Multimodal.packMp4Frames(
      Seq(Array.tabulate(16)(_.toByte)), 4, 4)
    // corrupt the stsd sample-entry fourcc to a codec the JVM lacks:
    // stsd box layout = size(4) 'stsd' vf(4) count(4) entrySize(4) fourcc(4)
    val stsdAt = {
      val idx = good.indexOfSlice("stsd".getBytes("US-ASCII"))
      assert(idx > 0); idx
    }
    val bad = good.clone()
    System.arraycopy("avc1".getBytes("US-ASCII"), 0, bad, stsdAt + 16, 4)
    val stubbed = Multimodal.unpackVideo(7L, bad).toSeq
    assert(stubbed.length == 1 && stubbed.head.frameIdx == 0)
    val s = Multimodal.decodeStub(7L, bad)
    assert((stubbed.head.h, stubbed.head.w) == ((s.height, s.width)))
    // a moov-only metadata fixture (packMp4, codec avc1, no mdat or
    // sample tables) also stubs rather than throwing
    val metaOnly = Multimodal.packMp4(8, 6, 2000)
    val mo = Multimodal.unpackVideo(8L, metaOnly).toSeq
    assert(mo.length == 1 && mo.head.frameIdx == 0)
    // truncated container: loud parse inside, stub outside
    val trunc = Multimodal.unpackVideo(9L, good.take(30)).toSeq
    assert(trunc.length == 1 && trunc.head.frameIdx == 0)
  }

  test("unpackVideo: hostile MP4 sample-table counts stub instead of allocating") {
    // a corrupt payload declaring ~500M samples/chunks must fail the
    // bounds require (IllegalArgumentException, caught -> stub frame),
    // never reach the Array allocation (OutOfMemoryError kills the task)
    val good = Multimodal.packMp4Frames(
      Seq(Array.tabulate(16)(_.toByte), Array.tabulate(16)(i => (i + 1).toByte)), 4, 4)
    val hostile = 500 * 1000 * 1000
    def corrupt(fourcc: String, cntOffFromFourcc: Int): Array[Byte] = {
      val idx = good.indexOfSlice(fourcc.getBytes("US-ASCII"))
      assert(idx > 0, s"$fourcc not found")
      val bad = good.clone()
      val bb = java.nio.ByteBuffer.wrap(bad)
      bb.putInt(idx + cntOffFromFourcc, hostile)
      bad
    }
    // stsz: fourcc(4) vf(4) sample_size(4) sample_count(4) -> count at +12
    // stsc/stco: fourcc(4) vf(4) entry_count(4)            -> count at +8
    for ((fc, off) <- Seq(("stsz", 12), ("stsc", 8), ("stco", 8))) {
      val out = Multimodal.unpackVideo(99L, corrupt(fc, off)).toSeq
      assert(out.length == 1 && out.head.frameIdx == 0,
        s"hostile $fc count did not degrade to the stub frame")
      val s = Multimodal.decodeStub(99L, corrupt(fc, off))
      assert((out.head.h, out.head.w) == ((s.height, s.width)), s"hostile $fc stub dims")
    }
  }

  test("unpackVideo: classic MP4 carries stts frame times (timescale 25 -> 40 ms/tick)") {
    val frames = Seq.tabulate(5)(f => Array.fill(12)((f * 7).toByte))
    val mp4 = Multimodal.packMp4Frames(frames, 3, 4)
    val back = Multimodal.unpackVideo(60L, mp4).toSeq
    assert(back.map(_.tMs) == Seq(0.0, 40.0, 80.0, 120.0, 160.0),
      s"stts delta-1 at timescale 25 must clock frames at 40 ms: ${back.map(_.tMs)}")
  }

  test("unpackVideo: fragmented MP4 (moof/traf/trun) round-trips frames and times") {
    // 5 frames, 2 per fragment (so a short tail fragment), uneven
    // per-frame durations -> presentation times are the running sum
    val h = 3; val w = 5
    val frames = Seq.tabulate(5)(f => Array.tabulate(h * w)(i => (f * 31 + i).toByte))
    val deltas = Seq(1, 3, 2, 1, 4) // ticks; 40 ms each at timescale 25
    val mp4 = Multimodal.packMp4FramesFragmented(frames, h, w,
      samplesPerFragment = 2, deltas = deltas)
    assert(Multimodal.isMp4(mp4))
    val back = Multimodal.unpackVideo(61L, mp4).toSeq
    assert(back.length == 5, s"got ${back.length} of 5 fragmented frames")
    back.zipWithIndex.foreach { case (fr, fi) =>
      assert((fr.h, fr.w) == ((h, w)), s"frame $fi dims")
      assert(fr.pixels.toSeq == frames(fi).toSeq, s"frame $fi pixels")
    }
    // times: cumulative deltas x 40 ms — [0, 1, 4, 6, 7] ticks
    assert(back.map(_.tMs) == Seq(0.0, 40.0, 160.0, 240.0, 280.0),
      s"fragment decode times off: ${back.map(_.tMs)}")
  }

  test("fragmented MP4 holds across seeded-random draws; MJPEG fragments decode") {
    val rnd = new scala.util.Random(777)
    for (i <- 0 until 20) {
      val w = rnd.nextInt(12) + 1; val h = rnd.nextInt(12) + 1
      val nF = rnd.nextInt(7) + 1
      val spf = rnd.nextInt(3) + 1
      val frames = Seq.fill(nF)(Array.fill(h * w)(rnd.nextInt(256).toByte))
      val deltas = Seq.fill(nF)(rnd.nextInt(4) + 1)
      val mp4 = Multimodal.packMp4FramesFragmented(frames, h, w,
        samplesPerFragment = spf, deltas = deltas)
      val back = Multimodal.unpackVideo(3000L + i, mp4).toSeq
      assert(back.length == nF, s"draw $i: ${back.length} of $nF frames")
      val wantTimes = deltas.scanLeft(0L)(_ + _).init.map(_ * 40.0)
      assert(back.map(_.tMs) == wantTimes, s"draw $i times")
      back.zipWithIndex.foreach { case (fr, fi) =>
        assert(fr.pixels.toSeq == frames(fi).toSeq, s"draw $i frame $fi pixels")
      }
    }
    // MJPEG fragments: lossy codec — dims, count, and times stay exact
    val jf = Seq.tabulate(3)(f => Array.tabulate(24)(i => ((f * 50 + i * 9) % 256).toByte))
    val jmp4 = Multimodal.packMp4FramesFragmented(jf, 4, 6, codec = "jpeg",
      samplesPerFragment = 2, deltas = Seq(2, 2, 3))
    val jb = Multimodal.unpackVideo(62L, jmp4).toSeq
    assert(jb.map(f => (f.h, f.w)) == Seq.fill(3)((4, 6)))
    assert(jb.map(_.tMs) == Seq(0.0, 80.0, 160.0))
  }

  test("unpackVideo: hostile trun sample count stubs instead of allocating") {
    val good = Multimodal.packMp4FramesFragmented(
      Seq(Array.tabulate(16)(_.toByte), Array.tabulate(16)(i => (i + 1).toByte)), 4, 4)
    val idx = good.indexOfSlice("trun".getBytes("US-ASCII"))
    assert(idx > 0)
    val bad = good.clone()
    // trun: fourcc(4) vf(4) sample_count(4) -> count at +8
    java.nio.ByteBuffer.wrap(bad).putInt(idx + 8, 500 * 1000 * 1000)
    val out = Multimodal.unpackVideo(98L, bad).toSeq
    assert(out.length == 1 && out.head.frameIdx == 0,
      "hostile trun count did not degrade to the stub frame")
  }

  test("MP4 raw round-trips hold across seeded-random parameter draws") {
    val rnd = new scala.util.Random(4242)
    for (i <- 0 until 30) {
      val w = rnd.nextInt(16) + 1; val h = rnd.nextInt(16) + 1
      val nF = rnd.nextInt(6) + 1
      val spc = rnd.nextInt(3) + 1
      val frames = Seq.fill(nF)(Array.fill(h * w)(rnd.nextInt(256).toByte))
      val mp4 = Multimodal.packMp4Frames(frames, h, w, samplesPerChunk = spc)
      val back = Multimodal.unpackVideo(2000L + i, mp4).toSeq
      assert(back.length == nF, s"mp4 draw $i: ${back.length} of $nF frames")
      back.zipWithIndex.foreach { case (f, fi) =>
        assert((f.h, f.w) == ((h, w)), s"mp4 draw $i frame $fi dims")
        assert(f.pixels.toSeq == frames(fi).toSeq, s"mp4 draw $i frame $fi pixels")
      }
    }
  }

  test("native GIF LZW decoder is bit-identical to the ImageIO twin (gray/color/interlaced)") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def parity(tag: String, gif: Array[Byte]): Unit = {
      val native = Multimodal.unpackGif(7L, gif)
      val imageio = Multimodal.unpackGifImageIO(7L, gif)
      assert(native.length == imageio.length, s"$tag frame count")
      native.zip(imageio).zipWithIndex.foreach { case ((a, b), i) =>
        assert((a.h, a.w) == ((b.h, b.w)), s"$tag frame $i dims")
        assert(a.pixels.toSeq == b.pixels.toSeq, s"$tag frame $i pixels")
      }
    }
    // gray multi-frame (the graded-query shape), seeded draws — BOTH
    // producers: the native writer and the JDK sequence writer lay
    // palettes/metadata out differently, and both readers must agree
    // on both (4-way producer x consumer conformance)
    val rnd = new scala.util.Random(9999)
    for (i <- 0 until 10) {
      val w = rnd.nextInt(20) + 1; val h = rnd.nextInt(20) + 1
      val nF = rnd.nextInt(4) + 1
      val frames = Seq.fill(nF)(Array.fill(h * w)(rnd.nextInt(256).toByte))
      val native = Multimodal.packGifFrames(frames, h, w)
      val jdk = Multimodal.packGifFramesImageIO(frames, h, w)
      parity(s"gray draw $i (native writer)", native)
      parity(s"gray draw $i (jdk writer)", jdk)
      // and all four paths recover the original frames exactly
      for ((tag, gif) <- Seq("native" -> native, "jdk" -> jdk)) {
        val back = Multimodal.unpackGif(7L, gif)
        assert(back.length == nF, s"draw $i $tag frame count")
        back.zipWithIndex.foreach { case (f, fi) =>
          assert(f.pixels.toSeq == frames(fi).toSeq, s"draw $i $tag frame $fi round-trip")
        }
      }
    }
    // COLOR single-frame GIF straight from the JDK writer (palettized
    // RGB, exercises the 24-bit palette -> luma path)
    def colorGif(interlace: Boolean, h: Int, w: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((y * 37 + x * 11) % 256 << 16) |
          ((y * 53 + x * 7) % 256 << 8) | ((y * 13 + x * 29) % 256))
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val md = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img), null)
        val fmt = md.getNativeMetadataFormatName
        val root = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val descs = root.getElementsByTagName("ImageDescriptor")
        (0 until descs.getLength).foreach { i =>
          descs.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            .setAttribute("interlaceFlag", if (interlace) "TRUE" else "FALSE")
        }
        md.setFromTree(fmt, root)
        writer.write(null, new javax.imageio.IIOImage(img, null, md), null)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    parity("color sequential", colorGif(interlace = false, 23, 17))
    // INTERLACED, heights >= the pass strides: both decoders apply the
    // identical 4-pass de-scramble
    for (h <- Seq(17, 8)) parity(s"color interlaced h=$h", colorGif(interlace = true, h, 9))
    // INTERLACED, degenerate heights (h < 5): the JDK READER is buggy
    // here — it drops pass rows and zero-fills (e.g. h=3 comes back
    // [row0, zeros, row1]) while the JDK WRITER's stream order is
    // spec-correct. The native decoder must recover the ORIGINAL
    // image (gray -> lossless palette), the stronger property.
    def grayGif(interlace: Boolean, px: Array[Byte], h: Int, w: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, px)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val md = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img), null)
        val fmt = md.getNativeMetadataFormatName
        val root = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val descs = root.getElementsByTagName("ImageDescriptor")
        (0 until descs.getLength).foreach { i =>
          descs.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            .setAttribute("interlaceFlag", if (interlace) "TRUE" else "FALSE")
        }
        md.setFromTree(fmt, root)
        writer.write(null, new javax.imageio.IIOImage(img, null, md), null)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    for (h <- Seq(17, 8, 4, 3, 2, 1); w = 9) {
      val px = Array.tabulate(h * w)(i => (i * 19 + 5).toByte)
      val back = Multimodal.unpackGif(8L, grayGif(interlace = true, px, h, w))
      assert(back.length == 1 && (back.head.h, back.head.w) == ((h, w)),
        s"interlaced gray h=$h shape")
      assert(back.head.pixels.toSeq == px.toSeq,
        s"interlaced gray h=$h: native decode must recover the original rows")
    }
    // truncated GIF: valid magic, garbage body -> BOTH decoders
    // reject -> unpackVideo degrades to the single stub frame
    val junk = "GIF89a".getBytes("US-ASCII") ++ Array.fill(20)(0x5a.toByte)
    intercept[Exception](Multimodal.unpackGif(1L, junk))
    val out = Multimodal.unpackVideo(1L, junk).toSeq
    assert(out.length == 1 && out.head.frameIdx == 0, "truncated GIF did not stub")
    // hostile frame dims: 65535x65535 declared in a tiny payload must
    // fail the plausibility require (Long math — 65535^2 overflows
    // Int) BEFORE any allocation, and degrade to the stub
    val hostile = Multimodal.packGifFrames(Seq(Array.fill(4)(7.toByte)), 2, 2)
    // image descriptor starts at 6 (header) + 7 (LSD) + 768 (GCT) —
    // NOT found by indexOf: the gray palette itself contains 0x2c
    // bytes (entry 44 is 2c,2c,2c)
    val desc = 6 + 7 + 768
    assert((hostile(desc) & 0xff) == 0x2c, "native writer layout moved")
    for (off <- Seq(5, 6, 7, 8)) hostile(desc + off) = 0xff.toByte // w = h = 65535
    intercept[Exception](Multimodal.unpackGif(2L, hostile))
    val out2 = Multimodal.unpackVideo(2L, hostile).toSeq
    assert(out2.length == 1 && out2.head.frameIdx == 0, "hostile dims did not stub")
  }
}
