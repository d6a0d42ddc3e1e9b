package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._

import graft.functions.MediaFormats
import graft.operators.Multimodal

/** Multimodal tests: the REAL format codecs (PNG/JPEG/BMP/WAV/GIF) are
  * cross-checked against the JDK's independent ImageIO / AudioSystem
  * implementations in both directions, so a matched encoder/decoder bug
  * pair cannot hide behind a clean round-trip. Plus corruption handling,
  * inline-vs-ref split, payload pruning, and generator↔parser parity.
  */
class MultimodalSpec extends SparkSpecBase {

  import testImplicits._

  private def gradient(d: Long)(x: Int, y: Int): Int = ((x + 3 * y + d) % 256).toInt

  test("PNG: our encoder is readable by ImageIO, pixel-exact") {
    val (w, h) = (13, 7) // exercises filters 0..4 (h > 5 rows)
    val bytes = MediaFormats.encodePng(w, h, gradient(5))
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must accept our PNG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRaster.getSample(x, y, 0)) == gradient(5)(x, y),
        s"pixel ($x,$y)")
  }

  test("PNG: our decoder reads ImageIO-encoded files (independent producer)") {
    val (w, h) = (9, 11)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var expected = 0L
    for (y <- 0 until h; x <- 0 until w) {
      img.getRaster.setSample(x, y, 0, gradient(42)(x, y))
      expected += gradient(42)(x, y)
    }
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", bos)
    val info = MediaFormats.decodePng(bos.toByteArray)
    assert(info.ok && info.width == w && info.height == h)
    assert(info.valueSum == expected)
  }

  test("PNG: corrupted IDAT byte fails the CRC check (ok = false)") {
    val bytes = MediaFormats.encodePng(8, 8, gradient(0))
    val idat = {
      // find the IDAT chunk and flip a payload byte
      var off = 8; var at = -1
      while (at < 0) {
        val len = ((bytes(off) & 0xFF) << 24) | ((bytes(off + 1) & 0xFF) << 16) |
          ((bytes(off + 2) & 0xFF) << 8) | (bytes(off + 3) & 0xFF)
        if (new String(bytes, off + 4, 4, "US-ASCII") == "IDAT") at = off + 8
        else off += 12 + len
      }
      at
    }
    val corrupt = bytes.clone()
    corrupt(idat) = (corrupt(idat) ^ 0xFF).toByte
    assert(!MediaFormats.decodePng(corrupt).ok)
    assert(MediaFormats.decodePng(bytes).ok)
  }

  test("PNG/BMP/WAV: truncated and garbage inputs report ok=false, never throw") {
    for (src <- Seq(MediaFormats.encodePng(8, 8, gradient(1)),
        MediaFormats.encodeBmp(8, 8, gradient(1)),
        MediaFormats.encodeWav(8000, Array[Short](1, -2, 3)));
        cut <- Seq(0, 4, 10, src.length / 2, src.length - 1))
      assert(!MediaFormats.decode(src.take(cut)).ok, s"cut=$cut")
    assert(!MediaFormats.decode("not media at all".getBytes).ok)
  }

  test("BMP: our encoder is readable by ImageIO, pixel-exact (incl. row padding)") {
    val (w, h) = (5, 4) // 15-byte rows → 1-byte pad, bottom-up
    val bytes = MediaFormats.encodeBmp(w, h, gradient(9))
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must accept our BMP")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xFF) == gradient(9)(x, y), s"pixel ($x,$y)")
    val info = MediaFormats.decodeBmp(bytes)
    assert(info.ok && info.width == w && info.height == h &&
      info.valueSum == (for (y <- 0 until h; x <- 0 until w)
        yield gradient(9)(x, y).toLong).sum)
  }

  test("WAV: our encoder is readable by AudioSystem; decoder agrees on format") {
    val samples = Array.tabulate(300)(i => ((i * 7 % 2003) - 1001).toShort)
    val bytes = MediaFormats.encodeWav(16000, samples)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 16000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16)
    assert(ais.getFrameLength == samples.length)
    val info = MediaFormats.decodeWav(bytes)
    assert(info.ok && info.width == 16000 && info.nUnits == samples.length)
    assert(info.valueSum == samples.map(s => math.abs(s.toLong)).sum)
  }

  test("WAV: chunk walk tolerates ancillary RIFF chunks before data") {
    // splice a LIST chunk between fmt and data
    val base = MediaFormats.encodeWav(8000, Array[Short](100, -100))
    val fmtEnd = 12 + 8 + 16
    val list = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val spliced = base.take(fmtEnd) ++ list ++ base.drop(fmtEnd)
    // patch RIFF size
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xFF).toByte
    spliced(5) = ((riffLen >> 8) & 0xFF).toByte
    val info = MediaFormats.decodeWav(spliced)
    assert(info.ok && info.nUnits == 2 && info.valueSum == 200)
  }

  test("JPEG: our block-constant encoder is readable by ImageIO, pixel-exact") {
    // DC-only blocks decode bit-exactly in ANY conformant decoder — the
    // property the lossy-format oracle rests on; ImageIO is the
    // independent implementation that certifies it
    def bv(bx: Int, by: Int): Int = (bx + 3 * by + 7) % 256
    val (w, h) = (16, 24)
    val bytes = MediaFormats.encodeJpegGray(w, h, bv)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must accept our baseline JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == bv(x / 8, y / 8),
        s"pixel ($x,$y)")
    val info = MediaFormats.decodeJpeg(bytes)
    assert(info.ok && info.width == w && info.height == h)
    assert(info.valueSum == (for (y <- 0 until h; x <- 0 until w)
      yield bv(x / 8, y / 8).toLong).sum)
  }

  test("JPEG: our decoder reads ImageIO-encoded files (independent producer)") {
    // full AC path: a gradient image through ImageIO's own encoder
    // (libjpeg tables, real quantization). The JPEG spec leaves IDCT
    // implementations ±1/pixel of each other, so the cross-check is
    // dims exact + per-file sum within n_pixels of ImageIO's own decode.
    val (w, h) = (21, 13) // non-multiple-of-8: exercises edge MCU padding
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, gradient(17)(x, y))
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val bytes = bos.toByteArray
    val info = MediaFormats.decodeJpeg(bytes)
    assert(info.ok && info.width == w && info.height == h && info.nUnits == w * h)
    val ref = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    val refSum = (for (y <- 0 until h; x <- 0 until w)
      yield ref.getRaster.getSample(x, y, 0).toLong).sum
    assert(math.abs(info.valueSum - refSum) <= w.toLong * h,
      s"our sum ${info.valueSum} vs ImageIO $refSum beyond the ±1/pixel IDCT freedom")
  }

  test("JPEG: 3-component color files decode through the interleaved MCU walk") {
    // ImageIO encodes RGB input as YCbCr (subsampled chroma) — this is
    // the ONLY test exercising multi-component MCUs, per-component
    // sampling factors, and the luma-plane extraction. Our gray feature
    // is the Y channel; ImageIO hands back post-upsampling RGB, so the
    // cross-check recomputes BT.601 luma from ImageIO's pixels and
    // allows the color-convert + IDCT rounding (±2/pixel).
    val (w, h) = (19, 14)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 11 + 40) % 256; val g = (y * 17 + 60) % 256
      val b = (x * 3 + y * 5) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val bytes = bos.toByteArray
    val info = MediaFormats.decodeJpeg(bytes)
    assert(info.ok && info.width == w && info.height == h && info.nUnits == w * h)
    val ref = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    var refLuma = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      val p = ref.getRGB(x, y)
      refLuma += 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) +
        0.114 * (p & 0xFF)
    }
    assert(math.abs(info.valueSum - refLuma) <= 2.0 * w * h,
      s"Y-plane sum ${info.valueSum} vs ImageIO-derived luma $refLuma")
  }

  test("JPEG: block-constant encode→decode is exact for random geometries (property)") {
    // the oracle's exactness claim, swept: any multiple-of-8 geometry
    // and any block-value pattern must decode bit-exactly BY BOTH our
    // decoder and ImageIO (DC-only blocks leave an IDCT no freedom)
    val rnd = new scala.util.Random(0xA11CE)
    for (trial <- 0 until 12) {
      val w = 8 * (1 + rnd.nextInt(6)); val h = 8 * (1 + rnd.nextInt(6))
      val base = rnd.nextInt(256)
      def bv(bx: Int, by: Int): Int = (base + 37 * bx + 101 * by) % 256
      val bytes = MediaFormats.encodeJpegGray(w, h, bv)
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield bv(x / 8, y / 8).toLong).sum
      val info = MediaFormats.decodeJpeg(bytes)
      assert(info.ok && info.width == w && info.height == h &&
        info.valueSum == expect, s"trial $trial ${w}x$h base=$base: $info")
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      val ioSum = (for (y <- 0 until h; x <- 0 until w)
        yield img.getRaster.getSample(x, y, 0).toLong).sum
      assert(ioSum == expect, s"trial $trial: ImageIO sum $ioSum != $expect")
    }
  }

  test("JPEG: progressive files report dims with ok=false; damage fails loudly") {
    val (w, h) = (16, 16)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, gradient(3)(x, y))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose()
    val prog = MediaFormats.decodeJpeg(bos.toByteArray)
    assert(!prog.ok && prog.width == w && prog.height == h,
      "progressive: header dims, no decode claim")
    // structural damage: truncation mid-entropy, garbage, bad marker
    val good = MediaFormats.encodeJpegGray(16, 16, (bx, by) => bx + by)
    for (cut <- Seq(0, 4, 10, good.length / 2))
      assert(!MediaFormats.decodeJpeg(good.take(cut)).ok, s"cut=$cut")
    val badMarker = good.clone()
    badMarker(2) = 0x00 // FF?? marker prefix destroyed
    assert(!MediaFormats.decodeJpeg(badMarker).ok)
  }

  test("GIF: our encoder is readable by ImageIO, pixel-exact (lossless LZW)") {
    val (w, h) = (19, 13)
    val bytes = MediaFormats.encodeGif(w, h, gradient(7))
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must accept our GIF")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == gradient(7)(x, y),
        s"pixel ($x,$y)")
  }

  test("GIF: our decoder reads ImageIO-encoded files (independent producer, GIF89a+GCE)") {
    val (w, h) = (11, 9)
    // explicit gray IndexColorModel so the writer's palette is (v,v,v)
    // and our BT.601 luma is the identity
    val gray = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    var expected = 0L
    for (y <- 0 until h; x <- 0 until w) {
      img.getRaster.setSample(x, y, 0, gradient(42)(x, y))
      expected += gradient(42)(x, y)
    }
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "gif", bos)
    val info = MediaFormats.decodeGif(bos.toByteArray)
    assert(info.ok && info.width == w && info.height == h &&
      info.valueSum == expected, info.toString)
  }

  test("GIF: interlaced files decode through the 4-pass row mapping") {
    val (w, h) = (10, 17)
    // build an interlaced file from our own encoder: store rows in
    // interlace order, then set the descriptor's interlace bit (the
    // descriptor sits right after header+GCT: 13 + 768 bytes)
    val order = Array((0, 8), (4, 8), (2, 4), (1, 2))
      .flatMap { case (s, st) => s until h by st }
    val bytes = MediaFormats.encodeGif(w, h, (x, r) => gradient(3)(x, order(r)))
    assert((bytes(13 + 768) & 0xFF) == 0x2C, "descriptor offset")
    bytes(13 + 768 + 9) = (bytes(13 + 768 + 9) | 0x40).toByte
    val direct = (for (y <- 0 until h; x <- 0 until w)
      yield gradient(3)(x, y).toLong).sum
    val info = MediaFormats.decodeGif(bytes)
    assert(info.ok && info.valueSum == direct, info.toString)
    // stride decimation must use FINAL image coordinates, post-mapping
    val strided = (for (y <- 0 until h by 2; x <- 0 until w by 2)
      yield gradient(3)(x, y).toLong).sum
    val half = MediaFormats.decodeGif(bytes, 2)
    assert(half.ok && half.valueSum == strided && half.width == 5 &&
      half.height == 9, half.toString)
    // and ImageIO agrees the interlaced bytes mean the same image
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    var ioSum = 0L
    for (y <- 0 until h; x <- 0 until w) ioSum += img.getRaster.getSample(x, y, 0)
    assert(ioSum == direct, s"ImageIO $ioSum != $direct")
  }

  test("GIF: uniform image exercises the KwKwK code path exactly") {
    val (w, h) = (16, 16)
    val bytes = MediaFormats.encodeGif(w, h, (_, _) => 200)
    val info = MediaFormats.decodeGif(bytes)
    assert(info.ok && info.valueSum == 200L * w * h, info.toString)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    var ioSum = 0L
    for (y <- 0 until h; x <- 0 until w) ioSum += img.getRaster.getSample(x, y, 0)
    assert(ioSum == 200L * w * h)
  }

  test("GIF: truncation and early terminator fail loudly, never throw") {
    val bytes = MediaFormats.encodeGif(12, 12, gradient(9))
    // cuts: inside magic, header, palette, and mid-LZW-pixel-data (a cut
    // after the last pixel code is NOT a failure — the decoder stops
    // once the frame is filled, per the doc)
    val midLzw = 13 + 768 + 10 + 1 + 20
    assert(midLzw < bytes.length - 10)
    for (cut <- Seq(4, 13, 500, midLzw)) {
      val info = MediaFormats.decodeGif(bytes.take(cut))
      assert(!info.ok, s"cut=$cut must fail")
    }
    // corrupt the first LZW data byte (after minCode + sub-block length):
    // the initial clear code becomes a forward dictionary reference
    val broken = bytes.clone()
    broken(13 + 768 + 10 + 1 + 1) = 0xAA.toByte
    val r = MediaFormats.decodeGif(broken)
    assert(!r.ok || r.valueSum != MediaFormats.decodeGif(bytes).valueSum,
      "either loud failure or a different (honest) decode")
  }

  test("animated GIF: ImageIO reads every frame pixel-exact") {
    val (w, h, nf) = (14, 11, 4)
    def pix(f: Int)(x: Int, y: Int): Int = ((x + 3 * y + 17 * f + 5) % 256)
    val bytes = MediaFormats.encodeGifAnim(w, h, nf, pix)
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    assert(it.hasNext, "JDK gif reader present")
    val reader = it.next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(bytes)))
    assert(reader.getNumImages(true) == nf, "frame count")
    for (f <- 0 until nf) {
      val img = reader.read(f)
      assert(img.getWidth == w && img.getHeight == h, s"frame $f dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == pix(f)(x, y),
          s"frame $f pixel ($x,$y)")
    }
  }

  test("animated GIF: frame/pixel strides match brute force; skip path is real") {
    val (w, h, nf) = (13, 9, 5)
    def pix(f: Int)(x: Int, y: Int): Int = ((x + 3 * y + 17 * f + 8) % 256)
    val bytes = MediaFormats.encodeGifAnim(w, h, nf, pix)
    def brute(frameStride: Int, pixStride: Int): (Int, Long) = {
      val fs = (0 until nf).filter(_ % frameStride == 0)
      (fs.size, fs.map { f =>
        (for (y <- 0 until h if y % pixStride == 0;
              x <- 0 until w if x % pixStride == 0)
          yield pix(f)(x, y).toLong).sum
      }.sum)
    }
    for ((fs, ps) <- Seq((1, 1), (2, 2), (3, 1), (5, 4))) {
      val v = MediaFormats.decodeGifFrames(bytes, fs, ps)
      val (en, es) = brute(fs, ps)
      assert(v.ok && v.width == w && v.height == h && v.nFrames == nf &&
        v.nSampled == en && v.valueSum == es,
        s"stride ($fs,$ps): $v vs ($en,$es)")
    }
    // single-frame decodeGif agrees with frame 0 of the animation walker
    val one = MediaFormats.encodeGif(w, h, pix(0))
    assert(MediaFormats.decodeGif(one).valueSum ==
      MediaFormats.decodeGifFrames(bytes, nf, 1).valueSum)
  }

  test("animated GIF: ImageIO-written sequences decode (independent producer)") {
    val (w, h, nf) = (10, 8, 3)
    val gray = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val wit = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    assert(wit.hasNext, "JDK gif writer present")
    val writer = wit.next()
    val bos = new java.io.ByteArrayOutputStream
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var expected = 0L
    for (f <- 0 until nf) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      for (y <- 0 until h; x <- 0 until w) {
        val v = gradient(11 + 17 * f)(x, y)
        img.getRaster.setSample(x, y, 0, v)
        expected += v
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close()
    val v = MediaFormats.decodeGifFrames(bos.toByteArray, 1, 1)
    assert(v.ok && v.nFrames == nf && v.valueSum == expected, v.toString)
  }

  test("animated GIF: truncation and corruption fail loudly, never throw") {
    val bytes = MediaFormats.encodeGifAnim(12, 10, 3, f => gradient(17 * f + 2))
    for (cut <- Seq(4, 13, 500, bytes.length - 3)) {
      val v = MediaFormats.decodeGifFrames(bytes.take(cut), 1, 1)
      assert(!v.ok, s"cut=$cut must fail")
    }
    // missing trailer after the last frame's terminator
    val v2 = MediaFormats.decodeGifFrames(bytes.dropRight(1), 2, 1)
    assert(!v2.ok, "missing trailer must fail even when last frame is skipped")
  }

  test("dHash: gradient all-ascending, flat zero, wrap flips exactly its bits") {
    // monotone gradient: every horizontal comparison ascends → all 56 bits
    val px = Array.tabulate(8 * 8)(i => i % 8)
    val asc = Multimodal.dHash(MediaFormats.GrayImage(8, 8, px, ok = true))
    assert(asc == (1L << 56) - 1, asc.toString)
    // flat image: no comparison strictly greater → 0
    val flat = Multimodal.dHash(
      MediaFormats.GrayImage(8, 8, Array.fill(64)(7), ok = true))
    assert(flat == 0L)
    // one descending step at sampled column 3 of row 0 clears bit 3 only
    val dip = px.clone(); dip(4) = 0
    val got = Multimodal.dHash(MediaFormats.GrayImage(8, 8, dip, ok = true))
    assert(got == (((1L << 56) - 1) & ~(1L << 3) | (1L << 4)), got.toString)
    // undecodable input hashes to 0 with ok=false carried by the caller
    assert(Multimodal.dHash(MediaFormats.decodeGray(Array[Byte](1, 2, 3))) == 0L)
  }

  test("dHash: same scene, different container AND different size, same bucket") {
    // the perceptual property: (x + 3y) % 256 rendered 8×8 as PNG and
    // 16×16 as BMP must collide — payload checksums never would
    val scene = (x: Int, y: Int) => (x + 3 * y) % 256
    val png = MediaFormats.decodeGray(MediaFormats.encodePng(8, 8, scene))
    val bmp = MediaFormats.decodeGray(MediaFormats.encodeBmp(16, 16, scene))
    assert(png.ok && bmp.ok)
    assert(Multimodal.dHash(png) == Multimodal.dHash(bmp))
  }

  test("re-encoded animation: different bytes, identical decoded frames and dHashes") {
    val (w, h, nf) = (12, 10, 4)
    val scene = (f: Int) => (x: Int, y: Int) => (x + 3 * y + 17 * f + 5) % 256
    val base = MediaFormats.encodeGifAnim(w, h, nf, scene)
    val re = MediaFormats.encodeGifAnimShifted(w, h, nf, scene, 113)
    // a transcode: the byte streams must genuinely diverge (or the
    // fixture proves nothing beyond checksum dedup)...
    assert(!java.util.Arrays.equals(base, re),
      "rotated-palette re-encode must change the byte stream")
    // ...while every sampled frame decodes to the identical pixel grid
    val (gb, nb, okB) = MediaFormats.decodeGifFrameGrays(base, 2)
    val (gr, nr, okR) = MediaFormats.decodeGifFrameGrays(re, 2)
    assert(okB && okR && nb == nf && nr == nf && gb.size == 2 && gr.size == 2)
    gb.zip(gr).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height)
      assert(a.px.toSeq == b.px.toSeq, "decoded grids must be bit-identical")
      assert(Multimodal.dHash(a) == Multimodal.dHash(b))
    }
    // the sampled grids match the generator formulas (frames 0 and 2)
    for ((g, fi) <- gb.zip(Seq(0, 2)))
      assert(g.px.toSeq == Seq.tabulate(w * h)(p => scene(fi)(p % w, p / w)))
    // per-frame grays agree with the summing decoder's luma total
    val full = MediaFormats.decodeGifFrames(base, 1, 1)
    val (gAll, _, _) = MediaFormats.decodeGifFrameGrays(base, 1)
    assert(gAll.map(_.px.map(_.toLong).sum).sum == full.valueSum)
  }

  test("tagged WAV re-encode: different bytes, identical samples and aHash") {
    val samples = Array.tabulate(260)(i => (((i * 37) % 2003) - 1001).toShort)
    val base = MediaFormats.encodeWav(16000, samples)
    val tagged = MediaFormats.encodeWavTagged(16000, samples, "transcoded by graft")
    assert(!java.util.Arrays.equals(base, tagged),
      "the LIST/INFO chunk must change the byte stream")
    assert(tagged.length > base.length)
    val (sb, rb, okB) = MediaFormats.decodeWavSamples(base)
    val (st, rt, okT) = MediaFormats.decodeWavSamples(tagged)
    assert(okB && okT && rb == 16000 && rt == 16000)
    assert(sb.toSeq == samples.map(_.toInt).toSeq, "samples must round-trip")
    assert(st.toSeq == sb.toSeq, "the tagged container must decode identically")
    assert(Multimodal.aHash(st) == Multimodal.aHash(sb))
    // sample decode agrees with the summing decoder's amplitude total
    assert(sb.map(s => math.abs(s).toLong).sum ==
      MediaFormats.decodeWav(base).valueSum)
    // the independent JDK reader accepts the tagged container too
    val jdk = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(tagged))
    assert(jdk.getFormat.getSampleRate == 16000f)
    // truncated/odd containers fail loudly, never throw
    assert(!MediaFormats.decodeWavSamples(tagged.take(30))._3)
    assert(!MediaFormats.decodeWavSamples(Array[Byte](1, 2, 3))._3)
    // aHash: ascending-energy ramp sets every bit; constant energy none
    val ramp = Array.tabulate(330)(i => i * 3)
    assert(Multimodal.aHash(ramp) == (1L << 32) - 1)
    assert(Multimodal.aHash(Array.fill(330)(7)) == 0L)
    assert(Multimodal.aHash(Array.emptyIntArray) == 0L)
  }

  test("decodeGray agrees with the summing decoders on dims and pixel sum") {
    val bytes = MediaFormats.encodePng(13, 7, gradient(9))
    val g = MediaFormats.decodeGray(bytes)
    val info = MediaFormats.decode(bytes)
    assert(g.ok && g.width == info.width && g.height == info.height)
    assert(g.px.map(_.toLong).sum == info.valueSum)
    val bbytes = MediaFormats.encodeBmp(10, 6, gradient(3))
    val gb = MediaFormats.decodeGray(bbytes)
    assert(gb.ok && gb.px.map(_.toLong).sum == MediaFormats.decode(bbytes).valueSum)
  }

  test("decode() sniffs format from magic bytes, not labels") {
    assert(MediaFormats.decode(MediaFormats.encodePng(8, 8, gradient(0))).format == "png")
    assert(MediaFormats.decode(MediaFormats.encodeBmp(8, 8, gradient(0))).format == "bmp")
    assert(MediaFormats.decode(MediaFormats.encodeWav(8000, Array[Short](0))).format == "wav")
    assert(MediaFormats.decode(
      MediaFormats.encodeJpegGray(8, 8, (_, _) => 5)).format == "jpeg")
  }

  test("extractFeatures parses generated payloads back to the formulas") {
    val docs = (0L until 9L).toDF("doc_id")
    val f = Multimodal.extractFeatures(Multimodal.mediaFrame(docs))
      .collect().map(r => r.media_id -> r).toMap
    assert(f.values.forall(_.ok), "every generated file must parse clean")
    // d=0: png 8x8; d=4: png 12x8 — dims from the real IHDR parse
    assert(f(0L).width == 8 && f(0L).height == 8 && f(0L).n_units == 64)
    assert(f(4L).width == 12 && f(4L).height == 8)
    // d=1: wav — width carries the sample rate, n_units the sample count
    assert(f(1L).width == 8000 && f(1L).n_units == 201)
    // d=2: bmp 10x8
    assert(f(2L).width == 10 && f(2L).height == 8)
    // d=3: jpeg 8x16, block-constant pixels — blocks (0,0)=3, (0,1)=6
    assert(f(3L).width == 8 && f(3L).height == 16)
    assert(f(3L).value_sum == 64L * (3 + 6))
    // pixel sum of d=0 png: Σ (x+3y) % 256 over 8×8
    val expect0 = (for (y <- 0 until 8; x <- 0 until 8) yield (x + 3 * y) % 256).sum
    assert(f(0L).value_sum == expect0)
  }

  test("oversized payloads go by reference, small ones inline") {
    val rendered = Seq(
      (0L, "image/png", Array.fill[Byte](10)(1)),
      (1L, "video/mp4", Array.fill[Byte](100)(2))
    ).toDF("media_id", "mime", "payload")
    val m = Multimodal.inlineSplit(rendered, cap = 50)
      .select("media_id", "payload", "ref").collect()
    val small = m.find(_.getLong(0) == 0).get
    val large = m.find(_.getLong(0) == 1).get
    assert(small.getAs[Array[Byte]]("payload") != null && small.isNullAt(2))
    assert(large.isNullAt(1) && large.getAs[String]("ref") == "ref://media/1")
  }

  test("video dedup plan: candidate join is a shuffled equi-join, counts broadcast, no cartesian") {
    val df = Multimodal.queries("q_video_dedup")(spark, TestSpark.Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair candidates must come from the (frame, dhash) equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-video frame counts must join broadcast:\n$plan")
  }

  test("media LSM: an arriving cross-container re-encode clusters with its stored source") {
    val s = spark
    import org.apache.spark.sql.functions._
    val base = graft.operators.Multimodal.ensureMediaHashIndex(s, TestSpark.Sf0001)
    val delta = graft.operators.Multimodal.deltaHashKernel(
      graft.queries.Tables.documents(s, TestSpark.Sf0001))
    val copies = delta.filter(col("modality") === "image").collect()
    assert(copies.nonEmpty, "the % 101 image batch must be non-empty at sf0.001")
    // every delta row is a cross-container re-encode: its hash equals
    // its source's stored hash EXACTLY, and its mime is the opposite
    val srcHash = base.filter(col("modality") === "image")
      .select("media_id", "mime", "phash").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    copies.foreach { r =>
      val (mid, mime, ph) = (r.getAs[Long]("media_id"),
        r.getAs[String]("mime"), r.getAs[Long]("phash"))
      val src = mid - graft.operators.Multimodal.MediaAppendOffset
      val (sMime, sHash) = srcHash(src)
      assert(ph == sHash, s"copy of $src re-encoded to a different dHash")
      assert(mime != sMime, s"copy of $src must switch containers, both $mime")
      assert(r.getAs[Boolean]("ok"), s"copy of $src failed to decode")
    }
    // and the served append clusters carry n_mimes = 2 for each pair
    val served = SparkEntry.queries("q_image_dedup_append")(s, TestSpark.Sf0001)
      .collect()
    val copyHashes = copies.map(_.getAs[Long]("phash")).toSet
    val hit = served.filter(r => copyHashes.contains(r.getAs[Long]("dhash")))
    assert(hit.nonEmpty && hit.forall(_.getAs[Long]("n_mimes") == 2L),
      "every copy-bearing cluster must span both containers")
  }

  test("media LSM across modalities: delta video re-encodes and audio copies match stored hashes") {
    // r13 verdict #3: the delta generation is not image-siloed — a
    // video re-encode (rotated palette) and a tagged audio copy of
    // STORED sources arrive through the same ingest kernel and must
    // carry EXACTLY their source's stored hashes (so base ∪ delta
    // clustering needs zero base re-decode)
    val s = spark
    import org.apache.spark.sql.functions._
    val base = graft.operators.Multimodal.ensureMediaHashIndex(s, TestSpark.Sf0001)
    val delta = graft.operators.Multimodal.deltaHashKernel(
      graft.queries.Tables.documents(s, TestSpark.Sf0001))
    val vidCopies = delta.filter(col("modality") === "video").collect()
    assert(vidCopies.nonEmpty,
      s"the % ${graft.operators.Multimodal.VideoAppendMod} video batch must be non-empty at sf0.001")
    assert(vidCopies.forall(_.getAs[Boolean]("ok")), "a delta re-encode failed to decode")
    // per (src, pos) the re-encode's frame hash equals the source's
    val baseVid = base.filter(col("modality") === "video" &&
        col("media_id") === col("src_id"))
      .select("src_id", "pos", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    vidCopies.foreach { r =>
      val (src, pos, ph) = (r.getAs[Long]("src_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("phash"))
      assert(baseVid((src, pos)) == ph,
        s"video re-encode of $src frame $pos hashed differently — the base would need re-decoding")
    }
    val audCopies = delta.filter(col("modality") === "audio").collect()
    assert(audCopies.nonEmpty,
      s"the % ${graft.operators.Multimodal.AudioAppendMod} audio batch must be non-empty at sf0.001")
    val baseAud = base.filter(col("modality") === "audio" &&
        col("media_id") === col("src_id"))
      .select("src_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    audCopies.foreach { r =>
      assert(baseAud(r.getAs[Long]("src_id")) == r.getAs[Long]("phash"),
        s"tagged audio copy of ${r.getAs[Long]("src_id")} hashed differently")
      assert(r.getAs[Boolean]("ok"))
    }
    // and the served pair/cluster sets actually contain a cross-
    // generation hit: each delta video pairs with its base source
    val served = SparkEntry.queries("q_video_dedup_append")(s, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    vidCopies.map(_.getAs[Long]("src_id")).distinct.foreach { src =>
      val copy = src + graft.operators.Multimodal.VideoAppendOffset
      assert(served.contains((src, copy)),
        s"arriving re-encode $copy must pair with its stored source $src")
    }
  }

  test("media takedown is SOURCE-keyed: a retracted doc's re-encodes and copies fall with it") {
    // the round-13 review finding: a media_id-keyed purge removed only
    // the doc's own row while its video re-encode (+VideoDupOffset) and
    // cross-container append copy (+MediaAppendOffset) — the same
    // retracted content under different bytes — kept serving
    val s = spark
    import org.apache.spark.sql.functions.col
    val dead = graft.operators.Multimodal.ensureMediaForgetSet(s, TestSpark.Sf0001)
    val deadIds = dead.collect().map(_.getLong(0)).toSeq
    assert(deadIds.nonEmpty, "retraction fixture empty")
    val gen1 = graft.operators.Multimodal.ensureMediaHashIndex(s, TestSpark.Sf0001)
    // the fixture genuinely plants derived assets for retracted docs
    // (every %20 doc is %4==0, so each ships a shifted video re-encode)
    val derived = gen1.filter(col("media_id") =!= col("src_id") &&
      col("src_id").isin(deadIds: _*))
    assert(derived.count() >= deadIds.size,
      "every retracted doc must carry at least its video re-encode in gen1")
    // the purged generation holds NO row of ANY modality or identity
    // whose source is retracted
    val gen2 = graft.operators.Multimodal.mediaServed(s, TestSpark.Sf0001,
      graft.operators.Ingest.DocGen.Purged(graft.operators.Ingest.Tombstones.Stored))
    assert(gen2.filter(col("src_id").isin(deadIds: _*)).count() == 0,
      "a retracted source survived the purge under a derived identity")
    // the append delta's cross-container copies obey the same mask
    val delta = graft.operators.Multimodal.deltaHashKernel(
      graft.queries.Tables.documents(s, TestSpark.Sf0001))
    assert(delta.filter(col("src_id").isin(deadIds: _*)).count() > 0,
      "fixture must include a delta copy of a retracted doc (doc 0)")
    val masked = graft.operators.Multimodal.mediaServed(s, TestSpark.Sf0001,
      graft.operators.Ingest.DocGen.Masked(graft.operators.Ingest.Tombstones.Stored,
        graft.operators.Ingest.DocGen.Appended))
    assert(masked.filter(col("src_id").isin(deadIds: _*)).count() == 0,
      "the serve-time mask must cover the delta's copies too")
    assert(masked.count() ==
      gen1.unionByName(delta).filter(!col("src_id").isin(deadIds: _*)).count(),
      "the mask over the appended chain must keep every surviving row, delta included")
  }

  test("metadata-only query never reads payload bytes from the stored frame") {
    // the media frame is STORED once (ensureMediaFrame); the metadata
    // aggregation's scan must prune the binary payload column — the
    // whole point of columnar multimodal storage at 100 TB
    val df = Multimodal.queries("q_multimodal_meta")(spark, TestSpark.Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<mime:string,n_bytes:bigint>"),
      s"stored-frame scan must read only (mime, n_bytes):\n$plan")
    assert(!plan.contains("payload"), "payload bytes must not be read")
    assert(!plan.contains("text#"), "the raw corpus must not be read at all")
  }

  // --- randomized decoder fuzz (VERDICT r14 #3) -------------------------
  // The JetFileSpec idiom over every media decoder: arbitrary corruption
  // must land in `ok = false` (or, when the corrupted byte is outside
  // the decoded payload — BMP row padding, unchecked header fields — an
  // UNCHANGED decode), never an uncontrolled exception and never a
  // silently-wrong result in a checksummed region.

  private def fuzzFixtures: Seq[(String, Array[Byte])] = Seq(
    "png" -> MediaFormats.encodePng(9, 7, gradient(3)),
    "bmp" -> MediaFormats.encodeBmp(9, 7, gradient(4)),
    "gif" -> MediaFormats.encodeGif(9, 7, gradient(5)),
    "gif_anim" -> MediaFormats.encodeGifAnim(5, 4, 3, f => gradient(f + 1L)),
    // small-magnitude samples: every single-bit flip of any sample
    // changes |amplitude| (bit 15 maps small x to ~±32k), so a payload
    // flip can never legitimately preserve value_sum
    "wav" -> MediaFormats.encodeWav(8000,
      Array[Short](5, -7, 123, 0, 31, -2, 99, 64)),
  )

  test("fuzz: EVERY truncation point decodes to ok=false (or an unchanged " +
      "tail-pad cut), never throws") {
    for ((fmt, bytes) <- fuzzFixtures) {
      val orig = MediaFormats.decode(bytes)
      assert(orig.ok, s"$fmt fixture must decode clean")
      for (cut <- 0 until bytes.length) {
        val info = try MediaFormats.decode(bytes.take(cut)) catch {
          case e: Throwable => fail(s"$fmt cut=$cut threw $e")
        }
        assert(!info.ok || info == orig,
          s"$fmt truncated at $cut/${bytes.length} decoded ok with " +
            s"different content: $info vs $orig")
      }
    }
  }

  test("fuzz: EVERY single-bit flip never throws; checksummed formats " +
      "always report it; payload flips never preserve the hash") {
    for ((fmt, bytes) <- fuzzFixtures; i <- bytes.indices;
        mask <- Seq(0x01, 0x80)) {
      val corrupt = bytes.clone()
      corrupt(i) = (corrupt(i) ^ mask).toByte
      val orig = MediaFormats.decode(bytes)
      val info = try MediaFormats.decode(corrupt) catch {
        case e: Throwable => fail(s"$fmt flip@$i mask=$mask threw $e")
      }
      // PNG: every byte sits under the magic or a chunk CRC — a
      // single-bit flip can never survive as ok (CRC32 has no
      // 1-bit collisions)
      if (fmt == "png")
        assert(!info.ok, s"png flip@$i mask=$mask decoded ok: $info")
      // BMP: flips INSIDE the decoded payload must change the decode or
      // fail it — never ok with the original (width, height, value_sum).
      // The decoded payload is the R channel only (grayscale frames;
      // decodeGrayBmp reads base + 3x + 2): B/G bytes and row padding
      // are legitimately outside it.
      if (fmt == "bmp") {
        val rowSize = (3 * 9 + 3) / 4 * 4
        val inRow = (i - 54) % rowSize
        val inPayload = i >= 54 && inRow < 3 * 9 && inRow % 3 == 2
        if (inPayload)
          assert(!info.ok || info != orig,
            s"bmp payload flip@$i mask=$mask preserved the decode")
      }
      // WAV: flips inside the data chunk change a sample's magnitude
      // by fixture construction — value_sum must move or ok must drop
      if (fmt == "wav" && i >= 44)
        assert(!info.ok || info != orig,
          s"wav sample flip@$i mask=$mask preserved the decode")
    }
  }

  test("fuzz: random byte soup behind each format magic never throws and " +
      "never decodes ok") {
    import org.scalacheck.Gen
    val magics = Seq[Array[Byte]](
      Array(0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      Array('B', 'M'),
      Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte), // JPEG: decoder-only path
      "RIFF????WAVE".getBytes("US-ASCII"),
      "GIF89a".getBytes("US-ASCII"))
    val gen = for {
      magic <- Gen.oneOf(magics)
      n <- Gen.chooseNum(0, 400)
      body <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    } yield magic ++ body.toArray
    for (bytes <- samples(gen, 400)) {
      val info = try MediaFormats.decode(bytes) catch {
        case e: Throwable =>
          fail(s"soup (${bytes.length} B, magic ${bytes.take(4).toSeq}) threw $e")
      }
      assert(!info.ok,
        s"random soup decoded ok=$info (${bytes.take(16).toSeq}…)")
    }
  }
}
