package graft

import graft.ops.Multimodal

/** JPEG through `Multimodal.encodeImage` / `decodeImage` (the JDK's
  * ImageIO plugin): the quality-1.0 round-trip band, the 4:4:4 and
  * 4:2:0 and progressive stream structure, gray decode, the MJPEG
  * index seek and the feature routing. JPEG is lossy, so pixel
  * agreement is banded; structure is exact. */
class JpegSpec extends SparkSpec {

  private def formulaRgb(w: Int, h: Int): Array[Int] = {
    val rgb = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      rgb(p) = (7 * x + 3 * y) % 256
      rgb(p + 1) = (5 * x * y + 11) % 256
      rgb(p + 2) = (x * x + 2 * y) % 256
    }
    rgb
  }

  private def maxDiff(a: Array[Int], b: Array[Int]): Int =
    a.indices.map(i => math.abs(a(i) - b(i))).max

  test("self round trip at q=1 stays within the DCT+color floor (<=4)") {
    val (w, h) = (37, 23) // non-multiple-of-8 dims exercise edge padding
    val rgb = formulaRgb(w, h)
    val bytes = Multimodal.encodeImage("jpg", w, h, rgb)
    assert(Multimodal.detectFormat(bytes) == "jpg")
    val (dw, dh, out) = Multimodal.decodeImage(bytes)
    assert((dw, dh) == (w, h))
    val e = maxDiff(rgb, out)
    assert(e <= 4, s"round-trip error $e exceeds the q=1 band")
  }

  test("golden: javax.imageio reads our bytes (structure + banded pixels)") {
    val (w, h) = (37, 23)
    val rgb = formulaRgb(w, h)
    val bytes = Multimodal.encodeImage("jpg", w, h, rgb)
    // SOF0 with three components, each sampled 1x1 (4:4:4):
    // FF C0 len(2) prec h(2) w(2) ncomp, then (id, hv, tq) per component
    val sof = (0 until bytes.length - 1).find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0).get
    assert((bytes(sof + 9) & 0xff) == 3)
    assert((0 until 3).forall(c => (bytes(sof + 11 + 3 * c) & 0xff) == 0x11),
      "SOF is not 4:4:4")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h,
      "imageio rejected our stream")
    var vsOrig = 0
    for (y <- 0 until h; x <- 0 until w) {
      val px = img.getRGB(x, y)
      val io = Array((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
      val p = (y * w + x) * 3
      for (c <- 0 until 3) vsOrig = math.max(vsOrig, math.abs(io(c) - rgb(p + c)))
    }
    assert(vsOrig <= 4, s"imageio-vs-original error $vsOrig out of band")
  }

  test("gray PNG and gray JPEG decode to the stored sample") {
    // ImageIO's getRGB maps linear gray to sRGB (a stored 90 reads as
    // 160); decodeImage reads the raster sample into r = g = b
    val (w, h) = (37, 23)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (13 * x + 29 * y) % 256)
    for ((format, band) <- Seq(("png", 0), ("jpg", 1))) {
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
      val param = wr.getDefaultWriteParam
      if (format == "jpg") {
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(1.0f)
      }
      val baos = new java.io.ByteArrayOutputStream
      val out = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      wr.setOutput(out)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
      wr.dispose(); out.close()
      val (dw, dh, got) = Multimodal.decodeImage(baos.toByteArray)
      assert((dw, dh) == (w, h))
      var e = 0
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        e = math.max(e, math.abs(got(p) - (13 * x + 29 * y) % 256))
        assert(got(p) == got(p + 1) && got(p) == got(p + 2), s"$format ($x,$y) not gray")
      }
      assert(e <= band, s"gray $format error $e")
    }
  }

  test("golden: our decoder reads javax.imageio bytes (gray, default quality)") {
    val (w, h) = (37, 23)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val wr = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      wr.setSample(x, y, 0, (13 * x + 29 * y) % 256)
    val baos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val bytes = baos.toByteArray
    val (dw, dh, mine) = Multimodal.decodeImage(bytes)
    assert((dw, dh) == (w, h))
    // compare RAW samples (getRGB would gamma-lift TYPE_BYTE_GRAY)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)).getRaster
    var e = 0
    for (y <- 0 until h; x <- 0 until w) {
      e = math.max(e, math.abs(ref.getSample(x, y, 0) - mine((y * w + x) * 3)))
      // gray replicates into all three channels
      assert(mine((y * w + x) * 3) == mine((y * w + x) * 3 + 2))
    }
    assert(e <= 2, s"cross-decoder gray disagreement $e (IDCT slop is ~1)")
  }

  test("golden: progressive grayscale matches imageio exactly-decoded pixels") {
    val (w, h) = (29, 17)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 7 + y * 11) % 256)
    val baos = new java.io.ByteArrayOutputStream
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = wr.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    wr.setOutput(javax.imageio.ImageIO.createImageOutputStream(baos))
    wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
    wr.dispose()
    val bytes = baos.toByteArray
    val (dw, dh, mine) = Multimodal.decodeImage(bytes)
    assert((dw, dh) == (w, h))
    // single component: no upsampling choice, only IDCT rounding
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    var maxd = 0
    for (y <- 0 until h; x <- 0 until w) {
      val g = ref.getRaster.getSample(x, y, 0)
      maxd = math.max(maxd, math.abs(g - mine((y * w + x) * 3)))
    }
    assert(maxd <= 2, s"progressive gray cross-decoder disagreement $maxd")
  }

  /** The same bytes through plain `ImageIO.read` and `getRGB`. */
  private def viaImageIo(bytes: Array[Byte]): Array[Int] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
      .flatMap(px => Array((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff))
  }

  test("4:2:0 encoder: smaller stream, decodes within the chroma band, imageio agrees") {
    val (w, h) = (37, 23)
    // smooth chroma so the subsample loss stays tight
    val rgb = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      i % 3 match { case 0 => x * 3 + 40; case 1 => y * 4 + 30; case _ => 90 }
    }
    val sub = Multimodal.encodeImage("jpg420", w, h, rgb)
    val full = Multimodal.encodeImage("jpg", w, h, rgb)
    assert(sub.length < full.length, "4:2:0 did not shrink the stream")
    // SOF carries the 2×2 luma sampling factor
    // FF C0 len(2) prec h(2) w(2) ncomp id1 hv1 → hv1 at offset +11
    assert((0 until sub.length - 12).exists(i =>
      (sub(i) & 0xff) == 0xff && (sub(i + 1) & 0xff) == 0xc0
        && (sub(i + 11) & 0xff) == 0x22), "SOF is not 4:2:0")
    val (dw, dh, mine) = Multimodal.decodeImage(sub)
    assert((dw, dh) == (w, h))
    val maxSelf = maxDiff(rgb, mine)
    assert(maxSelf <= 10, s"4:2:0 round-trip error $maxSelf on smooth chroma")
    // decodeImage returns exactly what plain ImageIO.read does
    assert(mine.sameElements(viaImageIo(sub)), "decodeImage differs from ImageIO.read")
  }

  test("golden: progressive color (sharp + smooth chroma) matches imageio") {
    // the JDK writer's MODE_DEFAULT progressive script exercises both
    // spectral selection AND successive approximation (DC Al=1 +
    // refinement, AC bands at Al=2/1/0) over its default 4:2:0 layout
    val (w, h) = (37, 23)
    val sharp = Multimodal.encodeImage("jpgprog", w, h, formulaRgb(w, h))
    val (dw, dh, mine) = Multimodal.decodeImage(sharp)
    assert((dw, dh) == (w, h))
    assert(mine.sameElements(viaImageIo(sharp)), "decodeImage differs from ImageIO.read")
    // smooth chroma: the subsampling loss stays within the oracle band
    val smoothRgb = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      i % 3 match { case 0 => x * 3 + 40; case 1 => y * 4 + 30; case _ => 90 }
    }
    val smooth = Multimodal.encodeImage("jpgprog", w, h, smoothRgb)
    val maxs = maxDiff(smoothRgb, Multimodal.decodeImage(smooth)._3)
    assert(maxs <= 8, s"progressive smooth-chroma max error $maxs")
    // and a progressive stream really is multi-scan: > 1 SOS marker
    def sosCount(b: Array[Byte]): Int = (0 until b.length - 1).count(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)
    assert(sosCount(sharp) > 1 && sosCount(smooth) > 1, "progressive stream has one scan?")
  }

  test("mjpeg container: index seek decodes exactly the k-th frame") {
    val (w, h) = (24, 16)
    val frames = (0 until 5).map { t =>
      Multimodal.encodeImage("jpg", w, h, formulaRgb(w, h).map(v => math.min(255, v / 2 + t * 7)))
    }
    val clip = Multimodal.encodeMjpeg(frames)
    assert(Multimodal.mjpegFrameCount(clip) == 5)
    for (k <- Seq(0, 2, 4)) {
      val (dw, dh, viaClip) = Multimodal.decodeMjpegFrame(clip, k)
      val (_, _, direct) = Multimodal.decodeImage(frames(k))
      assert((dw, dh) == (w, h) && viaClip.sameElements(direct),
        s"frame $k seek mismatch")
    }
    intercept[IllegalArgumentException](Multimodal.decodeMjpegFrame(clip, 5))
    // frames route by sniff: a mixed JPEG/GIF clip decodes per-frame,
    // and the GIF frame comes back bit-exact (lossless)
    val palette = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; (((p % w) + (p / w)) % 4) * 36
    }
    val mixed = Multimodal.encodeMjpeg(Seq(
      Multimodal.encodeImage("jpg", w, h, palette), Multimodal.encodeImage("gif", w, h, palette)))
    val (_, _, gifFrame) = Multimodal.decodeMjpegFrame(mixed, 1)
    assert(gifFrame.sameElements(palette), "gif frame not exact through the clip")
  }

  test("decodeFeatures routes jpg payloads through the codec") {
    val (w, h) = (20, 14)
    val rgb = formulaRgb(w, h)
    val bytes = Multimodal.encodeImage("jpg", w, h, rgb)
    val (dw, dh, f) = Multimodal.decodeFeatures(bytes)
    assert((dw, dh) == (w, h) && f(6) == w.toFloat && f(7) == h.toFloat)
    // banded against the analytic sums (lossy decode)
    val sumR = (for (y <- 0 until h; x <- 0 until w) yield rgb((y * w + x) * 3)).sum
    assert(math.abs(f(0) - sumR) <= 4.0 * w * h)
  }
}
