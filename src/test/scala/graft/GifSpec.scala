package graft

import graft.ops.Multimodal

/** GIF through `Multimodal.encodeImage` / `decodeImage` (the JDK's
  * ImageIO plugin): bit-exact round trips (lossless), a non-interlaced
  * stream, dictionary-reset coverage, loud errors on unsupported
  * shapes. */
class GifSpec extends SparkSpec {

  private def banded(w: Int, h: Int, levels: Int): Array[Int] = {
    val rgb = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      rgb(p) = ((x + y) % levels) * 36
      rgb(p + 1) = ((x * 2 + y) % levels) * 30
      rgb(p + 2) = ((x + 3 * y) % levels) * 20
    }
    rgb
  }

  test("round trip is bit-exact across shapes, palettes, and the 4096 reset") {
    // 513x300 crosses every code width and the dictionary reset
    for ((w, h, lv) <- Seq((37, 23, 4), (7, 5, 1), (16, 12, 2), (513, 300, 7))) {
      val rgb = banded(w, h, lv)
      val bytes = Multimodal.encodeImage("gif", w, h, rgb)
      assert(Multimodal.detectFormat(bytes) == "gif")
      val (dw, dh, out) = Multimodal.decodeImage(bytes)
      assert((dw, dh) == (w, h) && out.sameElements(rgb),
        s"${w}x$h lv=$lv round trip not exact")
    }
  }

  test("golden: javax.imageio reads our bytes pixel-exact") {
    val (w, h) = (64, 48)
    val rgb = banded(w, h, 6)
    val bytes = Multimodal.encodeImage("gif", w, h, rgb)
    // walk to the image descriptor: its interlace flag (0x40) is off —
    // the JDK writer's interlaced default loses rows of small images
    var pos = 13 + (if ((bytes(10) & 0x80) != 0) 3 << ((bytes(10) & 7) + 1) else 0)
    while (bytes(pos) == 0x21) { // extension: label, then sub-blocks
      pos += 2
      while (bytes(pos) != 0) pos += 1 + (bytes(pos) & 0xff)
      pos += 1
    }
    assert(bytes(pos) == 0x2c && (bytes(pos + 9) & 0x40) == 0, "interlaced gif")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val px = img.getRGB(x, y); val p = (y * w + x) * 3
      assert(((px >> 16) & 0xff) == rgb(p) && ((px >> 8) & 0xff) == rgb(p + 1)
        && (px & 0xff) == rgb(p + 2), s"mismatch at ($x,$y)")
    }
  }

  test("unsupported shapes fail loudly") {
    // 1024 distinct colors: (p % 256, 60·(p div 256), 0)
    val rgb = Array.tabulate(32 * 32 * 3) { i =>
      val p = i / 3
      i % 3 match { case 0 => p % 256; case 1 => (p / 256) * 60; case _ => 0 }
    }
    val e = intercept[IllegalArgumentException](Multimodal.encodeImage("gif", 32, 32, rgb))
    assert(e.getMessage.contains("256"), e.getMessage)
    val bad = Array.tabulate(3)(_ => 300)
    val e2 = intercept[IllegalArgumentException](Multimodal.encodeImage("gif", 1, 1, bad))
    assert(e2.getMessage.contains("0..255"), e2.getMessage)
  }

  test("decodeFeatures routes gif payloads, exact") {
    val (w, h) = (20, 14)
    val rgb = banded(w, h, 3)
    val bytes = Multimodal.encodeImage("gif", w, h, rgb)
    val (dw, dh, f) = Multimodal.decodeFeatures(bytes)
    assert((dw, dh) == (w, h))
    val sumR = (0 until w * h).map(p => rgb(3 * p)).sum
    assert(f(0) == sumR.toFloat, "gif features not exact")
  }
}
