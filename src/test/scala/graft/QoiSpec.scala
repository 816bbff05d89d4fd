package graft

import graft.ops.{Multimodal, Qoi}

/** QOI codec: pixel-exact round trips per op family, hand-computed
  * golden bytes, container plumbing. The op-targeted fixtures matter:
  * a codec that only ever emits RGB literals still round-trips, so
  * each test drives a specific chunk type and the golden pins the
  * actual encoding. */
class QoiSpec extends SparkSpec {

  private def roundTrip(w: Int, h: Int, rgb: Array[Int]): Unit = {
    val bytes = Qoi.encode(w, h, rgb)
    val (dw, dh, out) = Qoi.decode(bytes)
    assert(dw == w && dh == h)
    var i = 0
    while (i < rgb.length) {
      assert(out(i) == rgb(i), s"pixel byte $i: ${out(i)} != ${rgb(i)}")
      i += 1
    }
  }

  test("round trip: gradients (DIFF/LUMA), noise (RGB), repeats (INDEX)") {
    // the q_qoi_features formula image (gradients + wrap points)
    for (doc <- Seq(0L, 7L, 123L)) {
      val w = 16 + (doc % 9).toInt; val h = 12 + (doc % 7).toInt
      val rgb = Array.tabulate(w * h * 3) { k =>
        val p = k / 3; val x = p % w; val y = p / w
        (k % 3 match {
          case 0 => (doc + 3L * x + 7L * y) % 256L
          case 1 => (2L * doc + 5L * x + y) % 256L
          case _ => (3L * doc + x + 11L * y) % 256L
        }).toInt
      }
      roundTrip(w, h, rgb)
    }
    // full-range noise → mostly RGB literals
    roundTrip(13, 9, Array.tabulate(13 * 9 * 3)(i =>
      ((i.toLong * 2654435761L) % 256L).toInt))
    // two alternating colors → INDEX ops after first sight
    roundTrip(10, 10, Array.tabulate(10 * 10 * 3) { k =>
      if ((k / 3) % 2 == 0) Seq(10, 200, 30)(k % 3) else Seq(250, 5, 90)(k % 3)
    })
  }

  test("runs: constant image compresses to chunked 62-runs and round-trips") {
    val n = 200 // forces 62+62+62+run(13) after the first literal
    val rgb = Array.tabulate(n * 3)(i => Seq(7, 8, 9)(i % 3))
    val bytes = Qoi.encode(n, 1, rgb)
    // header 14 + first pixel (DIFF/LUMA/RGB) + 4 run chunks + marker 8
    assert(bytes.length < 30, s"constant image encoded ${bytes.length} bytes")
    roundTrip(n, 1, rgb)
  }

  test("golden: hand-computed bytes for a 2x2 image") {
    // px (0,0,0) == implicit previous {0,0,0,255} → run of 2;
    // (1,1,1): DIFF +1/+1/+1 → 0x7f; (3,4,5): LUMA vg=3, vr-vg=-1,
    // vb-vg=1 → 0xa3 0x79
    val rgb = Array(0, 0, 0, 0, 0, 0, 1, 1, 1, 3, 4, 5)
    val bytes = Qoi.encode(2, 2, rgb)
    val want = Array[Int](
      'q', 'o', 'i', 'f', 0, 0, 0, 2, 0, 0, 0, 2, 3, 0, // header
      0xc1,       // RUN 2
      0x7f,       // DIFF (+1,+1,+1)
      0xa3, 0x79, // LUMA vg=+3, (vr-vg)=-1, (vb-vg)=+1
      0, 0, 0, 0, 0, 0, 0, 1) // end marker
    assert(bytes.map(_ & 0xff).toSeq == want.toSeq,
      s"got ${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    roundTrip(2, 2, rgb)
  }

  test("container: detectFormat routes qoi and decodeFeatures is exact") {
    val rgb = Array.tabulate(9 * 8 * 3)(i => (i * 11) % 256)
    val bytes = Qoi.encode(9, 8, rgb)
    assert(Multimodal.detectFormat(bytes) == "qoi")
    val (w, h, f) = Multimodal.decodeFeatures(bytes)
    assert(w == 9 && h == 8)
    val sumR = (0 until 9 * 8).map(p => rgb(p * 3)).sum
    assert(f(0).toLong == sumR)
  }

  test("transcode chain: BMP → PNG → QOI → GIF → BMP is pixel-identical") {
    // every lossless codec decodes what any other encoded — the
    // cross-container interop a media pipeline actually performs.
    // GIF is palette-bound, so the fixture uses ≤256 distinct colors.
    val w = 17; val h = 11
    val rgb = Array.tabulate(w * h * 3) { k =>
      val p = k / 3
      Seq((p * 7) % 256, (p * 13) % 256, (p * 29) % 256)(k % 3)
    }
    def via(format: String, img: (Int, Int, Array[Int])): (Int, Int, Array[Int]) =
      Multimodal.decodeImage(Multimodal.encodeImage(format, img._1, img._2, img._3))
    val viaBmp = via("bmp", (w, h, rgb))
    val viaPng = via("png", viaBmp)
    val viaQoi = Qoi.decode(Qoi.encode(viaPng._1, viaPng._2, viaPng._3))
    val back = via("bmp", via("gif", viaQoi))
    assert(back._1 == w && back._2 == h)
    assert(back._3.toSeq == rgb.toSeq, "pixels drifted through the chain")
  }

  test("index op: far-apart re-occurrence of a cached color is one byte") {
    // color A, then 70 distinct colors, then A again — A must come
    // back via INDEX (its slot survives unless evicted by a collider)
    val a = Seq(100, 150, 200)
    val mid = (0 until 70).flatMap(i => Seq(i, 255 - i, (i * 3) % 256))
    val rgb = (a ++ mid ++ a).toArray
    roundTrip(72, 1, rgb)
  }
}
