package graft

import graft.api.JobRegistry
import graft.ops.Multimodal
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("dynamic partition overwrite replaces only the written partitions") {
    val dir = Files.createTempDirectory("graft_dpo").toString
    val day1 = Seq((1L, "d1", 10.0), (2L, "d1", 20.0)).toDF("id", "day", "v")
    val day2 = Seq((3L, "d2", 30.0)).toDF("id", "day", "v")
    Sinks.writePartitionedParquet(day1.unionByName(day2), dir, Seq("day"))
    // re-run day1 only, with corrected rows: day2 must survive
    val fixed = Seq((1L, "d1", 11.0)).toDF("id", "day", "v")
    Sinks.writePartitionedParquet(fixed, dir, Seq("day"))
    val back = spark.read.parquet(dir)
      .select("id", "day", "v").as[(Long, String, Double)].collect().toSet
    assert(back == Set((1L, "d1", 11.0), (3L, "d2", 30.0)))
  }

  test("JSONL export: split-partitioned layout, line-valid JSON, lossless roundtrip") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .join(graft.ops.DataQueries.splitAssign(spark, "/root/testdata/sf0.001")
        .select("doc_id", "split"), Seq("doc_id"))
      .select("doc_id", "text", "lang", "split")
    Sinks.writeJsonl(docs, dir, Seq("split"))
    // the loader-facing layout: one directory per split
    val splits = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splits == Set("split=train", "split=val", "split=test"))
    // every line of every part file parses as a standalone JSON object
    val partFiles = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".json"))
    assert(partFiles.nonEmpty)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    partFiles.take(3).foreach { f =>
      scala.io.Source.fromFile(f).getLines().take(5).foreach { line =>
        val node = mapper.readTree(line)
        assert(node.has("doc_id") && node.has("text"), s"bad line: $line")
      }
    }
    // lossless roundtrip
    val back = Sinks.readJsonl(spark, dir)
      .select("doc_id", "text", "lang", "split")
      .as[(Long, String, String, String)].collect().toSet
    val want = docs.as[(Long, String, String, String)].collect().toSet
    assert(back == want)
  }

  test("partitioned CSV sink roundtrips with stable per-partition schema (S4)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq(
      ("0xaa", 1L, "Token", "Transfer", "100"),
      ("0xbb", 2L, "Token", "Approval", "200"),
      ("0xcc", 3L, "Pool", "Swap", "300")
    ).toDF("tx_hash", "block_number", "contract_name", "event_name", "value")
    Sinks.writeEventsCsv(df, dir)
    val back = spark.read.option("header", "true").csv(s"$dir/*/*")
    assert(back.count() == 3)
    // partition columns come back from the directory layout
    val full = spark.read.option("header", "true")
      .option("basePath", dir).csv(s"$dir/contract_name=*/event_name=*")
    assert(full.select("contract_name").distinct().count() == 2)
  }

  test("filename metadata extraction on glob reads (S8)") {
    val dir = Files.createTempDirectory("graft_glob").toString
    Seq(("1", "2")).toDF("timestamp", "tick").coalesce(1)
      .write.option("header", "true").csv(s"$dir/DAIUSDC500_Swap")
    val read = spark.read.option("header", "true").csv(s"$dir/*_Swap/*.csv")
    val got = Sinks.readWithFilenameMeta(read,
        ".*/([A-Z]+?)(USDC|USDT|ETH)(100|500|3000)_Swap.*", Seq(("a", 1), ("b", 2), ("fee", 3)))
      .select("a", "b", "fee").head()
    assert(got.getString(0) == "DAI" && got.getString(1) == "USDC"
      && got.getString(2) == "500")
  }

  test("retry decorator: recovers, then propagates last error (S6)") {
    var calls = 0
    val got = Sinks.withRetries(3, 1) { calls += 1; if (calls < 3) sys.error("boom"); 42 }
    assert(got == 42 && calls == 3)
    intercept[RuntimeException] {
      Sinks.withRetries(2, 1) { sys.error("always") }
    }
  }

  test("retry decorator: an interrupt, a cancelled job or a fatal error is not retried") {
    val cancelledJob = new org.apache.spark.SparkException("SPARK_JOB_CANCELLED",
      Map("jobId" -> "7", "reason" -> "part of cancelled job group g"), null)
    val failures: Seq[() => Throwable] = Seq(
      () => new InterruptedException("stop"),
      () => new RuntimeException("write failed", cancelledJob),
      () => new StackOverflowError("fatal"))
    for (fail <- failures) {
      var calls = 0
      val thrown = intercept[Throwable] {
        Sinks.withRetries(3, 60000) { calls += 1; throw fail() }
      }
      assert(calls == 1, s"retried $thrown")
    }
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // --- golden byte-format pins: the oracle gate proves decode∘encode
  // --- = id; these prove conformance to the PUBLIC formats, so the
  // --- codecs read/write files other tools produce/consume.

  test("WAV golden bytes: canonical header + little-endian sign-extended PCM") {
    val samples = Array(0, 1, -1, 32767, -32768)
    val bytes = Multimodal.encodeWavPcm16(samples, 8000)
    val expected = Array[Int](
      'R', 'I', 'F', 'F', 46, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0,
      1, 0, 1, 0,                    // PCM, mono
      0x40, 0x1f, 0, 0,              // 8000 Hz
      0x80, 0x3e, 0, 0,              // byte rate 16000
      2, 0, 16, 0,                   // block align, bits
      'd', 'a', 't', 'a', 10, 0, 0, 0,
      0x00, 0x00, 0x01, 0x00, 0xff, 0xff, 0xff, 0x7f, 0x00, 0x80
    ).map(_.toByte)
    assert(bytes.toSeq == expected.toSeq)
    val (sr, dec) = Multimodal.decodeWav(bytes)
    assert(sr == 8000 && dec.toSeq == samples.toSeq)
  }

  test("WAV decoder walks chunks: unknown chunk before data is skipped") {
    val base = Multimodal.encodeWavPcm16(Array(5, -6, 7), 44100)
    // splice a LIST chunk (odd size → padded) between fmt and data
    val junk = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.take(36) ++ junk ++ base.drop(36)
    // fix RIFF size
    val sz = spliced.length - 8
    spliced(4) = (sz & 0xff).toByte; spliced(5) = ((sz >> 8) & 0xff).toByte
    val (sr, dec) = Multimodal.decodeWav(spliced)
    assert(sr == 44100 && dec.toSeq == Seq(5, -6, 7))
  }

  test("BMP golden bytes: bottom-up BGR rows padded to 4 bytes") {
    // 2x2 top-down RGB: (1,2,3) (4,5,6) / (7,8,9) (10,11,12)
    val rgb = Array(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    val bytes = Multimodal.encodeImage("bmp", 2, 2, rgb)
    assert(bytes.length == 54 + 16) // rowSize 8 (6 + 2 pad) x 2 rows
    // pixel data: file row 0 = IMAGE row 1, BGR order
    val px = bytes.drop(54).map(_ & 0xff).toSeq
    assert(px == Seq(9, 8, 7, 12, 11, 10, 0, 0, /* image row 1 */
                     3, 2, 1, 6, 5, 4, 0, 0))   /* image row 0 */
    val (w, h, dec) = Multimodal.decodeImage(bytes)
    assert(w == 2 && h == 2 && dec.toSeq == rgb.toSeq)
  }

  test("PPM round trip, with header comments") {
    val rgb = Array.tabulate(2 * 3 * 3)(i => (i * 17) % 256)
    val bytes = Multimodal.encodePpm(2, 3, rgb)
    assert(new String(bytes.take(11), "US-ASCII") == "P6\n2 3\n255\n")
    val (w, h, dec) = Multimodal.decodePpm(bytes)
    assert(w == 2 && h == 3 && dec.toSeq == rgb.toSeq)
    // a commented header must parse identically
    val commented = ("P6\n# fixture comment\n2 3\n255\n".getBytes("US-ASCII")
      ++ bytes.drop(11))
    val (w2, h2, dec2) = Multimodal.decodePpm(commented)
    assert(w2 == 2 && h2 == 3 && dec2.toSeq == rgb.toSeq)
  }

  test("PNG round trip + cross-decoder conformance vs javax.imageio") {
    val w = 5; val h = 4
    val rgb = Array.tabulate(w * h * 3)(i => (i * 37 + 11) % 256)
    val bytes = Multimodal.encodeImage("png", w, h, rgb)
    // signature + IHDR golden fields
    assert(bytes.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a))
    assert(new String(bytes.slice(12, 16), "US-ASCII") == "IHDR")
    val (dw, dh, dec) = Multimodal.decodeImage(bytes)
    assert(dw == w && dh == h && dec.toSeq == rgb.toSeq)
    assert(Multimodal.detectFormat(bytes) == "png")
    // the bytes read back through plain ImageIO.read too
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) ==
        ((rgb(o), rgb(o + 1), rgb(o + 2))), s"pixel ($x,$y)")
    }
    // and decodeImage reads plain ImageIO.write output (the JDK picks
    // its own scanline filters)
    val bimg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      bimg.setRGB(x, y, (rgb(o) << 16) | (rgb(o + 1) << 8) | rgb(o + 2))
    }
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(bimg, "png", bos)
    val (jw, jh, jdec) = Multimodal.decodeImage(bos.toByteArray)
    assert(jw == w && jh == h && jdec.toSeq == rgb.toSeq)
  }

  test("PNG decoder reconstructs all five scanline filters") {
    val w = 4; val h = 5; val stride = w * 3
    val rgb = Array.tabulate(w * h * 3)(i => (i * 53 + 7) % 256)
    // forward-filter each row with filter y%5, per the spec's
    // definitions, then deflate and wrap — the decoder must invert
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val f = y % 5
      raw(y * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val x = rgb(y * stride + i)
        val a = if (i >= 3) rgb(y * stride + i - 3) else 0
        val b = if (y > 0) rgb((y - 1) * stride + i) else 0
        val c = if (y > 0 && i >= 3) rgb((y - 1) * stride + i - 3) else 0
        val filtered = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            x - pred
        }
        raw(y * (1 + stride) + 1 + i) = (filtered & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](raw.length + 64)
    val bos = new java.io.ByteArrayOutputStream
    while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
    defl.end()
    // assemble: reuse the encoder for signature/IHDR/IEND, swap IDAT
    val template = Multimodal.encodeImage("png", w, h, new Array[Int](w * h * 3))
    val sigIhdr = template.take(8 + 25) // signature + IHDR chunk
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      out(0) = ((data.length >>> 24) & 0xff).toByte
      out(1) = ((data.length >>> 16) & 0xff).toByte
      out(2) = ((data.length >>> 8) & 0xff).toByte
      out(3) = (data.length & 0xff).toByte
      typ.getBytes("US-ASCII").copyToArray(out, 4)
      data.copyToArray(out, 8)
      val crc = new java.util.zip.CRC32
      crc.update(out, 4, 4 + data.length)
      val v = crc.getValue.toInt
      out(8 + data.length) = ((v >>> 24) & 0xff).toByte
      out(9 + data.length) = ((v >>> 16) & 0xff).toByte
      out(10 + data.length) = ((v >>> 8) & 0xff).toByte
      out(11 + data.length) = (v & 0xff).toByte
      out
    }
    val png = sigIhdr ++ chunk("IDAT", bos.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
    val (dw, dh, dec) = Multimodal.decodeImage(png)
    assert(dw == w && dh == h && dec.toSeq == rgb.toSeq,
      "filter reconstruction diverged")
  }

  test("feature extraction is deterministic and partition-agnostic") {
    val df = (1L to 20L).map { i =>
      val samples = Array.tabulate(64)(j => ((i * 131 + j * 37) % 1000).toInt - 500)
      (i, Multimodal.encodeWavPcm16(samples, 8000))
    }.toDF("media_id", "content")
    val a = Multimodal.extractFeatures(df.repartition(1)).orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(df.repartition(7)).orderBy("media_id").collect()
    assert(a.length == 20)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.forall(_.getSeq[Float](3).length == 8))
    // width/height carry (n_samples, sample_rate) for audio
    assert(a.forall(r => r.getInt(1) == 64 && r.getInt(2) == 8000))
  }

  test("media near-dups: identical clips pair at cosine 1, others don't") {
    val same = Multimodal.encodeWavPcm16(
      Array.tabulate(64)(j => ((j * 37) % 1000) - 500), 8000)
    val other = Multimodal.encodeWavPcm16(
      Array.tabulate(64)(j => ((j * 911) % 1000) - 500), 8000)
    val df = Seq((1L, same), (2L, same), (3L, other))
      .toDF("media_id", "content")
    val pairs = Multimodal.mediaNearDups(df, 0.999)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("dHash: invariant to uniform brightness shift, changed by a flip") {
    val w = 16; val h = 12
    def img(shift: Int, flip: Boolean): Array[Int] =
      Array.tabulate(w * h * 3) { i =>
        val p = i / 3; val y0 = p / w; val x = p % w
        val y = if (flip) h - 1 - y0 else y0
        math.min(255, ((x * 13 + y * 29 + i % 3 * 7) % 200) + shift)
      }
    val base = Multimodal.dHash(w, h, img(0, flip = false))
    val bright = Multimodal.dHash(w, h, img(20, flip = false))
    val flipped = Multimodal.dHash(w, h, img(0, flip = true))
    assert(base == bright, "gradient signs must survive a brightness shift")
    assert(base != flipped, "a vertical flip must change the hash")
    // survives the real encode->decode round trip
    val viaCodec = {
      val (dw, dh, rgb) = Multimodal.decodeImage(Multimodal.encodeImage("bmp", w, h, img(0, flip = false)))
      Multimodal.dHash(dw, dh, rgb)
    }
    assert(viaCodec == base)
  }

  test("skipBad drops undecodable payloads; the default stays loud") {
    val good = Multimodal.encodeWavPcm16(Array.tabulate(32)(_ - 16), 8000)
    val rgb = Array.tabulate(20 * 14 * 3)(i => (i * 37 + 11) % 256)
    val jpg = Multimodal.encodeImage("jpg", 20, 14, rgb)
    val gif = Multimodal.encodeImage("gif", 20, 14, rgb.map(_ / 128 * 255))
    val bad = Seq(
      "not-a-media-file".getBytes("UTF-8"),
      // ImageIO returns an image for a truncated JPEG and only warns
      jpg.take(jpg.length / 2),
      gif.take(13), // header and screen descriptor, no image
      Array(0xff, 0xd8, 0xff).map(_.toByte) ++ "garbage-garbage".getBytes("UTF-8"))
    for (payload <- bad) {
      val df = Seq((1L, good), (2L, payload)).toDF("media_id", "content")
      val kept = Multimodal.extractFeatures(df, skipBad = true).collect()
      assert(kept.map(_.getLong(0)).toSeq == Seq(1L))
      intercept[org.apache.spark.SparkException] {
        Multimodal.extractFeatures(df).collect()
      }
    }
  }

  test("image features catch orientation: weighted sums differ between a BMP and its flip") {
    val rgb = Array.tabulate(4 * 4 * 3)(i => i % 256)
    val flipped = Array.tabulate(4 * 4 * 3) { i =>
      val p = i / 3; val y = p / 4; val x = p % 4
      rgb(((3 - y) * 4 + x) * 3 + i % 3)
    }
    val f1 = Multimodal.decodeFeatures(Multimodal.encodeImage("bmp", 4, 4, rgb))._3
    val f2 = Multimodal.decodeFeatures(Multimodal.encodeImage("bmp", 4, 4, flipped))._3
    assert(f1(0) == f2(0) && f1(1) == f2(1) && f1(2) == f2(2)) // plain sums equal
    assert(f1(3) != f2(3)) // row-weighted sum sees the flip
  }

  test("frame sampler slices payload bytes with stride") {
    val payload = (0 until 100).map(_.toByte).toArray
    val df = Seq(Tuple1(payload)).toDF("content")
    val frames = df.select(Multimodal.frameSample("content", frameSize = 10, stride = 2)
      .as("f")).head().getSeq[Array[Byte]](0)
    assert(frames.length == 5) // frames 0,2,4,6,8 of 10
    assert(frames.head.toSeq == (0 until 10).map(_.toByte))
    assert(frames(1).toSeq == (20 until 30).map(_.toByte))
  }

  test("resize metadata clamps the longer edge") {
    val df = Seq((1L, "png", 2000, 1000)).toDF("id", "format", "width", "height")
      .select(col("id"), struct(col("format"), col("width"), col("height")).as("meta"))
    val r = df.select(Multimodal.resizeMeta(col("meta"), 512).as("m"))
      .select("m.width", "m.height").head()
    assert(r.getInt(0) == 512 && r.getInt(1) == 256)
  }
}

class ControlPlaneSpec extends SparkSpec {

  test("job lifecycle: submit → running → finished with status (C1/C2)") {
    val reg = new JobRegistry(spark)
    val id = reg.submit("count") { s =>
      assert(Tables.lineitem(s, "/root/testdata/sf0.001").count() > 0)
    }
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
      !reg.status(id).exists(_.state == reg.Finished)) Thread.sleep(100)
    assert(reg.status(id).exists(_.state == reg.Finished))
    reg.shutdown()
  }

  test("failing job reports Failed with the error (C2)") {
    val reg = new JobRegistry(spark)
    val id = reg.submit("boom")(_ => sys.error("expected failure"))
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
      !reg.status(id).exists(_.state.isInstanceOf[reg.Failed])) Thread.sleep(100)
    val st = reg.status(id).get.state
    assert(st.asInstanceOf[reg.Failed].error.contains("expected failure"))
    reg.shutdown()
  }

  test("cancel interrupts a running job group (C3)") {
    val reg = new JobRegistry(spark)
    val id = reg.submit("slow") { s =>
      import s.implicits._
      // a genuinely long Spark job: many slow partitions
      s.range(0, 1000000000L, 1, 256)
        .mapPartitions { it => Thread.sleep(200); it }
        .selectExpr("sum(value)").collect()
      ()
    }
    // wait until the Spark job is actually registered and running, so
    // cancelJobGroup has something to interrupt
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      !(reg.status(id).exists(_.state == reg.Running) &&
        spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty))
      Thread.sleep(50)
    assert(reg.cancel(id), s"cancel rejected; state=${reg.status(id).map(_.state)}")
    val dl2 = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < dl2 &&
      !reg.status(id).exists(j => j.state == reg.Cancelled)) Thread.sleep(100)
    assert(reg.status(id).exists(_.state == reg.Cancelled),
      s"state=${reg.status(id).map(_.state)}")
    reg.shutdown()
  }

  test("Bench arg guard: unknown query names are a loud error, not an empty sweep") {
    // round 7 incident: positional args silently selected zero queries
    // and overwrote BENCH_LAST.json with an empty artifact
    assert(Bench.parseOnly(Array.empty).toOption.contains(Set.empty[String]))
    val known = SparkEntry.queries.keySet.take(2).toArray
    assert(Bench.parseOnly(known).toOption.contains(known.toSet))
    val bad = Bench.parseOnly(Array(known.head, "q_definitely_not_a_query"))
    assert(bad.isLeft && bad.swap.toOption.get.contains("q_definitely_not_a_query"))
  }

  test("Bench rerun gate: contended probes cannot confirm a regression") {
    // synthetic sentinel values — the round-9 phantom class: the rerun
    // machinery published a 7.3x "rerun-confirmed" regression whose
    // re-measure ran on a contended machine. The gate is a pure
    // function of the all-core spin probe vs the best spin observed.
    val best = 100.0
    assert(Bench.rerunControlled(100.0, best), "idle probe is controlled")
    assert(Bench.rerunControlled(129.9, best), "within the 1.3x band")
    assert(!Bench.rerunControlled(131.0, best), "beyond the band: contended")
    assert(!Bench.rerunControlled(500.0, best),
      "heavy co-tenant load must be flagged, never confirmed")
    // the reference is the BEST observed: a later, quieter probe lowers
    // it, so an early-loaded session cannot grandfather a high baseline
    assert(!Bench.rerunControlled(140.0, math.min(best, 104.0)))
    // custom band widens the window explicitly, not silently
    assert(Bench.rerunControlled(150.0, best, band = 1.6))
  }

  test("Bench per-block flags: a contended tail marks exactly its bracketed queries") {
    // synthetic sentinel trace — the round-10 residual: only the
    // sweep's ENDPOINTS were probed, so a contended tail inflated
    // sub-2x deltas without any artifact signal. Probes bracket each
    // k-query block; a query is uncontrolled when EITHER bracket is.
    val best = 70.0
    // 8 queries, k=2 → probes at queries 0,2,4,6 + one closing probe.
    // Contention spikes at the probe before block 2 (queries 4-5):
    val trace = IndexedSeq(70.0, 71.0, 95.0, 70.0, 70.0)
    val f = Bench.uncontrolledFlags(8, 2, trace, best)
    // block 1 (queries 2-3) is bracketed by probes 1 and 2 → flagged;
    // block 2 (queries 4-5) by probes 2 and 3 → flagged; rest clean
    assert(f == IndexedSeq(false, false, true, true, true, true, false, false),
      s"wrong flags: $f")
    // a contended TAIL (the closing probe) flags only the last block
    val tail = Bench.uncontrolledFlags(8, 2,
      IndexedSeq(70.0, 70.0, 70.0, 70.0, 120.0), best)
    assert(tail == IndexedSeq(false, false, false, false, false, false, true, true),
      s"tail not flagged: $tail")
    // an all-idle trace flags nothing; an all-contended trace (vs a
    // cross-round anchor) flags everything — the round-10 advice case:
    // a session contended from its first probe must not self-baseline
    assert(!Bench.uncontrolledFlags(4, 2, IndexedSeq(70.0, 70.0, 70.0), best)
      .exists(identity))
    assert(Bench.uncontrolledFlags(4, 2, IndexedSeq(140.0, 140.0, 140.0), best)
      .forall(identity))
    // n not a multiple of k: the last partial block still brackets
    val part = Bench.uncontrolledFlags(5, 2, IndexedSeq(70.0, 70.0, 95.0), best)
    assert(part == IndexedSeq(false, false, true, true, true), s"partial: $part")
  }

  test("Bench rerun suspects: a prior-less uncontrolled first-measure re-runs unconditionally") {
    // the round-11 latent hole: a NEW query measured in a contended
    // window had no prior median, so nothing triggered its re-measure
    // and its first-ever number shipped unchallenged
    val prev = Map("q_old" -> 1.0)
    assert(Bench.isRerunSuspect("q_new", 0.4, ok = true, prev, Set("q_new")),
      "prior-less + uncontrolled must re-run")
    assert(!Bench.isRerunSuspect("q_new", 0.4, ok = true, prev, Set.empty),
      "prior-less in a CONTROLLED window is a clean first measure")
    assert(!Bench.isRerunSuspect("q_new", 0.4, ok = false, prev, Set("q_new")),
      "a failed query never re-runs")
    // the pre-existing regression triggers are unchanged
    assert(Bench.isRerunSuspect("q_old", 2.5, ok = true, prev, Set.empty))
    assert(!Bench.isRerunSuspect("q_old", 1.9, ok = true, prev, Set.empty),
      "sub-2x controlled delta is not a suspect")
    assert(Bench.isRerunSuspect("q_old", 1.6, ok = true, prev, Set("q_old")),
      "uncontrolled windows keep the tighter 1.5x trigger")
    assert(!Bench.isRerunSuspect("q_old", 1.2, ok = true, prev, Set.empty),
      "the 0.3s absolute floor still applies")
  }

  test("Bench spin anchor: session min inherited, ratchet and context mismatch discarded") {
    def art(load: String): String = {
      val f = java.nio.file.Files.createTempFile("bench_anchor", ".json")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, s"""{"queries":{},"load":$load}""")
      f.toString
    }
    val host = "boxA"
    // the SESSION-measured min is the anchor — NOT the effective best,
    // which is itself min(session, prior anchor) and would ratchet
    // monotonically downward across rounds forever (round-11 advice)
    val p1 = art(s"""{"spin_par_ms_best":10.0,"spin_par_ms_best_session":25.0,""" +
      s""""spin_threads":32,"host":"$host"}""")
    assert(Bench.prevSpinBest(p1, 32, host) == 25.0)
    // a different thread count or host measures different work: discard
    assert(Bench.prevSpinBest(p1, 16, host) == Double.MaxValue)
    assert(Bench.prevSpinBest(p1, 32, "boxB") == Double.MaxValue)
    // legacy artifact (no session/context fields): one-round fallback
    val p2 = art("""{"spin_par_ms_best":21.8}""")
    assert(Bench.prevSpinBest(p2, 32, host) == 21.8)
    // absent or unparsable file: no anchor
    assert(Bench.prevSpinBest("/nonexistent.json", 32, host) == Double.MaxValue)
  }
}
