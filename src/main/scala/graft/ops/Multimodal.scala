package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.color.ColorSpace
import java.awt.image.BufferedImage
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.{IIOMetadata, IIOMetadataNode}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Multimodal-column operators for training-data pipelines: media
  * payloads travel as opaque `binary` columns with a typed metadata
  * struct; decode / feature-extract / frame-sample run as
  * partition-wise batch transforms (one codec init per partition,
  * rows streamed through it — the Scala shape of a `mapInPandas`
  * batch UDF).
  *
  * Codecs: WAV (RIFF PCM 16-bit, G.711 µ-law, IMA ADPCM) and PPM (P6)
  * are written here from the public format specs, QOI in [[Qoi]];
  * JPEG, GIF, PNG and BMP go through the JDK's javax.imageio plugins
  * ([[encodeImage]], [[decodeImage]]). [[decodeImage]] is the one
  * image-format dispatch; [[decodeFeatures]] adds WAV to it. Byte-level
  * conformance is pinned by golden tests (MultimodalSpec); end-to-end
  * decode correctness is oracle-gated by q_media_features /
  * q_image_features / q_media_neardup, whose DuckDB twins recompute
  * the expected sample/pixel statistics analytically without ever
  * touching the bytes.
  */
object Multimodal {

  /** Canonical media-row schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))))

  // ------------------------------------------------------------------
  // WAV (RIFF PCM) — http://soundfile.sapp.org/doc/WaveFormat/
  // ------------------------------------------------------------------

  private def le16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
  }
  private def rd16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def rd32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Encode mono 16-bit PCM samples into a canonical WAV container. */
  def encodeWavPcm16(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    "RIFF".getBytes.copyToArray(out, 0)
    le32(out, 4, 36 + dataSize)
    "WAVE".getBytes.copyToArray(out, 8)
    "fmt ".getBytes.copyToArray(out, 12)
    le32(out, 16, 16)            // fmt chunk size
    le16(out, 20, 1)             // PCM
    le16(out, 22, 1)             // mono
    le32(out, 24, sampleRate)
    le32(out, 28, sampleRate * 2) // byte rate
    le16(out, 32, 2)             // block align
    le16(out, 34, 16)            // bits/sample
    "data".getBytes.copyToArray(out, 36)
    le32(out, 40, dataSize)
    var i = 0
    while (i < samples.length) { le16(out, 44 + i * 2, samples(i) & 0xffff); i += 1 }
    out
  }

  // ------------------------------------------------------------------
  // G.711 µ-law companding (ITU-T G.711, the WAV format-7 payload) —
  // the codec family's compressed-AUDIO leg. Unlike JPEG, the lossy
  // transform here is EXACT integer math per sample, so a DuckDB
  // oracle can replay encode∘decode bit-for-bit (`q_ulaw_features`);
  // UlawSpec sweeps all 65536 inputs against an independent spelling
  // of the same formulas and golden-tests against javax.sound.
  // ------------------------------------------------------------------

  /** Compress one 16-bit sample to the 8-bit µ-law code: clip to
    * ±32635, add the 0x84 bias, segment = MSB position, 4-bit
    * mantissa, all bits complemented on the wire. */
  def ulawEncode(sample: Int): Int = {
    val sign = if (sample < 0) 0x80 else 0
    // abs via Long: -(-32768) overflows Int
    val mag0 = math.min(math.abs(sample.toLong), 32635L).toInt
    val mag = mag0 + 0x84
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (mag & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (mag >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | mant)) & 0xff
  }

  /** Expand one µ-law code back to its quantized 16-bit sample —
    * exact inverse of the segment/mantissa packing. */
  def ulawDecode(code: Int): Int = {
    val u = (~code) & 0xff
    val exp = (u >> 4) & 7
    val mant = u & 0x0f
    val mag = (((mant << 3) + 0x84) << exp) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** Encode samples as a µ-law WAV (format 7, 8 bits/sample; fmt
    * chunk carries the cbSize=0 extension as the spec requires for
    * non-PCM). */
  def encodeWavUlaw(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val dataSize = samples.length
    val out = new Array[Byte](46 + dataSize + (dataSize & 1))
    "RIFF".getBytes.copyToArray(out, 0)
    le32(out, 4, out.length - 8)
    "WAVE".getBytes.copyToArray(out, 8)
    "fmt ".getBytes.copyToArray(out, 12)
    le32(out, 16, 18)            // fmt chunk size (non-PCM: +cbSize)
    le16(out, 20, 7)             // WAVE_FORMAT_MULAW
    le16(out, 22, 1)             // mono
    le32(out, 24, sampleRate)
    le32(out, 28, sampleRate)    // byte rate (1 byte/sample)
    le16(out, 32, 1)             // block align
    le16(out, 34, 8)             // bits/sample
    le16(out, 36, 0)             // cbSize
    "data".getBytes.copyToArray(out, 38)
    le32(out, 42, dataSize)
    var i = 0
    while (i < samples.length) {
      out(46 + i) = ulawEncode(samples(i)).toByte; i += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // IMA/DVI ADPCM (WAV format 0x11) — the codec family's first
  // PREDICTIVE audio format: each 4-bit nibble encodes the delta from
  // an adaptive predictor, so decode is a stateful fold, not a
  // per-sample map like µ-law. Tables and update rules are the
  // standard IMA ones (IMA Digital Audio Focus/Technical Working
  // Group recommendation, as carried by the Microsoft WAV DVI/IMA
  // registration). Everything is exact integer math, so a DuckDB
  // recursive CTE can replay the whole encode∘decode fold bit-for-bit
  // (`q_adpcm_features`); AdpcmSpec pins encoder-reconstruction ≡
  // decoder output and golden bytes.
  // ------------------------------------------------------------------

  /** The 89-entry IMA step-size table (quantizer step per state). */
  val adpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  /** Step-index adjustment per 3-bit magnitude (sign bit ignored). */
  val adpcmIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  @inline private def clampS16(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v
  @inline private def clampIdx(v: Int): Int =
    if (v > 88) 88 else if (v < 0) 0 else v

  /** Quantize one sample against predictor state → (nibble, pred',
    * idx'). pred' is exactly what the decoder will reconstruct — the
    * encoder tracks its own quantization error (that closed loop is
    * what makes ADPCM stable, and what lets the oracle replay only
    * the encoder and still know the decoded values). */
  def adpcmEncodeStep(sample: Int, pred: Int, idx: Int): (Int, Int, Int) = {
    val step = adpcmStepTable(idx)
    val diff0 = sample - pred
    val sign = if (diff0 < 0) 8 else 0
    var diff = if (diff0 < 0) -diff0 else diff0
    var delta = 0
    if (diff >= step) { delta = 4; diff -= step }
    if (diff >= (step >> 1)) { delta |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) delta |= 1
    val nib = sign | delta
    val (p2, i2) = adpcmDecodeStep(nib, pred, idx)
    (nib, p2, i2)
  }

  /** Apply one 4-bit code to predictor state → (pred', idx'); pred'
    * IS the decoded sample. vpdiff accumulates step·(bit/2^k) + the
    * step>>3 rounding term, exactly as the IMA reference pseudocode. */
  def adpcmDecodeStep(nib: Int, pred: Int, idx: Int): (Int, Int) = {
    val step = adpcmStepTable(idx)
    var vpdiff = step >> 3
    if ((nib & 4) != 0) vpdiff += step
    if ((nib & 2) != 0) vpdiff += step >> 1
    if ((nib & 1) != 0) vpdiff += step >> 2
    val p2 = clampS16(if ((nib & 8) != 0) pred - vpdiff else pred + vpdiff)
    val i2 = clampIdx(idx + adpcmIndexTable(nib & 7))
    (p2, i2)
  }

  /** Samples per ADPCM block for our canonical 256-byte block align:
    * 1 header sample + 252 payload bytes × 2 nibbles. */
  val AdpcmSamplesPerBlock = 505

  /** Encode mono samples as IMA ADPCM WAV (format 0x11). Block layout
    * (mono, blockAlign=256): 4-byte header [predictor int16 LE =
    * verbatim first sample of the block, step index uint8, reserved],
    * then nibble pairs low-first. The step index carries ACROSS
    * blocks (the header just checkpoints it); a `fact` chunk records
    * the true sample count so a padded final block decodes to exactly
    * the input length. */
  def encodeWavAdpcm(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val spb = AdpcmSamplesPerBlock
    val blockAlign = 4 + (spb - 1) / 2
    val nBlocks = math.max(1, (samples.length + spb - 1) / spb)
    val dataSize = nBlocks * blockAlign
    val out = new Array[Byte](60 + dataSize)
    "RIFF".getBytes.copyToArray(out, 0)
    le32(out, 4, out.length - 8)
    "WAVE".getBytes.copyToArray(out, 8)
    "fmt ".getBytes.copyToArray(out, 12)
    le32(out, 16, 20)            // fmt chunk size: 18 + 2 extension
    le16(out, 20, 0x11)          // WAVE_FORMAT_IMA_ADPCM
    le16(out, 22, 1)             // mono
    le32(out, 24, sampleRate)
    le32(out, 28, sampleRate * blockAlign / spb) // nominal byte rate
    le16(out, 32, blockAlign)
    le16(out, 34, 4)             // bits/sample
    le16(out, 36, 2)             // cbSize
    le16(out, 38, spb)           // wSamplesPerBlock
    "fact".getBytes.copyToArray(out, 40)
    le32(out, 44, 4)
    le32(out, 48, samples.length)
    "data".getBytes.copyToArray(out, 52)
    le32(out, 56, dataSize)
    var idx = 0
    var b = 0
    while (b < nBlocks) {
      val base = 60 + b * blockAlign
      val s0 = b * spb
      val first = if (s0 < samples.length) clampS16(samples(s0)) else 0
      le16(out, base, first & 0xffff)
      out(base + 2) = idx.toByte
      out(base + 3) = 0
      var pred = first
      var k = 1
      while (k < spb) {
        val si = s0 + k
        val sample = if (si < samples.length) samples(si) else pred
        val (nib, p2, i2) = adpcmEncodeStep(sample, pred, idx)
        pred = p2; idx = i2
        val off = base + 4 + (k - 1) / 2
        if (((k - 1) & 1) == 0) out(off) = nib.toByte
        else out(off) = (out(off) | (nib << 4)).toByte
        k += 1
      }
      b += 1
    }
    out
  }

  /** Decode a WAV container → (sampleRate, samples). Walks the chunk
    * list (fmt / data in any order, unknown chunks skipped with even
    * padding, as the spec requires). PCM 16-bit mono passes samples
    * through; µ-law mono (format 7) expands each code to its
    * quantized 16-bit value; IMA ADPCM mono (format 0x11) runs the
    * adaptive-predictor fold per block — anything else is a loud
    * error, not a silent misdecode. */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Int]) = {
    require(bytes.length >= 44 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
      "decodeWav: not a RIFF/WAVE container")
    var off = 12
    var sampleRate = -1
    var fmt = -1
    var dataOff = -1
    var dataSz = 0
    var blockAlign = 0
    var spb = 0
    var factN = -1
    while (off + 8 <= bytes.length) {
      val id = tag(bytes, off)
      val sz = rd32(bytes, off + 4)
      val body = off + 8
      id match {
        case "fmt " =>
          fmt = rd16(bytes, body)
          val ch = rd16(bytes, body + 2)
          val bits = rd16(bytes, body + 14)
          require((fmt == 1 && ch == 1 && bits == 16)
            || (fmt == 7 && ch == 1 && bits == 8)
            || (fmt == 0x11 && ch == 1 && bits == 4),
            s"decodeWav: only PCM16/µ-law/IMA-ADPCM mono supported (fmt=$fmt ch=$ch bits=$bits)")
          sampleRate = rd32(bytes, body + 4)
          blockAlign = rd16(bytes, body + 12)
          if (fmt == 0x11) spb = rd16(bytes, body + 18)
        case "fact" =>
          factN = rd32(bytes, body)
        case "data" =>
          dataOff = body; dataSz = sz
        case _ => // skip unknown chunk
      }
      off = body + sz + (sz & 1) // chunks are word-aligned
    }
    require(sampleRate > 0 && dataOff >= 0 && fmt > 0,
      "decodeWav: missing fmt or data chunk")
    val data =
      if (fmt == 0x11) {
        require(spb > 0 && blockAlign == 4 + (spb - 1) / 2 && factN >= 0,
          s"decodeWav: bad ADPCM layout (spb=$spb align=$blockAlign fact=$factN)")
        val d = new Array[Int](factN)
        var i = 0
        var base = dataOff
        while (i < factN) {
          var pred = rd16(bytes, base).toShort.toInt
          var idx = bytes(base + 2) & 0xff
          d(i) = pred; i += 1
          var k = 1
          while (k < spb && i < factN) {
            val byte = bytes(base + 4 + (k - 1) / 2) & 0xff
            val nib = if (((k - 1) & 1) == 0) byte & 0x0f else byte >> 4
            val (p2, i2) = adpcmDecodeStep(nib, pred, idx)
            pred = p2; idx = i2
            d(i) = pred; i += 1; k += 1
          }
          base += blockAlign
        }
        d
      } else if (fmt == 1) {
        val n = dataSz / 2
        val d = new Array[Int](n)
        var i = 0
        while (i < n) {
          d(i) = rd16(bytes, dataOff + i * 2).toShort.toInt // sign-extend
          i += 1
        }
        d
      } else {
        val d = new Array[Int](dataSz)
        var i = 0
        while (i < dataSz) { d(i) = ulawDecode(bytes(dataOff + i) & 0xff); i += 1 }
        d
      }
    (sampleRate, data)
  }

  // ------------------------------------------------------------------
  // PPM (P6 binary) — "P6\n<w> <h>\n255\n" + top-down RGB bytes.
  // ------------------------------------------------------------------

  def encodePpm(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h * 3, "encodePpm: rgb length != w*h*3")
    val hdr = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](hdr.length + rgb.length)
    hdr.copyToArray(out, 0)
    var i = 0
    while (i < rgb.length) { out(hdr.length + i) = (rgb(i) & 0xff).toByte; i += 1 }
    out
  }

  /** Decode a binary PPM (P6) → (w, h, top-down RGB triples). Handles
    * arbitrary whitespace and `#` comments in the header, per spec. */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes.length > 2 && bytes(0) == 'P' && bytes(1) == '6',
      "decodePpm: not a P6 PPM")
    var off = 2
    def nextInt(): Int = {
      // skip whitespace and comment lines
      var inComment = false
      while (off < bytes.length &&
             (inComment || bytes(off).toChar.isWhitespace || bytes(off) == '#')) {
        if (bytes(off) == '#') inComment = true
        else if (bytes(off) == '\n') inComment = false
        off += 1
      }
      var v = 0
      while (off < bytes.length && bytes(off) >= '0' && bytes(off) <= '9') {
        v = v * 10 + (bytes(off) - '0'); off += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    require(maxv == 255, s"decodePpm: only maxval 255 supported (got $maxv)")
    off += 1 // exactly one whitespace byte after maxval, per spec
    val rgb = new Array[Int](w * h * 3)
    var i = 0
    while (i < rgb.length) { rgb(i) = bytes(off + i) & 0xff; i += 1 }
    (w, h, rgb)
  }

  // ------------------------------------------------------------------
  // JPEG, GIF, PNG and BMP through the JDK's javax.imageio plugins.
  // Streams are per call and in memory (no ImageIO temp-file cache),
  // and a reader warning is an error: ImageIO otherwise returns a
  // partial image for a truncated JPEG.
  // ------------------------------------------------------------------

  /** Encode top-down row-major RGB triples (3 ints/pixel, 0..255) with
    * an ImageIO writer. `format` is one of
    *  - `jpg`: quality 1.0, every component sampled 1×1 (4:4:4);
    *  - `jpg420`: quality 1.0, the JDK's default 4:2:0 sampling;
    *  - `jpgprog`: `jpg420` written as a progressive multi-scan stream;
    *  - `gif`: non-interlaced (the JDK's interlaced default loses rows
    *    of small two-colour images); at most 256 distinct colours,
    *    since the writer would otherwise quantize without a word;
    *  - `png`: truecolor 8-bit; `bmp`: 24-bit uncompressed. */
  def encodeImage(format: String, w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h * 3, "encodeImage: rgb length != w*h*3")
    require(rgb.forall(v => v >= 0 && v <= 255),
      "encodeImage: channel value outside 0..255")
    val packed = Array.tabulate(w * h)(i =>
      (rgb(3 * i) << 16) | (rgb(3 * i + 1) << 8) | rgb(3 * i + 2))
    require(format != "gif" || packed.distinct.length <= 256,
      "encodeImage: gif needs at most 256 distinct colors")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, packed, 0, w)
    val writer = ImageIO.getImageWritersByFormatName(format match {
      case "jpg" | "jpg420" | "jpgprog" => "jpg"
      case "gif" | "png" | "bmp" => format
      case other => throw new IllegalArgumentException(s"encodeImage: unknown format $other")
    }).next()
    val param = writer.getDefaultWriteParam
    if (format.startsWith("jpg")) {
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
    }
    if (format == "jpgprog") param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    if (format == "gif") param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
    val meta: IIOMetadata = if (format != "jpg") null else {
      val m = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      val tree = m.getAsTree(JpegMeta).asInstanceOf[IIOMetadataNode]
      val specs = tree.getElementsByTagName("componentSpec")
      for (i <- 0 until specs.getLength) {
        val c = specs.item(i).asInstanceOf[IIOMetadataNode]
        c.setAttribute("HsamplingFactor", "1"); c.setAttribute("VsamplingFactor", "1")
      }
      m.setFromTree(JpegMeta, tree)
      m
    }
    val bytes = new java.io.ByteArrayOutputStream
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, meta), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  private val JpegMeta = "javax_imageio_jpeg_image_1.0"

  /** Decode any supported image container → (w, h, top-down RGB
    * triples). PPM and QOI have no JDK plugin and decode here; JPEG,
    * GIF, PNG and BMP go through the ImageIO reader that claims the
    * bytes. Gray images return r = g = b = the stored sample (read from
    * the raster: `getRGB` would convert linear gray to sRGB). No
    * claiming reader, a reader warning, or any other format is a loud
    * error, not a silent misdecode. */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Int]) = detectFormat(bytes) match {
    case "ppm" => decodePpm(bytes)
    case "qoi" => Qoi.decode(bytes)
    case format @ ("jpg" | "gif" | "png" | "bmp") =>
      val in = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(bytes))
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, s"decodeImage: no image reader claims the $format bytes")
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        reader.addIIOReadWarningListener((_: ImageReader, msg: String) =>
          throw new IllegalArgumentException(s"decodeImage: $msg"))
        val img = reader.read(0)
        val (w, h) = (img.getWidth, img.getHeight)
        val rgb = new Array[Int](w * h * 3)
        if (img.getColorModel.getColorSpace.getType == ColorSpace.TYPE_GRAY) {
          val max = (1 << img.getSampleModel.getSampleSize(0)) - 1
          val gray = img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
          for (i <- gray.indices) {
            val v = (gray(i) * 255 + max / 2) / max
            rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
          }
        } else {
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          for (i <- px.indices) {
            rgb(3 * i) = (px(i) >> 16) & 0xff
            rgb(3 * i + 1) = (px(i) >> 8) & 0xff
            rgb(3 * i + 2) = px(i) & 0xff
          }
        }
        (w, h, rgb)
      } finally { reader.dispose(); in.close() }
    case other => throw new IllegalArgumentException(s"decodeImage: unsupported format $other")
  }

  // ------------------------------------------------------------------
  // Motion-JPEG frame container: video as a sequence of independently
  // coded JPEG frames with an index — the access pattern that matters
  // for training pipelines (seek to frame k without decoding 0..k-1).
  // Layout: "MJPG" | u32 nFrames | u32 lengths[nFrames] | frames.
  // ------------------------------------------------------------------

  /** Pack already-encoded JPEG frames into an indexed container. */
  def encodeMjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty, "encodeMjpeg: no frames")
    val out = new java.io.ByteArrayOutputStream
    out.write("MJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val hdr = new Array[Byte](4 + 4 * frames.length)
    le32(hdr, 0, frames.length)
    frames.zipWithIndex.foreach { case (f, i) => le32(hdr, 4 + 4 * i, f.length) }
    out.write(hdr)
    frames.foreach(out.write)
    out.toByteArray
  }

  /** Number of frames in a container. */
  def mjpegFrameCount(bytes: Array[Byte]): Int = {
    require(tag(bytes, 0) == "MJPG", "mjpeg: bad magic")
    rd32(bytes, 4)
  }

  /** Raw bytes of frame `k` (0-based) — an INDEX SEEK: frames 0..k−1
    * are skipped by arithmetic on the length table, no decode. */
  def mjpegFrameBytes(bytes: Array[Byte], k: Int): Array[Byte] = {
    val n = mjpegFrameCount(bytes)
    require(k >= 0 && k < n, s"mjpeg: frame $k of $n")
    var off = 8 + 4 * n
    var i = 0
    while (i < k) { off += rd32(bytes, 8 + 4 * i); i += 1 }
    val len = rd32(bytes, 8 + 4 * k)
    java.util.Arrays.copyOfRange(bytes, off, off + len)
  }

  /** Decode frame `k`: the frame blob goes through [[decodeImage]], so
    * clips may carry any supported image codec per frame (JPEG for
    * size, GIF/PNG when the pipeline needs lossless frames). */
  def decodeMjpegFrame(bytes: Array[Byte], k: Int): (Int, Int, Array[Int]) =
    decodeImage(mjpegFrameBytes(bytes, k))

  /** Container sniff by magic bytes. */
  def detectFormat(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 4) "unknown"
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') "wav"
    else if (bytes(0) == 'B' && bytes(1) == 'M') "bmp"
    else if (bytes(0) == 'P' && bytes(1) == '6') "ppm"
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N'
      && bytes(3) == 'G') "png"
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
      && (bytes(2) & 0xff) == 0xff) "jpg"
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'
      && bytes(3) == '8') "gif"
    else if (bytes(0) == 'q' && bytes(1) == 'o' && bytes(2) == 'i'
      && bytes(3) == 'f') "qoi"
    else "unknown"

  // ------------------------------------------------------------------
  // Feature extraction over decoded media
  // ------------------------------------------------------------------

  /** Decode any supported payload into the uniform feature shape
    * (width, height, 8-dim features):
    *  - audio: width = sample count, height = sample rate, feature j =
    *    Σ of samples at positions ≡ j (mod 8) — signed sums, so the
    *    vector is zero-mean across unrelated clips (all-|x| features
    *    make every pair of clips look alike);
    *  - image: width/height = pixel dims, features = [Σr, Σg, Σb,
    *    Σ(y+1)·r, Σ(y+1)·g, Σ(y+1)·b, w, h] — the row-weighted sums
    *    catch vertical-orientation misdecodes plain sums cannot.
    * All features are integer-valued (exact in Float far below 2^24),
    * so downstream similarity math is engine-reproducible. */
  def decodeFeatures(content: Array[Byte]): (Int, Int, Array[Float]) = {
    if (content == null || content.isEmpty) return (0, 0, Array.fill(8)(0f))
    detectFormat(content) match {
      case "wav" =>
        val (sr, s) = decodeWav(content)
        val f = new Array[Float](8)
        var i = 0
        while (i < s.length) { f(i & 7) += s(i); i += 1 }
        (s.length, sr, f)
      case _ =>
        // jpg features are approximate (lossy decode) — fine for
        // similarity, excluded from the exact-oracle feature queries;
        // gif and qoi (like png) are lossless and exact
        val (w, h, rgb) = decodeImage(content)
        val f = new Array[Float](8)
        var p = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = rgb(p); val g = rgb(p + 1); val b = rgb(p + 2)
            f(0) += r; f(1) += g; f(2) += b
            f(3) += (y + 1) * r; f(4) += (y + 1) * g; f(5) += (y + 1) * b
            p += 3; x += 1
          }
          y += 1
        }
        f(6) = w.toFloat; f(7) = h.toFloat
        (w, h, f)
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual near-dup fingerprint, defined here with EXACT integer
    * math so an independent engine can replay it bit-for-bit (no
    * resampling-library semantics):
    *  - luminance = (299·r + 587·g + 114·b) div 1000 (integer Rec.601);
    *  - the image box-partitions into a 9-col × 8-row grid, pixel
    *    (x, y) → cell ((x·9) div w, (y·8) div h); cell value =
    *    sum(lum) div count (integer division);
    *  - row byte r = Σ_c [cell(r, c+1) > cell(r, c)] · 2^c, c in 0..7.
    * Returned as the 8 row bytes (hyphen-joined decimal string — a
    * join/group key both engines produce identically). Brightness and
    * contrast shifts preserve the gradient signs, so recompressed or
    * slightly-edited copies collide; requires w ≥ 9 and h ≥ 8. */
  def dHash(w: Int, h: Int, rgb: Array[Int]): String = {
    require(w >= 9 && h >= 8, s"dHash needs w>=9, h>=8 (got ${w}x$h)")
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var p = 0
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val lum = (299L * rgb(p) + 587L * rgb(p + 1) + 114L * rgb(p + 2)) / 1000L
        val cx = x * 9 / w
        sums(cy)(cx) += lum; cnts(cy)(cx) += 1
        p += 3; x += 1
      }
      y += 1
    }
    val out = new StringBuilder
    var r = 0
    while (r < 8) {
      var byte = 0
      var c = 0
      while (c < 8) {
        val cur = sums(r)(c) / cnts(r)(c)
        val nxt = sums(r)(c + 1) / cnts(r)(c + 1)
        if (nxt > cur) byte |= (1 << c)
        c += 1
      }
      if (r > 0) out.append('-')
      out.append(byte)
      r += 1
    }
    out.toString
  }

  /** Partition-wise feature extraction: one codec init per partition
    * (the expensive part for real codecs), rows streamed through it.
    * Output keeps the id plus extracted width/height/features.
    * `skipBad = true` drops undecodable payloads instead of failing
    * the task — the malformed-row-skip policy (P7) a pipeline over
    * scraped media needs; the default stays loud for curated data. */
  def extractFeatures(df: DataFrame, skipBad: Boolean): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("features", ArrayType(FloatType))))
    implicit val enc = Encoders.row(outSchema)
    df.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val content = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          if (skipBad) {
            try {
              val (w, h, feat) = decodeFeatures(content)
              Some(Row(r.getLong(0), w, h, feat.toSeq))
            } catch { case _: Exception => None }
          } else {
            val (w, h, feat) = decodeFeatures(content)
            Some(Row(r.getLong(0), w, h, feat.toSeq))
          }
        }
      }
  }

  def extractFeatures(df: DataFrame): DataFrame =
    extractFeatures(df, skipBad = false)

  /** Frame sampling: pure column expressions — slice the payload into
    * `frameSize`-byte frames and keep every `stride`-th one. For real
    * video this is the keyframe-stride pattern; the byte-slicing
    * plumbing (offsets, tail handling) is identical. */
  def frameSample(contentCol: String, frameSize: Int,
                  stride: Int): org.apache.spark.sql.Column =
    expr(
      s"""filter(
            transform(
              sequence(0, greatest(cast((length($contentCol) + ${frameSize - 1})
                                        / $frameSize as int) - 1, 0)),
              i -> case when i % $stride = 0
                        then substring($contentCol, i * $frameSize + 1, $frameSize)
                   end),
            f -> f is not null)""")

  /** Media near-duplicates: decoded feature vectors → exact cosine
    * pairs via the BLOCKED distributed plan (equi-join fan-out, no
    * nested-loop operator; see [[VectorOps.cosineNearDupBlocked]]).
    * The cross-modal composition point: once media becomes a feature
    * column, every embedding operator (ANN, SemDeDup, outlier gates)
    * applies unchanged. */
  def mediaNearDups(df: DataFrame, threshold: Double): DataFrame =
    VectorOps.cosineNearDupBlocked(
      extractFeatures(df).select(col("media_id"), col("features")),
      "media_id", "features", threshold)

  /** Resize metadata transform: the dimension math every thumbnailer
    * runs; the pixel resample itself belongs to the codec layer. */
  def resizeMeta(meta: org.apache.spark.sql.Column, maxDim: Int): org.apache.spark.sql.Column = {
    val w = meta.getField("width"); val h = meta.getField("height")
    val scale = least(lit(1.0), lit(maxDim) / greatest(w, h).cast("double"))
    struct(meta.getField("format").as("format"),
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"))
  }
}
