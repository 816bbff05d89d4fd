package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM twins of the SQL-level hash primitives, bit-exact with the
  * column expressions the DuckDB oracles replay:
  * `h64(s)` == `conv(substring(md5(s),1,15),16,10)` — md5 of the UTF-8
  * bytes, first 15 lowercase hex chars parsed base-16 (< 2^60, always
  * positive). Centralizing them here lets whole fingerprint pipelines
  * (minhash, simhash, LSH plane weights) run as single tight-loop
  * expressions instead of explode → shuffle → re-group plans.
  */
object Hashing {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** md5-derived 60-bit hash of a string — equals TextOps.h64. */
  def h64(s: String): Long = h64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** `nfc_normalize`: the Unicode NFC composition, under which a
    * composed "é" (U+00E9) and its decomposed twin ("e" + U+0301) are
    * the same text, so byte-exact dedup keys normalize first. ASCII
    * fast path: in UTF-8, byte count == char count iff every char is
    * ASCII, and NFC is the identity there, so the input comes back
    * untouched. Oracle twin: DuckDB's native `nfc_normalize`. */
  def nfc(u: UTF8String): UTF8String =
    if (u.numBytes == u.numChars) u // pure ASCII: NFC is the identity
    else UTF8String.fromString(java.text.Normalizer.normalize(
      u.toString, java.text.Normalizer.Form.NFC))

  /** `uchr`: Unicode codepoint → its single-character string
    * (surrogate pair for supplementary planes). Spark's builtin `chr` is
    * byte-bound (mod 256); this is the twin of DuckDB's codepoint-native
    * `chr` behind [[TextOps.textI18n]]. The long is
    * range-checked BEFORE the int narrowing — without it a value like
    * 4294967393 (= 2³² + 97) silently truncates to 'a' — and invalid
    * codepoints (surrogate halves, > U+10FFFF, negatives) raise a
    * descriptive error, matching DuckDB chr's explicit out-of-range
    * failure rather than a bare IllegalArgumentException. */
  def uchr(cp: Long): UTF8String = {
    if (cp < 0L || cp > 0x10FFFFL || (cp >= 0xD800L && cp <= 0xDFFFL))
      throw new IllegalArgumentException(
        s"uchr: $cp is not a valid Unicode codepoint (expected 0..1114111, " +
          "excluding the surrogate range D800..DFFF)")
    UTF8String.fromString(new String(Character.toChars(cp.toInt)))
  }

  def h64(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(bytes)
    // first 15 hex chars = 7.5 bytes: 7 full bytes + the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) & 0xf0L) >> 4)
  }

  /** Hex MD5 (lowercase) — used by tests to cross-check h64. */
  def md5Hex(s: String): String = {
    val d = md.get(); d.reset()
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .flatMap(b => Array(HexChars((b >> 4) & 0xf), HexChars(b & 0xf))).mkString
  }

  /** Deterministic LSH hyperplane weight for (plane, dim), identical to
    * VectorOps.planeWeight's column form: uniform in [-1e6, 1e6]. */
  def planeWeight(plane: Int, dim: Int): Long =
    h64(s"$plane,$dim") % 2000001L - 1000000L

  /** One hyperplane's weight vector, precomputed once (the column form
    * recomputed an md5 per (plane, dim) per ROW — a 512-entry constant). */
  def planeWeights(plane: Int, dims: Int): Array[Long] =
    Array.tabulate(dims)(d => planeWeight(plane, d))

  // -------------------------------------------------------------------
  // Kernels of the fingerprint SQL functions ([[graft.SqlFunctions]]),
  // called from BOTH interpreted eval and generated code, one static
  // call per call site. That, not the per-row boxing, is the real
  // prize: ONE CodegenFallback expression evicts its whole Project
  // (every sibling signal in the projection) from whole-stage codegen.
  // -------------------------------------------------------------------

  private def toStrings(arr: ArrayData): Array[String] = {
    val m = arr.numElements()
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    toks
  }

  private def joinGram(toks: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(toks(i))
    var j = 1
    while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
    sb.toString
  }

  /** `shingle_h64s`: h64 of the DISTINCT word n-gram shingles
    * (space-joined), in first-occurrence order. One tight JVM pass: the
    * column form (`transform(sequence, i → concat_ws(slice))` +
    * `array_distinct` + md5) walks interpreted higher-order-function
    * trees per element. Distinctness is by shingle STRING (then
    * hashed), bit-exact with the oracle's order of operations. */
  def shingleH64s(arr: ArrayData, n: Int): ArrayData = {
    val toks = toStrings(arr)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= m - n) { seen.add(joinGram(toks, i, n)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = h64(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** `shingle_h64s_all`: h64 of ALL positional n-grams, duplicates
    * kept, for occurrence-counting consumers (n-gram diversity/TTR). */
  def shingleH64sAll(arr: ArrayData, n: Int): ArrayData = {
    val toks = toStrings(arr)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) { out(i) = h64(joinGram(toks, i, n)); i += 1 }
    new GenericArrayData(out)
  }

  /** `shingle_pairs`: (h64, text) of ALL positional n-grams, for
    * consumers that aggregate on the hash but need the text of a
    * filtered subset afterwards (top-ngram rehydration). */
  def shinglePairs(arr: ArrayData, n: Int): ArrayData = {
    val toks = toStrings(arr)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val s = joinGram(toks, i, n)
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        h64(s), UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `cdc_chunk_h64s`: h64 of CONTENT-DEFINED chunks. A chunk closes
    * after every token whose h64 ≡ 0 (mod m), so chunks average m
    * tokens and an edit near the head perturbs only its own chunk
    * (rsync/FastCDC at token granularity). The trailing partial chunk
    * is kept. */
  def cdcChunkH64s(arr: ArrayData, m: Int): ArrayData = {
    val n = arr.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      val tok = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      if (sb.length > 0) sb.append(' ')
      sb.append(tok)
      if (h64(tok) % m == 0) {
        out += h64(sb.toString)
        sb.setLength(0)
      }
      i += 1
    }
    if (sb.length > 0) out += h64(sb.toString)
    new GenericArrayData(out.toArray)
  }

  /** `winnow_fps`: winnowing fingerprints (the MOSS scheme): min h64
    * of every w-window of positional n-gram hashes (monotone deque),
    * distinct and ascending. Any common run of ≥ w+n−1 tokens shares a
    * fingerprint. Fewer than n tokens → empty. */
  def winnowFps(arr: ArrayData, n: Int, w: Int): ArrayData = {
    val toks = toStrings(arr)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val len = m - n + 1
    val hs = new Array[Long](len)
    var i = 0
    while (i < len) { hs(i) = h64(joinGram(toks, i, n)); i += 1 }
    val win = math.min(w, len)
    val fps = new java.util.TreeSet[java.lang.Long]()
    val deque = new java.util.ArrayDeque[Int]() // monotone min-deque
    i = 0
    while (i < len) {
      while (!deque.isEmpty && hs(deque.peekLast()) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - win) deque.pollFirst()
      if (i >= win - 1) fps.add(hs(deque.peekFirst()))
      i += 1
    }
    val out = new Array[Any](fps.size)
    val it = fps.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  private val minhashCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def minhashAB(k: Int): (Array[Long], Array[Long]) =
    minhashCache.computeIfAbsent(k, kk => {
      val ps = DedupOps.minhashParams(kk)
      (ps.map(_._1).toArray, ps.map(_._2).toArray)
    })

  /** `minhash_sig`: the k-wide MinHash signature of a pre-hashed
    * shingle set, bit-exact with the exploded column pipeline
    * (h = h64(s) mod M; sig_i = min (a_i·h + b_i) mod M) but map-only.
    * An empty set yields an all-null signature. */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val (paramA, paramB) = minhashAB(k)
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i) % DedupOps.MinhashMod
        var j = 0
        while (j < k) {
          val v = (paramA(j) * h + paramB(j)) % DedupOps.MinhashMod
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(sig.map(Long.box(_): Any))
  }

  /** `simhash64`: the SimHash fingerprint of the token multiset (bit j
    * set when Σ ±1 over the tokens' hash bit j is positive); empty → 0. */
  def simhash64(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = h64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < bits) {
          counts(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** `rep_stats`: per-document repetition statistics in one map-side
    * pass (the Gopher repetition signals). For m tokens: `n_distinct`,
    * the distinct token count; `top_bigram`, the most frequent
    * positional 2-gram (ties pick the lexicographically smallest; null
    * when m < 2) and `top_bigram_n`, its count; `dup3_chars`,
    * Σ count·len(g) over positional 3-grams with count ≥ 2. */
  def repStats(arr: ArrayData): InternalRow = {
    val toks = toStrings(arr)
    val m = toks.length
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < m) { distinct.add(toks(i)); i += 1 }
    def gramCounts(n: Int): java.util.HashMap[String, Int] = {
      val cnt = new java.util.HashMap[String, Int]()
      var j = 0
      while (j <= m - n) {
        cnt.merge(joinGram(toks, j, n), 1, Integer.sum(_, _))
        j += 1
      }
      cnt
    }
    var topBigram: String = null
    var topN = 0
    val bi = gramCounts(2).entrySet().iterator()
    while (bi.hasNext) {
      val e = bi.next()
      if (e.getValue > topN ||
          (e.getValue == topN && topBigram != null &&
           e.getKey.compareTo(topBigram) < 0)) {
        topBigram = e.getKey
        topN = e.getValue
      }
    }
    var dup3 = 0L
    val tri = gramCounts(3).entrySet().iterator()
    while (tri.hasNext) {
      val e = tri.next()
      if (e.getValue >= 2) dup3 += e.getValue.toLong * e.getKey.length
    }
    InternalRow(distinct.size,
      if (topBigram == null) null else UTF8String.fromString(topBigram),
      topN, dup3)
  }

  /** `drop_repeated_windows`: the tokens that survive WITHIN-document
    * repeated-window removal: a position covered by an n-gram window
    * whose h64 already occurred earlier in the document is dropped;
    * survivors keep their order. The h64 is the oracle's, so hash
    * collisions reproduce identically on both engines. */
  def dropRepWindows(arr: ArrayData, n: Int): ArrayData = {
    val toks = toStrings(arr)
    val m = toks.length
    val covered = new Array[Boolean](m)
    if (m >= n) {
      val seen = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i <= m - n) {
        if (!seen.add(h64(joinGram(toks, i, n)))) {
          var p = i
          while (p < i + n) { covered(p) = true; p += 1 }
        }
        i += 1
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](m)
    var i = 0
    while (i < m) {
      if (!covered(i)) out += UTF8String.fromString(toks(i))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `vec_fixp`: fixed-point micro-unit quantization, the start of
    * every integer-exact LSH/PQ/gram path (`transform` would evict the
    * bucket projection from whole-stage codegen) — per
    * element, Spark `round(x * 1e6)` HALF_UP semantics followed by the
    * long cast, replicated exactly: finite values go through
    * BigDecimal(v).setScale(0, HALF_UP) like Spark's Round of a
    * double. NaN/Infinity collapse via the pre-ANSI long-cast rule
    * (NaN → 0, ±Inf → Long.Min/MaxValue — scala Double.toLong): the
    * builtin spelling THROWS under ANSI there, but a poisoned element
    * must not kill a 100 TB scan, so vec_fixp is deliberately total
    * (pinned by PlanQualitySpec). */
  def vecFixp(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getDouble(i) * 1000000.0
        out(i) =
          if (v.isNaN || v.isInfinite) v.toLong
          else scala.math.BigDecimal(v)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .toDouble.toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `sig_agree`: equal non-null positions of two MinHash signatures,
    * the est_jaccard numerator
    * (zip_with semantics: positions past the shorter array are null
    * matches, never counted). */
  def sigAgree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var hits = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        hits += 1
      i += 1
    }
    hits
  }

  /** `alpha_tokens`: tokens containing an ASCII letter — the
    * byte-scan twin of `rlike("[A-Za-z]")` (UTF-8 continuation bytes
    * are ≥ 0x80, so a letter byte can never be part of a multi-byte
    * char and the scan is encoding-safe). */
  def alphaTokens(arr: ArrayData): Int = {
    val m = arr.numElements()
    var hits = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val u = arr.getUTF8String(i)
        val nb = u.numBytes()
        var j = 0
        var found = false
        while (j < nb && !found) {
          val b = u.getByte(j)
          found = (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
          j += 1
        }
        if (found) hits += 1
      }
      i += 1
    }
    hits
  }
}


/** Kernels of `vec_dot` (array<double>) and `vec_dot_long`
  * (array<bigint>, exact: LSH bucket ids stay reproducible across
  * engines and summation orders). Null elements count as 0; the shorter
  * length wins. Generated code makes ONE static call per call site,
  * never an inlined loop: LSH bucketing bakes dozens of dot sites into
  * one projection (16 tables × 6 planes = 96), PQ/k-means one per
  * centroid literal, and inlined 64-iteration loops push the generated
  * method past the JVM's ~8 KB JIT ceiling, so the whole stage runs as
  * interpreted bytecode (measured ~13× on the multi-table bucketing
  * projection). One call per site keeps the method small; the kernel
  * itself JITs once. */
object VecRt {
  def dotLong(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
}

/** `lang_scores`: the whole language-ID heuristic in ONE pass over a
  * token array. Each token does one hash probe into the profile bitmask
  * table; scores are hits/numElements (null elements count in the
  * denominator but never hit, matching `filter`'s null-drop), 0.0 on an
  * empty array; `pred` is the first profile in [[TextOps.LangProfiles]]
  * order whose score is ≥ every other (the column fold's tie-break).
  * The five field reads of one call share ONE array pass through
  * subexpression elimination. */
object LangScores {
  private val Langs: Array[String] = TextOps.LangProfiles.map(_._1).toArray
  private val PredStrs: Array[UTF8String] = Langs.map(UTF8String.fromString)

  def scores(arr: ArrayData): InternalRow = {
    val m = arr.numElements()
    val hits = new Array[Int](Langs.length)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val bits = WordBits.get(arr.getUTF8String(i))
        if (bits != null) {
          var b = bits.intValue()
          while (b != 0) {
            val p = java.lang.Integer.numberOfTrailingZeros(b)
            hits(p) += 1
            b &= b - 1
          }
        }
      }
      i += 1
    }
    // first-wins argmax in profile order: score_i ≥ every score_j ⟺
    // hits_i ≥ hits_j (shared positive denominator); all-zero → first
    var best = 0
    i = 1
    while (i < hits.length) {
      if (hits(i) > hits(best)) best = i
      i += 1
    }
    val out = new Array[Any](Langs.length + 1)
    i = 0
    while (i < hits.length) {
      out(i) = if (m > 0) hits(i).toDouble / m else 0.0
      i += 1
    }
    out(Langs.length) = PredStrs(best)
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }
  /** token → bitmask of profiles containing it (a word can belong to
    * several languages, e.g. "la" in es and fr, "de" in es). */
  private val WordBits: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    TextOps.LangProfiles.zipWithIndex.foreach { case ((_, words), p) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        m.merge(k, Integer.valueOf(1 << p), (a, b) => Integer.valueOf(a | b))
      }
    }
    m
  }
}
