package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextOps.h64

/** Deduplication operator family for training-data pipelines: exact
  * (content hash), n-gram Jaccard, MinHash+LSH, SimHash. All stay
  * DataFrame-native — candidate generation is always a key-equality
  * join (shingle / band bucket / simhash segment), never an O(n²)
  * cross join, so the plans scale to billions of documents.
  *
  * Fingerprints (minhash signature, simhash) are computed by one-pass
  * SQL functions (`minhash_sig`, `simhash64`; [[graft.SqlFunctions]]) during
  * the scan — map-only, no explode/shuffle/regroup — which is both the
  * fast local form and the only sane 100 TB form (the long-format
  * explode multiplies every shuffle by k). All derived values are
  * bit-exact with the exploded column pipelines the DuckDB oracles
  * replay.
  */
object DedupOps {

  /** Exact dedup by content hash: one representative (min id) per
    * distinct text, with the duplicate count. A single hash-aggregate
    * with map-side partial combine — the 100 TB-safe form of
    * `dropDuplicates(text)` (hash keys shuffle, texts don't need to). */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame =
    df.select(h64(col(text)).as("content_hash"), col(id))
      .groupBy("content_hash")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Benchmark decontamination: for every corpus document, the number
    * of its distinct word n-gram shingles that also occur anywhere in
    * the benchmark (eval-set) documents, plus the contamination flag —
    * the pre-training hygiene pass that keeps eval data out of the
    * training corpus.
    *
    * Shape for 100 TB: the benchmark shingle set is tiny relative to
    * the corpus (eval suites are MBs), so it is distinct-ed and
    * BROADCAST; the corpus explodes shingles map-side, probes the
    * broadcast set, and partially aggregates per document before the
    * single doc-keyed shuffle — the corpus text itself never shuffles.
    * `explode_outer` keeps shingle-less documents in the output (they
    * are trivially clean). Use n ≥ 5: short shingles collide by chance
    * and flag everything (measured at sf0.01: n=3 "hits" 400/475 docs,
    * n=5 hits exactly the 2 genuine near-dup straddlers). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, id: String,
                    text: String, n: Int, minHits: Long): DataFrame = {
    val benchSh = bench
      .select(explode(TextOps.shingleHashes(col(text), n)).as("s"))
      .distinct().withColumn("__hit", lit(1L))
    corpus
      .select(col(id).as("doc"), TextOps.shingleHashes(col(text), n).as("shs"))
      .select(col("doc"), size(col("shs")).as("n_shingles"),
        explode_outer(col("shs")).as("s"))
      .join(broadcast(benchSh), Seq("s"), "left")
      .groupBy("doc", "n_shingles")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("hit_frac",
        when(col("n_shingles") > 0,
          col("n_hits").cast("double") / col("n_shingles")))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** Bloom-filter screen for decontamination — the scale path when the
    * benchmark shingle set itself is too big to broadcast: the filter
    * compresses it to a bit-set (distinct bit indices, ≤ k·|bench|
    * rows, ~1 MB at 2²⁰ bits) that broadcasts no matter how large the
    * eval suite grows. Three bucket indices per shingle come from
    * DISJOINT 20-bit fields of the 60-bit content hash (no extra
    * hashing, engine-replayable); a shingle is bloom-positive iff all
    * three bits are set. The output reports, per document, the
    * bloom-positive count next to the exact count, so the
    * false-positive rate of the screen is itself a pinned, oracled
    * quantity — the telemetry that sizes m before trusting the screen
    * at 100 TB.
    *
    * Scale shape: filter build is a distinct over bench-sized rows;
    * probing is map-side against the broadcast bit-set; the only
    * corpus-sized shuffle is the per-(doc, shingle) partial aggregate,
    * carrying hashes only. */
  def bloomScreen(corpus: DataFrame, bench: DataFrame, id: String,
                  text: String, n: Int): DataFrame = {
    val mMask = (1L << 20) - 1
    val benchSh = bench
      .select(explode(TextOps.shingleHashes(col(text), n)).as("s"))
      .distinct()
    val bitSet = benchSh
      .select(explode(sequence(lit(0), lit(2))).as("j"), col("s"))
      .select(expr(s"shiftright(s, j * 20) & $mMask").as("b"))
      .distinct().withColumn("__set", lit(1L))
    val probes = corpus
      .select(col(id).as("doc"), TextOps.shingleHashes(col(text), n).as("shs"))
      .select(col("doc"), size(col("shs")).as("n_shingles"),
        explode_outer(col("shs")).as("s"))
      .select(col("doc"), col("n_shingles"), col("s"),
        explode(sequence(lit(0), lit(2))).as("j"))
      .withColumn("b", expr(s"shiftright(s, j * 20) & $mMask"))
    val perShingle = probes
      .join(broadcast(bitSet), Seq("b"), "left")
      .groupBy("doc", "n_shingles", "s")
      .agg(sum(coalesce(col("__set"), lit(0L))).as("nb"))
    perShingle
      .join(broadcast(benchSh.withColumn("__hit", lit(1L))), Seq("s"), "left")
      .groupBy("doc", "n_shingles")
      .agg(
        sum(when(col("s").isNotNull && col("nb") === 3, lit(1L))
          .otherwise(lit(0L))).as("n_bloom_pos"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_exact_pos"))
      .withColumn("n_false_pos", col("n_bloom_pos") - col("n_exact_pos"))
  }

  /** The benchmark bit-set of [[bloomScreen]] packed into 2¹⁴ longs
    * (2²⁰ bits, 128 KiB) — bounded by m REGARDLESS of eval-suite size,
    * so it ships as a plan literal the way the ≤64-vector IVF
    * centroids do (same bounded construction-time driver action,
    * documented contract). This is the form a stateless streaming
    * probe needs: membership becomes pure column arithmetic with no
    * join and no state store. */
  def bloomBitmap(bench: DataFrame, text: String, n: Int): Array[Long] = {
    val mMask = (1L << 20) - 1
    val bits = bench
      .select(explode(TextOps.shingleHashes(col(text), n)).as("s"))
      .distinct()
      .select(explode(sequence(lit(0), lit(2))).as("j"), col("s"))
      .select(expr(s"shiftright(s, j * 20) & $mMask").as("b"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](1 << 14)
    bits.foreach(b => words((b >>> 6).toInt) |= (1L << (b & 63)))
    words
  }

  /** Bloom membership of one shingle hash against a packed bitmap
    * literal — all three bucket bits must be set. Pure expression:
    * usable identically in batch projections and streaming maps. */
  private def bloomHit(s: Column, bm: Column): Column = {
    val mMask = (1L << 20) - 1
    (0 to 2).map { j =>
      val b = call_function("shiftright", s, lit(j * 20))
        .bitwiseAND(lit(mMask))
      val word = element_at(bm, shiftright(b, 6).cast("int") + lit(1))
      call_function("shiftright", word, b.bitwiseAND(lit(63L)))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Per-document bloom-positive shingle count via the packed bitmap —
    * one higher-order `filter` over the shingle array, no explode, no
    * join, no shuffle. The streaming twin of [[bloomScreen]]'s
    * bloom-positive column (the exact-confirm stage stays a batch
    * join; a stream wants the cheap gate first). */
  def bloomScreenStream(stream: DataFrame, bitmap: Array[Long], id: String,
                        text: String, n: Int): DataFrame = {
    val bm = typedLit(bitmap.toSeq)
    val shs = TextOps.shingleHashes(col(text), n)
    stream
      .withColumn("__shs", shs)
      .select(col(id).as("doc"), size(col("__shs")).as("n_shingles"),
        size(filter(col("__shs"), s => bloomHit(s, bm)))
          .cast("long").as("n_bloom_pos"))
  }

  /** Passage-level exact dedup stats: split each document's token
    * stream into fixed `w`-token windows, hash each window, and report
    * per document how many of its passages occur more than once in the
    * corpus — the chunk-hash approximation of exact substring dedup
    * (the practical distributed stand-in for a suffix-array pass; the
    * fixed alignment means only same-offset repeats are caught, which
    * is exactly the boilerplate/exact-copy case it targets).
    *
    * Shape for 100 TB: passage hashing is one map-side pass over the
    * tokens; the corpus-wide occurrence count is `count() over
    * (partition by h)` — ONE hash-keyed shuffle, no join, one scan
    * (a count-aggregate + join-back looks equivalent but plans a
    * second, differently-pruned scan of the corpus). Document text
    * never shuffles, only (doc, hash) rows. */
  def passageStats(df: DataFrame, id: String, text: String, w: Int): DataFrame = {
    val tk = TextOps.tokens(col(text))
    // chunk i covers tokens [i·w+1, (i+1)·w]; guard the sequence — with
    // zero chunks sequence(0, -1) would count backwards
    val nCh = ceil(size(col("tk")).cast("double") / w).cast("int")
    val hashes = when(size(col("tk")) >= 1,
        transform(sequence(lit(0), nCh - 1),
          i => h64(array_join(slice(col("tk"), i * w + 1, lit(w)), " "))))
      .otherwise(array().cast("array<bigint>"))
    val ex = df.select(col(id).as("doc"), tk.as("tk"))
      .select(col("doc"), hashes.as("hs"))
      .select(col("doc"), size(col("hs")).cast("long").as("n_passages"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull) // InferFiltersFromGenerate dodge
    ex.withColumn("cnt",
        count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc", "n_passages")
      .agg(sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_passages"), 6))
  }

  /** Content-defined-chunk duplication stats — [[passageStats]] with
    * CDC boundaries instead of fixed windows. A fixed-window pass is
    * blind to duplicates after a single head-of-document insertion
    * (every window shifts); CDC boundaries re-synchronize at the next
    * boundary token, so shared spans are found regardless of offset.
    * Same 100 TB shape as the fixed pass: chunking is map-only inside
    * the scan (one JVM pass per row), occurrence counting is a window
    * over the 8-byte chunk hash — text never shuffles. */
  def cdcStats(df: DataFrame, id: String, text: String, m: Int): DataFrame = {
    val ex = df
      .select(col(id).as("doc"), TextOps.tokens(col(text)).as("tk"))
      .select(col("doc"),
        call_function("cdc_chunk_h64s", col("tk"), lit(m)).as("hs"))
      .select(col("doc"), size(col("hs")).cast("long").as("n_chunks"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull) // InferFiltersFromGenerate dodge
    ex.withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc", "n_chunks")
      .agg(sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_chunks"), 6))
  }

  /** CCNet-style boilerplate removal: strip every `w`-token passage
    * that occurs at least `maxFreq` times across the corpus (nav bars,
    * cookie banners, license footers — the passages shared by many
    * pages), and reassemble each document from its surviving passages
    * in original order. Returns per-doc (n_passages, n_kept, clean_len,
    * clean_h) — the reconstruction is pinned by length + content hash
    * so the oracle verifies the rebuilt text byte-for-byte without
    * dumping it.
    *
    * Shape for 100 TB: the boilerplate set is found with a HASH-ONLY
    * aggregate (column pruning reduces that branch to (h) rows — map-
    * side combined, text never shuffles to find frequencies), and by
    * construction it is small (≤ corpus_passages / maxFreq distinct
    * hashes), so AQE broadcasts the anti-join build side. The single
    * text-bearing shuffle is the per-doc reassembly. This is why the
    * frequency step is an aggregate + anti-join here, NOT the window-
    * over-h that [[passageStats]] uses: a window would shuffle every
    * passage STRING by hash; the second (pruned, hash-only) scan is
    * the cheaper side of that trade exactly when rows carry text. */
  def boilerplateStrip(df: DataFrame, id: String, text: String, w: Int,
                       maxFreq: Long): DataFrame = {
    val tk = TextOps.tokens(col(text))
    val nCh = ceil(size(col("tk")).cast("double") / w).cast("int")
    val passages = when(size(col("tk")) >= 1,
        transform(sequence(lit(0), nCh - 1),
          i => array_join(slice(col("tk"), i * w + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))
    val base = df.select(col(id).as("doc"), tk.as("tk"))
      .select(col("doc"), passages.as("ps"))
    val ex = base
      .select(col("doc"), posexplode_outer(col("ps")).as(Seq("i", "p")))
      .filter(col("p").isNotNull) // InferFiltersFromGenerate dodge
      .withColumn("h", h64(col("p")))
    val boiler = ex.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= maxFreq).select("h")
    val kept = ex.join(boiler, Seq("h"), "left_anti")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("i"),
          col("p")))), s => s.getField("p")), " ").as("clean"))
    base.select(col("doc"), size(col("ps")).cast("long").as("n_passages"))
      .join(kept, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        length(coalesce(col("clean"), lit(""))).cast("long").as("clean_len"),
        h64(coalesce(col("clean"), lit(""))).as("clean_h"))
  }

  /** Cross-document duplicated-SUBSTRING removal with SLIDING n-gram
    * windows — the alignment-robust form of corpus dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * a token is dup-covered when ANY n-window containing it occurs ≥2
    * times corpus-wide (within-doc repeats count), and covered tokens
    * are dropped. Disjoint-chunk passes ([[passageStats]] /
    * [[boilerplateStrip]]) go blind after a one-token insertion shifts
    * every chunk; sliding windows re-match immediately, which is why
    * the substring form is the published standard for training-data
    * dedup.
    *
    * Scale shape: the occurrence stream is one row per token (the
    * volume every shingle op here already shuffles), carrying only
    * (doc, pos, h64) — strings never shuffle. Window frequency is a
    * map-side-combining hash aggregate on the 60-bit gram hash; the
    * duplicated-gram set flows back as a semi-join on the same hash;
    * coverage expansion is a map-only explode of n ints per dup
    * occurrence; the per-doc coverage set is bounded by document
    * length. No windows, no sorts, no driver state.
    *
    * Output per doc: token counts before/after, covered-token count,
    * and the h64 of the rebuilt (kept-token) text — the
    * reconstruction is hash-pinned, not just counted. */
  def duplicatedSpanStrip(df: DataFrame, id: String, text: String,
                          n: Int): DataFrame = {
    val docs = df.select(col(id).as("doc"),
        TextOps.tokens(col(text)).as("tk"))
      .withColumn("grams", expr(s"shingle_h64s_all(tk, $n)"))
    val occ = docs.select(col("doc"),
      posexplode(col("grams")).as(Seq("pos", "g")))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("g")
    val cov = occ.join(dup, Seq("g"), "left_semi")
      .select(col("doc"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cp"))
      .distinct()
      .groupBy("doc").agg(collect_set(col("cp")).as("cov"))
    docs.join(cov, Seq("doc"), "left")
      .withColumn("cov",
        coalesce(col("cov"), array().cast("array<int>")))
      .withColumn("kept",
        filter(col("tk"), (t, i) => !array_contains(col("cov"), i)))
      .select(col("doc").as("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_dup_tokens"),
        (size(col("tk")) - size(col("cov"))).cast("long").as("n_kept"),
        h64(concat_ws(" ", col("kept"))).as("kept_h"))
      .orderBy("doc_id")
  }

  /** n-gram Jaccard near-dup pairs: candidates share ≥1 shingle (an
    * equi-join on the shingle — inverted-index semantics), exact
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|) from distinct-shingle counts.
    *
    * The set size rides along with each exploded shingle row (it is
    * known columnar, before the explode), so the plan is exactly two
    * shuffles: the candidate self-join on the shingle hash and the
    * pair aggregation — no separate sizes aggregate, no post-joins.
    *
    * Scale notes: the skew risk is ultra-common shingles — `maxDocFreq`
    * drops shingles appearing in more than that many documents
    * (boilerplate stop-shingles), which both de-skews the join and
    * removes meaningless candidates; sizes are then re-counted over the
    * filtered set (one extra shuffle on doc). AQE handles the residual.
    * Measured on a 10×-replicated sf0.1 corpus (boilerplate shared by
    * every copy): uncapped 480 s, maxDocFreq=60 → 12.5 s — candidate
    * pairs per shingle grow as docFreq², so duplication-heavy corpora
    * MUST set the cap (≈ a small multiple of the expected duplication
    * factor).
    */
  /** Exact set-similarity self-join at Jaccard ≥ 1/2 via PREFIX
    * FILTERING (the PPJoin candidate rule): under any global total
    * order on shingles, two sets with Jaccard ≥ τ must share a token
    * within each other's first |x| − ⌈τ·|x|⌉ + 1 tokens — so ONLY
    * prefix tokens generate candidates, and ordering rare-first
    * (docFreq asc, hash asc) puts the least-shared shingles in the
    * prefixes, collapsing bucket fan-out exactly where the naive
    * all-shingle join explodes. Candidates then pay one map-side
    * `array_intersect` against the two full sets (no second corpus
    * shuffle), and the τ gate is the INTEGER test 2·inter ≥ union.
    * τ fixed at 1/2 keeps the prefix length integer-exact:
    * p = sz − (sz+1) div 2 + 1.
    *
    * The DuckDB oracle computes the UNFILTERED thresholded pair join,
    * so the hash match proves the candidate rule is lossless on real
    * data — an algorithmic law pinned the way q_salted_join pins
    * partitioning neutrality. */
  def prefixJoin(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val arr = df.select(col(id).as("doc"),
      TextOps.shingleHashes(col(text), n).as("arr"))
    // plain keyed repartition, NOT fanoutRepartition: rare-first
    // prefixes collapse the pair fan-out BY DESIGN, so there is no
    // expansion to protect — measured, the explicit-count exchange
    // regressed this query 1.86→2.5 s at sf0.1 (extra tiny tasks
    // across the freq/window stages)
    val sh = arr
      .select(col("doc"), size(col("arr")).as("sz"),
        explode_outer(col("arr")).as("s")) // outer: see jaccardPairs
      .filter(col("s").isNotNull)
      .repartition(col("s"))
    val freq = sh.groupBy("s").agg(count(lit(1)).as("dfreq"))
    val pref = sh.join(freq, Seq("s"))
      .withColumn("rk", row_number().over(Window.partitionBy("doc")
        .orderBy(col("dfreq").asc, col("s").asc)))
      .filter(col("rk") <= col("sz") - expr("(sz + 1) div 2") + 1)
      .select("doc", "s")
    val cand = pref.select(col("doc").as("doc_a"), col("s"))
      .join(pref.select(col("doc").as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(arr.select(col("doc").as("doc_a"), col("arr").as("arr_a")),
        Seq("doc_a"))
      .join(arr.select(col("doc").as("doc_b"), col("arr").as("arr_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("arr_a")).cast("long").as("sz_a"),
        size(col("arr_b")).cast("long").as("sz_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("inter"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 2 >= col("uni")) // jaccard ≥ 1/2, integer-exact
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** `maxDocFreq` DEFAULTS to [[Scale.DocFreqCap]] (round 14): a
    * production caller gets the bounded plan — stop-shingles above the
    * cap leave candidate generation AND the size denominator — unless
    * they opt into the exact algebra with an explicit `None` (the
    * small-sf oracle twins do). The uncapped pair join's per-shingle
    * fan-out is docFreq², the measured ×99–104 storm killer. */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                   threshold: Double,
                   maxDocFreq: Option[Long] = Scale.DocFreqCap): DataFrame = {
    // join on the 60-bit shingle hash, not the string — smaller shuffle
    // keys, cheaper equality; 60 bits ⇒ collisions are negligible
    val arr = df.select(col(id).as("doc"), TextOps.shingleHashes(col(text), n).as("arr"))
    // explode_OUTER + s-null post-filter everywhere a computed array is
    // exploded: InferFiltersFromGenerate fires on non-outer generators
    // and pushes size(arr)>0 below the projection with the whole
    // shingle-hash chain substituted in — the hash then runs 2-3× per
    // row inside the scan Filter (same trap as LogPipeline.payoutDecode)
    val filtered = maxDocFreq match {
      case None =>
        arr.select(col("doc"), size(col("arr")).as("sz"),
            explode_outer(col("arr")).as("s"))
          .filter(col("s").isNotNull)
      case Some(cap) =>
        // one shuffle by shingle feeds BOTH the doc-frequency aggregate
        // (already clustered — no second exchange) and the filter join
        // back against it, so the scan→shingle→explode pipeline
        // materializes once; explicit-count so AQE cannot coalesce the
        // quadratic pair expansion downstream (Scale.fanoutRepartition)
        val sh = Scale.fanoutRepartition(
          arr.select(col("doc"), explode_outer(col("arr")).as("s"))
            .filter(col("s").isNotNull), col("s"))
        val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        sh.join(freq.filter(col("df") <= cap).select("s"), Seq("s"))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc")))
          .select("doc", "sz", "s")
    }
    // one explicit shuffle by shingle, shared by BOTH join sides: the
    // two repartition exchanges canonicalize identically, so
    // ReuseExchange computes the scan→tokenize→shingle→explode pipeline
    // once (without it, each side re-scans and re-fingerprints the
    // corpus — 2× the dominant cost at scale)
    val byShingle = Scale.fanoutRepartition(filtered, col("s"))
    val a = byShingle.toDF("doc_a", "sz_a", "s")
    val b = byShingle.toDF("doc_b", "sz_b", "s")
    a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      // guard the union size: the id column is CONTRACTUALLY unique,
      // but if callers feed duplicate ids (5 copies of every row in
      // the stress corpus), `inter` counts cross-copy matches and can
      // reach/exceed sz_a+sz_b — and ANSI mode turns the zero
      // denominator into a job-killing SparkArithmeticException.
      // Degenerate pairs get a null jaccard and fall out of the
      // threshold filter instead of crashing the scan. The
      // inter ≤ min(sz) leg catches the same dup-id degeneracy on the
      // CAPPED path, where kept-set sizes keep the denominator
      // positive but cross-copy inter still exceeds the true set
      // bound (jaccard would read > 1); exact unique-id sets always
      // satisfy it, so honest corpora are unaffected.
      .withColumn("__uni", col("sz_a") + col("sz_b") - col("inter"))
      .withColumn("jaccard",
        when(col("__uni") > 0 &&
            col("inter") <= least(col("sz_a"), col("sz_b")),
          col("inter").cast("double") / col("__uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** MinHash component count modulus and universal-hash family: one
    * md5-derived base hash per shingle, then k affine rehashes
    * sig_i = (a_i·h + b_i) mod (2³¹−1) with content-derived odd a_i —
    * k× fewer cryptographic hashes than hashing (i, shingle) pairs
    * (the dominant cost at scale). 31-bit components keep the affine
    * arithmetic exactly representable in 64-bit on every engine. */
  val MinhashMod = 2147483647L // 2^31 - 1, prime

  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = math.abs(("a:" + i).hashCode.toLong) % (MinhashMod - 2) + 1
      val b = math.abs(("b:" + i).hashCode.toLong) % MinhashMod
      (a, b)
    }

  /** Wide-form MinHash: (doc, sig array<long>[k]), one row per document
    * with ≥1 shingle. Map-only — the signature is computed during the
    * scan by `minhash_sig` ([[Hashing.minhashSig]]); nothing shuffles until a consumer
    * joins or bands. */
  def minhashSigWide(df: DataFrame, id: String, text: String, k: Int,
                     shingleN: Int = 3): DataFrame =
    // filter on the CHEAP precondition (≥n tokens ⟺ ≥1 shingle), with
    // tokens materialized first: PushDownPredicates substitutes a
    // filter's aliases below the projection, so filtering on
    // size(shingle_h64s(…)) would re-run the whole hash chain inside
    // the pushed scan Filter (the winnowPairs trap, measured 2-3×/row)
    df.select(col(id).as("doc"), TextOps.tokens(col(text)).as("tk"))
      .filter(size(col("tk")) >= shingleN)
      .select(col("doc"), call_function("minhash_sig",
        call_function("shingle_h64s", col("tk"), lit(shingleN)), lit(k)).as("sig"))

  /** Long-form signature (doc, i, sigv) — the wide form exploded; kept
    * as the interchange/inspection format. */
  def minhashSignature(df: DataFrame, id: String, text: String, k: Int,
                       shingleN: Int = 3): DataFrame =
    minhashSigWide(df, id, text, k, shingleN)
      .select(col("doc"), posexplode_outer(col("sig")).as(Seq("i", "sigv")))
      .filter(col("i").isNotNull) // InferFiltersFromGenerate dodge

  /** LSH banding over a wide minhash signature: band b's hash = h64 of
    * the comma-joined signature components [b·r, b·r+r). Docs sharing
    * any (band, band_hash) bucket are candidates — the join is on the
    * bucket key, never all-pairs. Map-only (array slices, no regroup). */
  def lshBands(sigWide: DataFrame, k: Int, r: Int): DataFrame = {
    require(r >= 1 && k >= 1, s"lshBands needs k >= 1, r >= 1 (got k=$k, r=$r)")
    // ceil(k/r) bands: a trailing partial band still buckets its
    // components (slice truncates at the array end)
    val bands = (k + r - 1) / r
    sigWide.select(col("doc"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("doc"), col("band"),
        h64(concat_ws(",", slice(col("sig"), col("band") * r + 1, lit(r))))
          .as("bh"))
  }

  /** Candidate pairs from LSH buckets + estimated Jaccard (fraction of
    * matching signature components, compared columnar on the two wide
    * signatures — no per-component join). */
  /** Distinct banded candidate pairs from a band table — the self-join
    * half of LSH, shared by [[lshCandidates]] (which re-attaches
    * signatures for the Jaccard estimate) and consumers like
    * [[editNearDup]] that verify candidates some other way and must not
    * pay for two signature joins whose output they discard. */
  private def lshCandidatePairsFrom(bands: DataFrame): DataFrame =
    bands.toDF("doc_a", "band", "bh")
      .join(bands.toDF("doc_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

  /** (band, bh)-bucketed band table ready for the pair join, by cap
    * mode: capped → the bounded kept set (NO pre-shuffle on the bucket
    * key — the rank-free aggregate must partial-combine on
    * scan-partitioned data); uncapped → the (band, bh) repartition the
    * ReuseExchange pattern wants. */
  private def bandsForPairs(sigWide: DataFrame, k: Int, r: Int,
                            maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case Some(cap) =>
        Scale.boundedMembers(lshBands(sigWide, k, r).select("doc", "band", "bh"),
          Seq("band", "bh"), "doc", cap).select("doc", "band", "bh")
      case None =>
        // plain keyed repartition, NOT fanoutRepartition: measured at
        // sf0.1 the explicit-count exchange REGRESSED this path 15-35%
        // (q_edit_neardup 1.61→2.0 s) — 16-band MinHash buckets on the
        // honest corpus are small, so the pair expansion AQE coalesces
        // here is bounded by design and the extra tiny tasks are tax;
        // the storm-scale path is the capped branch above
        lshBands(sigWide, k, r).repartition(col("band"), col("bh"))
    }

  /** Candidate pairs only (no signature re-join, no estimate column).
    * `maxBucket` DEFAULTS to [[Scale.BucketCap]]: pair fan-out per
    * (band, band-hash) bucket is membership² — bounded unless the
    * caller opts into the exact candidate set with `None`. */
  def lshCandidatePairs(sigWide: DataFrame, k: Int, r: Int,
                        maxBucket: Option[Int] = Scale.BucketCap): DataFrame =
    lshCandidatePairsFrom(bandsForPairs(sigWide, k, r, maxBucket))

  def lshCandidates(sigWide: DataFrame, k: Int, r: Int,
                    maxBucket: Option[Int] = Scale.BucketCap): DataFrame = {
    // ONE materialization of the signature pipeline, shared by all four
    // consumers via canonically-equal exchanges (ReuseExchange): the
    // doc-partitioned signatures feed both banding sides (through the
    // shared (band, bh) exchange) and both estimate-join lookups —
    // without this, each consumer re-runs scan→tokenize→minhash.
    val sigByDoc = sigWide.repartition(col("doc"))
    val cand = lshCandidatePairsFrom(bandsForPairs(sigByDoc, k, r, maxBucket))
    cand
      .join(sigByDoc.toDF("doc_a", "sig_a"), Seq("doc_a"))
      .join(sigByDoc.toDF("doc_b", "sig_b"), Seq("doc_b"))
      .withColumn("est_jaccard",
        call_function("sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / k.toDouble)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** BOUNDED banded LSH candidates + Jaccard estimate, with the gate
    * diagnostics riding every row — the 100 TB form of
    * [[lshCandidates]]. ScaleProbe measured the uncapped band
    * self-join's max-task ×41 under a 10×-duplicated corpus: candidate
    * pairs per (band, band-hash) bucket grow as membership SQUARED, and
    * duplication inflates exactly the buckets near-dups share. Here
    * each bucket keeps at most `maxBucket` members in deterministic
    * (h64(doc), doc) order through the RANK-FREE
    * [[Scale.boundedMembers]] aggregate (≤ cap entries per partial
    * buffer — the hot bucket never funnels its membership through one
    * task, not even to be ranked), so per-bucket fan-out is ≤ cap²
    * CONSTANT in duplication. A dup blob is represented by its sample —
    * for CANDIDATE GENERATION that is the point (every copy pairs the
    * same), and the recall trade is pinned as DATA, not argued: every
    * output row carries `cand_pairs`/`all_pairs` (pruning mass) and
    * `recall_num`/`recall_den` — coverage of the UNCAPPED candidate
    * pairs over the fixed doc panel `doc < panelMaxId` (a constant, so
    * the exact leg stays O(panel²) at any corpus size) — all replayed
    * independently by the DuckDB oracle. The uncapped [[lshCandidates]]
    * stays the small-sf exactness check (the q_jaccard_pairs pattern). */
  def lshCandidatesCappedGate(docs: DataFrame, id: String, text: String,
                              k: Int, r: Int, maxBucket: Int,
                              panelMaxId: Long): DataFrame = {
    val sigByDoc = minhashSigWide(docs, id, text, k).repartition(col("doc"))
    // NO (band, bh) repartition before the cap: the bounded aggregate
    // must partial-combine on scan-partitioned data — a pre-shuffle on
    // the bucket key would re-create the very funnel the cap removes
    val bands = lshBands(sigByDoc, k, r)
    val kept = Scale.boundedMembers(bands.select("doc", "band", "bh"),
      Seq("band", "bh"), "doc", maxBucket)
    val cand = lshCandidatePairsFrom(kept.select("doc", "band", "bh"))
    val est = cand
      .join(sigByDoc.toDF("doc_a", "sig_a"), Seq("doc_a"))
      .join(sigByDoc.toDF("doc_b", "sig_b"), Seq("doc_b"))
      .withColumn("est_jaccard",
        call_function("sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / k.toDouble)
      .select("doc_a", "doc_b", "est_jaccard")
    val stats = cand.agg(count(lit(1)).as("cand_pairs"))
      .crossJoin(sigByDoc.agg(count(lit(1)).as("__n")))
      .select(col("cand_pairs"),
        ((col("__n") * (col("__n") - 1)) / 2).cast("long").as("all_pairs"))
    val pcand = lshCandidatePairsFrom(bands.filter(col("doc") < panelMaxId))
    val rec = pcand.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("recall_num"))
      .crossJoin(pcand.agg(count(lit(1)).as("recall_den")))
    est.crossJoin(broadcast(stats)).crossJoin(broadcast(rec))
  }

  /** Edit-distance verification stage over LSH candidates — the exact
    * re-rank a fuzzy-dedup pipeline runs after candidate generation:
    * MinHash/LSH proposes pairs cheaply, Levenshtein on a bounded text
    * prefix confirms them. Never all-pairs: the quadratic kernel runs
    * only on the (sparse) candidate set, and the `prefixLen` cap bounds
    * the per-pair O(L²) DP cost regardless of document length — the two
    * knobs that keep this viable at 100 TB. Texts reach the pairs by
    * joining the (small) candidate table back against the corpus, so
    * full documents never ride the candidate-generation shuffles.
    *
    * `sim = 1 − dist / max(|a|, |b|)` on the prefixes; pairs below
    * `minSim` drop. Both `levenshtein` and the arithmetic are
    * cross-engine exact (unit edit costs, char-based), so the stage is
    * DuckDB-oracleable end to end. */
  def editNearDup(docs: DataFrame, id: String, text: String, k: Int, r: Int,
                  prefixLen: Int, minSim: Double,
                  maxBucket: Option[Int] = Scale.BucketCap): DataFrame = {
    val cand = lshCandidatePairs(minhashSigWide(docs, id, text, k), k, r,
      maxBucket)
    val pfx = docs.select(col(id).as("doc"),
      substring(col(text), 1, prefixLen).as("__pfx"))
    cand
      .join(pfx.select(col("doc").as("doc_a"), col("__pfx").as("__pa")), Seq("doc_a"))
      .join(pfx.select(col("doc").as("doc_b"), col("__pfx").as("__pb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("__pa"), col("__pb")))
      .withColumn("sim", lit(1.0) - col("edit_dist").cast("double") /
        greatest(length(col("__pa")), length(col("__pb"))))
      .filter(col("sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        round(col("sim"), 6).as("sim"))
  }

  /** Materializable LSH band index of a corpus: one row per (band,
    * band-hash) bucket membership, with the member's wide signature
    * carried so a probe can estimate Jaccard without a second corpus
    * lookup. This is the reusable state the incremental/streaming
    * screens join against — persist it (parquet, partitioned by band)
    * and every ingest pays |batch| fingerprinting plus one bucket
    * join, never a corpus re-scan. */
  def bandIndex(df: DataFrame, id: String, text: String, k: Int,
                r: Int): DataFrame = {
    val bands = (k + r - 1) / r
    minhashSigWide(df, id, text, k)
      .select(col("doc").as("old_doc"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("sig").as("sig_o"))
      .select(col("old_doc"), col("band"),
        h64(concat_ws(",", slice(col("sig_o"), col("band") * r + 1, lit(r))))
          .as("bh"),
        col("sig_o"))
  }

  /** Incremental near-dup screen: which BATCH documents are LSH
    * candidates of an EXISTING-corpus document, with the estimated
    * Jaccard from signature agreement. The production daily-ingest
    * shape: candidates only cross sides (batch bands ⋈ corpus bands),
    * the corpus never self-joins, and the corpus's band index is
    * corpus-insensitive state a real deployment keeps materialized —
    * so an ingest pays |batch| fingerprinting plus one bucket join,
    * not a corpus-wide rescan per batch. Both band sides repartition
    * on (band, bh), so the join shuffles narrow bucket rows only. */
  def lshIncremental(corpus: DataFrame, batch: DataFrame, id: String,
                     text: String, k: Int, r: Int,
                     threshold: Double): DataFrame = {
    val cs = minhashSigWide(corpus, id, text, k).repartition(col("doc"))
    val bs = minhashSigWide(batch, id, text, k).repartition(col("doc"))
    val cb = lshBands(cs, k, r).repartition(col("band"), col("bh"))
    val bb = lshBands(bs, k, r).repartition(col("band"), col("bh"))
    val cand = bb.toDF("new_doc", "band", "bh")
      .join(cb.toDF("old_doc", "band", "bh"), Seq("band", "bh"))
      .select("new_doc", "old_doc").distinct()
    cand
      .join(bs.select(col("doc").as("new_doc"), col("sig").as("sig_n")), Seq("new_doc"))
      .join(cs.select(col("doc").as("old_doc"), col("sig").as("sig_o")), Seq("old_doc"))
      .withColumn("est_jaccard",
        call_function("sig_agree", col("sig_n"), col("sig_o"))
          .cast("double") / k.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select("new_doc", "old_doc", "est_jaccard")
  }

  /** Edge count below which connected components short-circuits to a
    * driver-side union-find: 4M symmetric edges ≈ 64 MB of longs — far
    * under any driver heap, and orders of magnitude under the driver
    * traffic a broadcast join ships. The distributed loops pay several
    * scheduler round-trips PER ROUND regardless of data size (~3 s for
    * a 260-edge graph at local[32]); below this size the graph is not a
    * distributed problem. Pass 0 to force the distributed path. */
  val DefaultLocalEdgeLimit: Long = 4L << 20

  /** The small-graph fast path shared by both CC variants: when the
    * materialized symmetric edge list is under `limit` rows and ids are
    * integral, collect and run union-find (path-halving) on the driver.
    * Output is identical to the distributed loops: (node, comp=min id),
    * in the input's id type. None → caller runs the distributed loop. */
  private def localComponents(sym: DataFrame, limit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val integral = sym.schema.fields.forall(f =>
      f.dataType == LongType || f.dataType == IntegerType)
    // sym is localCheckpoint'ed by the caller — count reads cached blocks
    if (!integral || limit <= 0 || sym.count() > limit) return None
    val idType = sym.schema.fields.head.dataType
    val rows = sym.select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      // union by min keeps roots = component minima with no relabel pass
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(r.getLong(0), find(r.getLong(0)))
    }
    val spark = sym.sparkSession
    import spark.implicits._
    // materialize the key set before the final find pass — find()
    // path-halves (mutates) while we iterate
    val out = parent.keysIterator.toArray.toSeq.map(n => (n, find(n)))
      .toDF("node", "comp")
    Some(out.select(col("node").cast(idType), col("comp").cast(idType)))
  }

  /** Connected components over an undirected edge list — the cluster
    * step that turns near-dup PAIRS into dedup GROUPS (one component =
    * one duplicate cluster; keep the min-id representative). Iterative
    * min-label propagation: every round each node adopts the minimum
    * label in its closed neighborhood; terminates when a round changes
    * nothing. Rounds = component diameter — small for near-dup
    * clusters, which are dense by construction. (Adversarially long
    * path-graphs would want the large-star/small-star contraction;
    * the propagation step and plan shape are the same.)
    *
    * Each round is one shuffle on the node id with map-side partial
    * min; lineage is cut per round with localCheckpoint so the plan
    * does not grow with iterations. Output: (node, comp) where comp is
    * the component's minimum node id. Nodes not present in any edge
    * are absent (singletons are the caller's union). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          localEdgeLimit: Long = DefaultLocalEdgeLimit): DataFrame = {
    // materialize the edge list once — every propagation round joins
    // against it, and without the checkpoint each round would re-run
    // the full upstream candidate-generation DAG. Symmetrize with one
    // explode, NOT a self-union: a union's two branches each execute
    // the upstream pair-generation pipeline (the dominant cost when
    // edges come straight out of a Jaccard/cosine candidate join)
    val sym = edges.toDF("src", "dst")
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint(true)
    localComponents(sym, localEdgeLimit) match {
      case Some(local) => return local
      case None =>
    }
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst").as("nb")).agg(min("label").as("nl"))
      val updated = labels.join(nbrMin, labels("node") === nbrMin("nb"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("newl"))
        .localCheckpoint(true)
      changed = updated.filter(col("newl") < col("label")).count()
      labels = updated.select(col("node"), col("newl").as("label"))
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "maxIter; raise it (or contract with large-star/small-star)")
    labels.select(col("node"), col("label").as("comp"))
  }

  /** Winnowing (MOSS) near-dup pairs: documents sharing ≥ `minShared`
    * window-min fingerprints, with the fingerprint-set Jaccard.
    * Winnowing guarantees a shared fingerprint for any common run of
    * ≥ w+n−1 tokens, so unlike bag-of-shingles Jaccard this targets
    * VERBATIM shared passages (plagiarism / boilerplate detection).
    * Candidate generation is the fingerprint equi-join — inverted-index
    * semantics, linear, with the exchange shared by both sides like
    * the other fingerprint self-joins. `maxDocFreq` is the same
    * mandatory-at-scale control as jaccardPairs': winnowing targets
    * boilerplate corpora, where a passage shared verbatim by D docs
    * yields a fingerprint with docFreq D and ~D²/2 candidate rows —
    * cap it (sizes are re-counted over the surviving fingerprints). */
  def winnowPairs(df: DataFrame, id: String, text: String, n: Int, w: Int,
                  minShared: Long, maxDocFreq: Option[Long] = None): DataFrame = {
    // NO size(fps)>0 filter here: explode already drops empty arrays,
    // and a filter on the fps alias gets pushed below the projection
    // with winnow_fps substituted in — the fingerprint then runs 2-3×
    // per row inside the scan Filter (PushDownPredicates trap)
    val fps = df.select(col(id).as("doc"),
        TextOps.winnowingFingerprints(col(text), n, w).as("fps"))
    val exploded = maxDocFreq match {
      case None =>
        fps.select(col("doc"), size(col("fps")).as("sz"),
            explode_outer(col("fps")).as("f"))
          .filter(col("f").isNotNull) // InferFiltersFromGenerate dodge
      case Some(cap) =>
        // shared single shuffle, as in jaccardPairs' capped branch
        val sh = fps.select(col("doc"), explode_outer(col("fps")).as("f"))
          .filter(col("f").isNotNull)
          .repartition(col("f"))
        val freq = sh.groupBy("f").agg(count(lit(1)).as("df"))
        sh.join(freq.filter(col("df") <= cap).select("f"), Seq("f"))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc")))
          .select("doc", "sz", "f")
    }
    val ex = exploded.repartition(col("f"))
    val a = ex.toDF("doc_a", "sz_a", "f")
    val b = ex.toDF("doc_b", "sz_b", "f")
    a.join(b, Seq("f")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(col("inter") >= minShared)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** Asymmetric near-containment from winnowing fingerprints:
    * cont(A⊆B) = |fp(A) ∩ fp(B)| / |fp(A)|. Catches quotes, reposts
    * and excerpt duplication that symmetric Jaccard misses — a short
    * doc quoted inside a long one has tiny Jaccard but containment ≈ 1.
    * Identical plan to [[winnowPairs]] (shared-exchange inverted-index
    * join); both directed scores are projections of ONE intersection
    * count, so the asymmetric variant costs nothing extra. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
                       w: Int, minContain: Double): DataFrame = {
    // no size(fps)>0 filter — explode drops empties; see winnowPairs
    val fps = df.select(col(id).as("doc"),
        TextOps.winnowingFingerprints(col(text), n, w).as("fps"))
    val ex = fps
      .select(col("doc"), size(col("fps")).as("sz"),
        explode_outer(col("fps")).as("f"))
      .filter(col("f").isNotNull) // InferFiltersFromGenerate dodge
      .repartition(col("f"))
    val a = ex.toDF("doc_a", "sz_a", "f")
    val b = ex.toDF("doc_b", "sz_b", "f")
    a.join(b, Seq("f")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .withColumn("cont_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("sz_b"))
      .filter(col("cont_a") >= minContain || col("cont_b") >= minContain)
      .select("doc_a", "doc_b", "inter", "cont_a", "cont_b")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the scale path for adversarial topologies. Where
    * min-label propagation needs diameter rounds (a 10⁶-node path graph
    * = 10⁶ shuffles), contraction converges in O(log² n) rounds (a
    * handful in practice) regardless of diameter:
    *
    *   large-star: every node links its LARGER neighbors to the minimum
    *     of its closed neighborhood — m = min(N(u) ∪ {u}), emit (v, m)
    *     for v ∈ N(u), v > u;
    *   small-star: edges oriented (big ← small); every node links its
    *     smaller neighbors AND itself to their minimum.
    *
    * Both phases are one hash-aggregate (per-node neighborhood min,
    * map-side combined) plus one re-join per round — no neighborhood
    * collect, so a hub node of any degree never materializes its
    * adjacency list in memory. Fixpoint = canonical edge-set fingerprint
    * (count + xor of xxhash64 — overflow-free under ANSI) unchanged; at the fixpoint the
    * graph is a disjoint union of stars, root = component min.
    *
    * Output matches [[connectedComponents]]: (node, comp) for every
    * node incident to ≥1 edge. */
  def connectedComponentsContract(edges: DataFrame, maxIter: Int = 50,
                                  localEdgeLimit: Long = DefaultLocalEdgeLimit): DataFrame = {
    val raw = edges.toDF("a", "b")
    val canon = raw.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("s"),
        greatest(col("a"), col("b")).as("l"))
      .distinct()
    var e = canon.localCheckpoint(true)
    // parity with connectedComponents: a node whose only edge is a
    // self-loop still gets (n, n) — contraction drops self-loops up
    // front, so re-attach those nodes at the end
    val selfOnly = raw.filter(col("a") === col("b"))
      .select(col("a").as("node")).distinct()
      .join(e.select(col("s").as("node"))
          .union(e.select(col("l"))).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"), col("node").as("comp"))
    localComponents(e.select(col("s").as("src"), col("l").as("dst"))
        .union(e.select(col("l"), col("s"))), localEdgeLimit) match {
      case Some(local) => return local.union(selfOnly)
      case None =>
    }
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        bit_xor(xxhash64(col("s"), col("l")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var fp = fingerprint(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: per-node min over the symmetric neighborhood
      val sym = e.select(col("s").as("u"), col("l").as("v"))
        .union(e.select(col("l").as("u"), col("s").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("s"), col("v").as("l"))  // m ≤ u < v
        .distinct().localCheckpoint(true)
      // small-star: edges oriented big←small; link smalls + self to min
      val bigSide = large.select(col("l").as("u"), col("s").as("v"))
      val smins = bigSide.groupBy("u").agg(min("v").as("m"))
      val small = bigSide.join(smins, "u")
        .select(col("m").as("s"),
          explode(array(col("v"), col("u"))).as("l"))
        .filter(col("s") =!= col("l"))
        .distinct().localCheckpoint(true)
      val nfp = fingerprint(small)
      converged = nfp == fp
      fp = nfp
      e = small
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsContract did not converge in $maxIter rounds")
    // fixpoint: stars rooted at the component min — (l, s) IS (node,
    // comp); roots map to themselves
    e.select(col("l").as("node"), col("s").as("comp"))
      .union(e.select(col("s"), col("s")).distinct())
      .union(selfOnly)
  }

  /** 48-bit SimHash over tokens (with multiplicity): bit j is 1 when the
    * sum over token hashes of ±1 (by bit j of h64(token)) is positive.
    * 48 bits keeps every shift inside a positive bigint. One-pass
    * `simhash64` ([[Hashing.simhash64]]) during the scan; docs without tokens are dropped
    * (parity with the aggregate form, where they produce no groups). */
  def simhash(df: DataFrame, id: String, text: String, bits: Int = 48): DataFrame =
    df.select(col(id).as("doc"), TextOps.tokens(col(text)).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc"),
        call_function("simhash64", col("tk"), lit(bits)).as("simhash"))

  /** SimHash near-dup pairs by Hamming distance. Candidate generation
    * here is the plain self-join for oracle parity; the scale path is
    * the standard multi-index trick (split the fingerprint into
    * `maxHamming+1` segments, join on segment equality) — see
    * `simhashPairsBanded`. */
  def simhashPairs(simh: DataFrame, maxHamming: Int): DataFrame =
    simh.toDF("doc_a", "sh_a").join(simh.toDF("doc_b", "sh_b"),
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")

  /** Scale form of simhashPairs: pigeonhole banding. Split the b-bit
    * fingerprint into (maxHamming+1) segments; any pair within the
    * Hamming budget must agree exactly on ≥1 segment, so candidates
    * come from equi-joins on (segment index, segment bits) — linear
    * candidate generation instead of the quadratic cross join. */
  def simhashPairsBanded(simh: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val nSeg = maxHamming + 1
    val segLen = math.max(1, bits / nSeg)
    val segs = simh.select(col("doc"), col("simhash"),
        explode(sequence(lit(0), lit(nSeg - 1))).as("seg"))
      .withColumn("segbits",
        expr(s"shiftright(simhash, seg * $segLen) & ${(1L << segLen) - 1}"))
      // shared shuffle for both sides of the segment equi-join (see
      // lshCandidates) — upstream fingerprinting runs once
      .repartition(col("seg"), col("segbits"))
    val cand = segs.select(col("doc").as("doc_a"), col("simhash").as("sh_a"),
        col("seg"), col("segbits"))
      .join(segs.select(col("doc").as("doc_b"), col("simhash").as("sh_b"),
        col("seg"), col("segbits")), Seq("seg", "segbits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
    cand.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
