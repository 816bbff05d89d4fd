package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * pure column expressions (whole-stage codegen'd, no UDFs), so they
  * scale linearly with the scan and push no state to the driver.
  */
object TextOps {

  /** Deterministic 60-bit content hash: first 15 hex chars of md5 as a
    * bigint. Stable across engines (the DuckDB oracle computes the same
    * bytes), which is what a reproducible dedup pipeline needs — never
    * hash with partition-dependent seeds. */
  def h64(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Codepoints of scripts written WITHOUT word spacing (Han, Kana,
    * Hangul, Thai — incl. Thai combining vowel/tone marks, which are
    * script=Thai): each becomes its own token, the standard char-level
    * fallback. Without it a whitespace tokenizer degrades CJK/Thai
    * text to one-token-per-sentence, silently weakening lang-ID,
    * shingles, dedup and every token-mass metric on a multilingual
    * crawl. Java `\p{IsXxx}` script classes here; the DuckDB oracle
    * twin uses RE2's `\p{Xxx}` spelling of the SAME Unicode scripts. */
  private val NonSpacedScriptChar =
    "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}\\p{IsThai}])"

  /** Whitespace tokenization with a non-spaced-script fallback: pad
    * every Han/Kana/Hangul/Thai codepoint with spaces, split on
    * whitespace, drop empties.
    *
    * The pad only runs when the row contains a non-ASCII byte, gated
    * by `length(text) = octet_length(text)` — in UTF-8 char count
    * equals byte count iff every char is ASCII, and both counts are
    * tight byte loops (no regex). All five padded scripts are
    * non-ASCII, so the branch is semantics-preserving for EVERY
    * input: pure-ASCII text takes the exact pre-round-9 path at the
    * pre-round-9 cost. (Measured at sf0.1: the unconditional Java
    * script-property pad taxed every tokenizing query ~0.1-0.5 s per
    * expression evaluation; an rlike gate re-taxed ~60% of it — the
    * length gate is the one that's actually free.) */
  def tokens(text: Column): Column = {
    val padded = when(length(text) === octet_length(text), text)
      .otherwise(regexp_replace(text, NonSpacedScriptChar, " $1 "))
    // drop empty fragments with array_remove, NOT a filter() lambda:
    // split never emits nulls, so the two are value-identical — but
    // higher-order functions are CodegenFallback, and one lambda in a
    // projection evicts the WHOLE Project (every signal computed
    // alongside the tokens) from whole-stage codegen on every text
    // path in the library
    array_remove(split(padded, "\\s+"), "")
  }

  /** Distinct word n-gram shingles. Empty array when the document has
    * fewer than n tokens (guard needed: Spark `sequence` with start >
    * stop would count backwards). */
  def shingles(text: Column, n: Int): Column = {
    val tk = tokens(text)
    when(size(tk) >= n,
      array_distinct(transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Positional (NON-distinct) word n-gram shingles — one entry per
    * window position, duplicates kept. The diversity/TTR operators need
    * occurrence counts, which [[shingles]]' distinct form would destroy. */
  def shinglesAll(text: Column, n: Int): Column = {
    val tk = tokens(text)
    when(size(tk) >= n,
      transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Deterministic multilingual derivation: append hash-derived accent
    * and CJK suffixes to `text` so that non-ASCII bytes flow through
    * the cross-engine oracle gate (the base corpus fixture is 100%
    * ASCII, which would make NFC and the CJK tokenizer pad identity
    * functions on every oracled row). All arithmetic runs on the shared
    * 60-bit content hash [[h64]], so the DuckDB oracle replays the SAME
    * string byte-for-byte via its codepoint-native `chr` (our twin is
    * the `uchr` expression — Spark's builtin `chr` is mod-256 ASCII).
    *
    * Structure (each suffix hash-gated to ~75% of rows):
    *  - accent token: two hash-picked ASCII letters + one accented
    *    vowel (a/e × grave/acute/circumflex/diaeresis). The ENCODING is
    *    picked by doc_id parity — odd docs emit the DECOMPOSED form
    *    (base letter + U+0300..U+0308 combining mark), even docs the
    *    COMPOSED Latin-1 codepoint — so two docs sharing raw `text` but
    *    differing in parity are byte-different yet NFC-identical: the
    *    composed/decomposed producer split a real multilingual crawl
    *    has (macOS emits NFD filenames), and the case an NFC dedup key
    *    exists to collapse.
    *  - CJK token: two Han (U+4E00+9 bits) + one hiragana (U+3042+6
    *    bits) codepoints, unspaced — the char-level tokenizer pad must
    *    split them or every token-mass metric undercounts.
    * Pure column arithmetic (shifts/mods on a positive 60-bit long), no
    * UDF; one md5 per row. */
  def textI18n(text: Column, docId: Column): Column = {
    val h = h64(text)
    def u(c: Column) = call_function("uchr", c)
    // combining marks U+0300 grave / U+0301 acute / U+0302 circumflex /
    // U+0308 diaeresis; composed Latin-1 offsets 0/1/2/4 (à á â ä / è é ê ë)
    val mark = h % 4
    val markOff = when(mark === 3, lit(8L)).otherwise(mark)
    val vowelE  = shiftright(h, 2) % 2 // 0 → 'a' family, 1 → 'e' family
    val decomposed = concat(u(lit(97L) + vowelE * 4), u(lit(768L) + markOff))
    // Latin-1 layout asymmetry: the a-row skips ã (à á â _ ä → diaeresis
    // at +4) while the e-row is packed (è é ê ë → diaeresis at +3)
    val composed = when(vowelE === 1, u(lit(232L) + mark))
      .otherwise(u(lit(224L) + when(mark === 3, lit(4L)).otherwise(mark)))
    val accent = concat(lit(" "),
      u(lit(97L) + shiftright(h, 27) % 16), u(lit(97L) + shiftright(h, 31) % 16),
      when(docId % 2 === 1, decomposed).otherwise(composed))
    val cjk = concat(lit(" "),
      u(lit(19968L) + shiftright(h, 3) % 512),
      u(lit(12354L) + shiftright(h, 21) % 64),
      u(lit(19968L) + shiftright(h, 12) % 512))
    concat(text,
      when(shiftright(h, 35) % 4 =!= 3, accent).otherwise(lit("")),
      when(shiftright(h, 37) % 4 =!= 3, cjk).otherwise(lit("")))
  }

  /** BPE-ish subword segmentation regex (GPT-2-style word/number/punct
    * classes with common English contractions), restricted to syntax
    * both Java regex and RE2 accept (no lookahead) so the DuckDB oracle
    * tokenizes identically. */
  val BpePattern = "'(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  /** BPE-ish token count — the pre-tokenization segment count a byte-
    * pair encoder would start from (a standard cost estimate for LLM
    * training data). */
  def bpeTokenCount(textCol: String): Column =
    size(expr(s"regexp_extract_all($textCol, \"$BpePattern\", 0)"))

  /** Mean token length in characters. Total token chars = the length
    * of the separator-less join (exact: integer sums are IEEE-exact to
    * 2^53) — NOT an `aggregate()` lambda, which as a higher-order
    * function would evict every projection computing this signal from
    * whole-stage codegen. */
  def meanTokenLen(text: Column): Column = {
    val tk = tokens(text)
    when(size(tk) > 0,
      length(array_join(tk, "")).cast("double") / size(tk))
  }

  /** Fraction of tokens that are in `words` (e.g. stopword ratio — a
    * classic quality / language signal). Hit counting is per-word
    * `size(tk) - size(array_remove(tk, w))` summed — value-identical
    * to the filter-lambda spelling for distinct `words` (a token
    * matches at most one), and codegen-friendly where the lambda is a
    * CodegenFallback higher-order function. */
  def wordRatio(text: Column, words: Seq[String]): Column = {
    val tk = tokens(text)
    val hits = wordHits(tk, words)
    when(size(tk) > 0, hits.cast("double") / size(tk))
  }

  /** Occurrences of any of `words` in the token array. Deduplicates
    * `words` first: each per-word array_remove delta counts EVERY
    * occurrence of that word, so a repeated word would double-count
    * where the old OR-of-equalities filter was idempotent. */
  private def wordHits(tk: Column, words: Seq[String]): Column =
    words.distinct.map(w => size(tk) - size(array_remove(tk, w))).reduce(_ + _)

  /** Fraction of characters that are not [a-zA-Z0-9 ] (punctuation /
    * symbol density). */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[a-zA-Z0-9 ]", "")))
        .cast("double") / length(text))

  val EnStop = Seq("the", "a", "of", "and", "is")

  /** Composite quality score in [0,1]: length saturation + low symbol
    * density + stopword presence — the shape of a fastText-style
    * heuristic filter, fully columnar. The `FromTokens` form takes a
    * materialized token array (see langScoresFromTokens for why). */
  def qualityScoreFromTokens(text: Column, tk: Column): Column = {
    // EnStop IS the en language profile, so the one-pass lang_scores
    // expression already computes hits(EnStop)/size(tk) as its `en`
    // field (0.0 on an empty array, null on a null array — both equal
    // the old spelling after the coalesce below): one bitmask probe
    // per token instead of one array_remove copy per stopword
    val stopR = call_function("lang_scores", tk).getField("en")
    lit(0.4) * least(size(tk).cast("double") / 100.0, lit(1.0)) +
    lit(0.3) * (lit(1.0) - coalesce(punctRatio(text), lit(0.0))) +
    lit(0.3) * least(coalesce(stopR, lit(0.0)) * 5.0, lit(1.0))
  }

  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1, the
    * standard pre-training document filter), columnar per document:
    * word count bounds, mean word length bounds, minimum fraction of
    * words containing an alphabetic character, and a minimum number of
    * distinct required stopwords present. All four signals are emitted
    * alongside the keep flag so downstream can re-threshold without a
    * second scan. */
  def gopherSignals(text: Column): (Column, Column, Column, Column) = {
    val tk = tokens(text)
    val nWords = size(tk)
    val meanLen = meanTokenLen(text)
    val alphaFrac = when(nWords > 0,
      call_function("alpha_tokens", tk).cast("double") / nWords)
    val stopHits = EnStop.map(s => when(array_contains(tk, s), 1).otherwise(0))
      .reduce(_ + _)
    (nWords, meanLen, alphaFrac, stopHits)
  }

  def gopherKeep(nWords: Column, meanLen: Column, alphaFrac: Column,
                 stopHits: Column,
                 minWords: Int = 20, maxWords: Int = 100000,
                 minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                 minAlphaFrac: Double = 0.8, minStopHits: Int = 2): Column =
    nWords >= minWords && nWords <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      coalesce(alphaFrac >= minAlphaFrac, lit(false)) &&
      stopHits >= minStopHits

  /** Language profiles for the n-gram/stopword language-ID heuristic.
    * The `en` profile IS [[EnStop]] (one binding, not two equal
    * lists): qualityScoreFromTokens reads its stopword ratio from
    * `lang_scores.en`, so the two drifting apart would silently shift
    * quality scores — referencing the same val makes that impossible. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> EnStop,
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Language ID: per-language stopword hit ratio, argmax with a
    * deterministic first-wins tie-break in profile order — all from
    * the ONE-PASS `lang_scores` expression (each token does one hash
    * probe into the profile bitmask table). The previous column
    * formulation inlined a stopword array-filter per profile into the
    * argmax tree (~13 structural references before CSE); the scores
    * and the argmax are unchanged value-for-value — hits/size(tk) with
    * null elements counted in the denominator but never hitting, 0.0
    * on an empty or null array, and the null-array pred falls back to
    * the first profile exactly as the old all-0.0 fold did.
    *
    * The `FromTokens` forms take an already-materialized token array:
    * inlining `tokens(text)` would re-run the regexp split wherever
    * the optimizer fails to CSE it. */
  def langScoresFromTokens(tk: Column): Seq[(String, Column)] = {
    val s = call_function("lang_scores", tk)
    LangProfiles.map { case (lang, _) =>
      lang -> coalesce(s.getField(lang), lit(0.0))
    }
  }

  def langIdFromTokens(tk: Column): Column =
    coalesce(call_function("lang_scores", tk).getField("pred"),
      lit(LangProfiles.head._1))

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresFromTokens(tokens(text))

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** h64 hashes of the distinct word n-gram shingles, one tight-loop
    * expression (`shingle_h64s`, [[Hashing.shingleH64s]]) — the scan-time form every dedup
    * fingerprint builds on. Bit-exact with
    * `transform(shingles(text, n), h64)`. */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("shingle_h64s", tokens(text), lit(n))

  /** Document fingerprint: min shingle hash (winnowing-style selection
    * of a representative n-gram hash; robust to small edits, unlike the
    * whole-content hash). Null when no shingles. */
  def minShingleFingerprint(text: Column, n: Int): Column =
    array_min(shingleHashes(text, n))

  /** PII patterns, RE2-safe (no lookahead/backreferences) so the DuckDB
    * oracle's RE2 engine matches Java's java.util.regex exactly. Phone
    * deliberately excludes '.' separators — dotted digit runs are IPs,
    * which get their own tag (order: email → ip → phone). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9 -]{6,}[0-9]"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redact emails, IPv4 addresses, and phone-shaped digit runs with
    * typed tags. Pure `regexp_replace` chain — codegen'd, map-only, and
    * byte-identical across engines (both sides are RE2-compatible). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Match counts per PII class (before redaction). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
    "n_ips"    -> size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))),
    "n_phones" -> size(regexp_extract_all(
      regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"), lit(PhonePattern), lit(0))))

  /** Per-document repetition statistics (Gopher-style quality signals)
    * in one map-side pass (`rep_stats`, [[Hashing.repStats]]): distinct-token count, the
    * most frequent positional 2-gram and its count, and the character
    * mass inside duplicated 3-grams. The relational spelling explodes
    * every n-gram and re-groups per document — two shuffles the
    * per-row form never pays. */
  def repetitionStats(text: Column): Column =
    call_function("rep_stats", tokens(text))

  /** Winnowing fingerprint set (MOSS): distinct ascending window-min
    * hashes over the POSITIONAL n-gram hash sequence with window w —
    * guarantees a shared fingerprint for any common run of ≥ w+n−1
    * tokens. One-pass `winnow_fps` ([[Hashing.winnowFps]]: shingle →
    * hash → deque window-min), no interpreted HOFs. */
  def winnowingFingerprints(text: Column, n: Int, w: Int): Column =
    call_function("winnow_fps", tokens(text), lit(n), lit(w))

  /** Overlapping token-window chunking — the RAG / long-context
    * pretraining splitter: windows of `window` tokens starting every
    * `stride` tokens (overlap = window − stride), last window
    * right-truncated. Map-only (tokenize → per-row explode), no
    * shuffle: the chunk table inherits the corpus partitioning, and at
    * 100 TB the output is written straight back out partitioned the
    * same way. Emits (id, chunk_no, n_tok_chunk, chunk_hash) — the
    * content hash (not the text) is what downstream chunk-level dedup
    * joins on, so chunk text never has to move.
    *
    * Tail policy (deliberate): a window starts at EVERY stride multiple
    * below n, so a doc can end with a chunk shorter than the overlap
    * (100 tokens at window 64 / stride 48 → a 4-token tail). Kept
    * because the invariant "every token's final `window − stride`
    * context appears at the start of some chunk" is what sliding-window
    * pretraining wants, and dropping tails silently loses end-of-doc
    * tokens from short docs. RAG splitters that want tails gone filter
    * `n_tok_chunk > window − stride` downstream — a filter on the
    * emitted column, not a second pass. */
  def chunkDocs(docs: DataFrame, id: String, text: String,
                window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    docs.select(col(id), tokens(col(text)).as("__tk"))
      .withColumn("__n", size(col("__tk")))
      .filter(col("__n") > 0)
      .select(col(id),
        posexplode(transform(
          sequence(lit(0), floor((col("__n") - 1) / stride).cast("int")),
          i => slice(col("__tk"), i * stride + 1, lit(window))))
          .as(Seq("chunk_no", "__chunk")))
      .select(col(id), col("chunk_no"),
        size(col("__chunk")).as("n_tok_chunk"),
        h64(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
  }
}
