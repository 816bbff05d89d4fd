package graft

import org.apache.spark.sql.SparkSession

/** Generator for docs/SQL_FUNCTIONS.md — the SQL-callable operator
  * catalog, derived from the LIVE function registry (everything
  * GraftExtensions injected, i.e. every function whose implementing
  * class lives under `graft.`), not from a hand-maintained list.
  * SqlCatalogSpec regenerates the table and diffs it against the
  * committed file, and fails if a registered function is missing a
  * description here — so the published surface cannot silently drift
  * from the registered one as functions are added. */
object SqlCatalog {

  /** One line per function; a registered function absent from this map
    * FAILS SqlCatalogSpec (document it or don't ship it). */
  val descriptions: Map[String, (String, String)] = Map(
    // name -> (signature, one-line description)
    "keccak256" -> ("keccak256(bytes) -> string",
      "Keccak-256 digest as 0x-hex; constant-folds on literals"),
    "hex0x" -> ("hex0x(bytes) -> string",
      "'0x' + lowercase hex of a binary value (data_hex); same as concat('0x', lower(hex(x)))"),
    "evm_topic0" -> ("evm_topic0(signature) -> string",
      "Event-signature hash (topic0) of e.g. 'Transfer(address,address,uint256)'"),
    "abi_decode_word" -> ("abi_decode_word(hex, kind) -> string",
      "Decode one 32-byte ABI word as address/uint/int/bool/bytes32"),
    "abi_decode_data" -> ("abi_decode_data(hex, types_csv) -> array<string>",
      "Decode an ABI data blob (static+dynamic heads/tails) into string fields"),
    "ecrecover_sender" -> ("ecrecover_sender(msg_hash, sig_r, sig_s, rec_id) -> string",
      "Recover the signer's address from a secp256k1 signature over a 32-byte hash; null if invalid"),
    "vec_dot" -> ("vec_dot(array<float>, array<float>) -> double",
      "Dense dot product over float vectors (codegen, no UDF boxing)"),
    "vec_dot_long" -> ("vec_dot_long(array<bigint>, array<bigint>) -> bigint",
      "Exact integer dot product — the oracle-stable similarity kernel"),
    "shingle_h64s" -> ("shingle_h64s(tokens, n) -> array<bigint>",
      "Distinct 60-bit hashes of word n-grams (the dedup shingle set)"),
    "shingle_h64s_all" -> ("shingle_h64s_all(tokens, n) -> array<bigint>",
      "All (non-distinct) n-gram hashes in order, for positional ops"),
    "shingle_pairs" -> ("shingle_pairs(tokens, n) -> array<struct>",
      "(hash, position) pairs per n-gram — the winnowing input"),
    "cdc_chunk_h64s" -> ("cdc_chunk_h64s(tokens, mask) -> array<bigint>",
      "Content-defined-chunking boundaries via rolling hash & mask"),
    "minhash_sig" -> ("minhash_sig(h64s, k) -> array<bigint>",
      "k-permutation MinHash signature of a shingle-hash set"),
    "winnow_fps" -> ("winnow_fps(tokens, n, w) -> array<bigint>",
      "Winnowing fingerprints: per-window minimum n-gram hashes"),
    "simhash64" -> ("simhash64(tokens, bits) -> bigint",
      "SimHash of the token multiset (bit-majority of feature hashes)"),
    "rep_stats" -> ("rep_stats(tokens) -> struct",
      "Repetition diagnostics: top n-gram share, duplicate-line fraction"),
    "drop_repeated_windows" -> ("drop_repeated_windows(tokens, w) -> array<string>",
      "Within-document dedup: drop re-occurrences of any seen w-window"),
    "kmv_distinct" -> ("kmv_distinct(hash, k) AGG -> double",
      "K-minimum-values distinct-count estimate (exact below k)"),
    "gram_fx" -> ("gram_fx(array<bigint>) AGG -> array<bigint>",
      "Mergeable Gram-matrix accumulator (sum of v-v-transpose, row-major)"),
    "uint256_sum" -> ("uint256_sum(word32) AGG -> string",
      "Arbitrary-precision sum of raw 32-byte uint256 words, decimal string"),
    "bottomk_sample" -> ("bottomk_sample(key, value, k) AGG -> array<bigint>",
      "Order-independent uniform value sample: k smallest hash keys (quantile sketch)"),
    "nfc_normalize" -> ("nfc_normalize(string) -> string",
      "Unicode NFC composition (ASCII fast-path identity) — the dedup-key normalizer"),
    "uchr" -> ("uchr(codepoint) -> string",
      "Unicode codepoint to its one-char string (builtin chr is byte-bound mod 256)"),
    "lang_scores" -> ("lang_scores(tokens) -> struct",
      "Per-language stopword-hit scores + first-wins argmax pred, one array pass"),
    "alpha_tokens" -> ("alpha_tokens(tokens) -> int",
      "Tokens containing an ASCII letter (codegen twin of rlike [A-Za-z] filter)"),
    "vec_fixp" -> ("vec_fixp(array<double>) -> array<bigint>",
      "Fixed-point micro-unit vector: round(x*1e6) HALF_UP per element"),
    "sig_agree" -> ("sig_agree(sig_a, sig_b) -> int",
      "Equal non-null positions of two MinHash signatures (est_jaccard numerator)"))

  /** All graft-implemented functions in the session registry. */
  def registered(spark: SparkSession): Seq[(String, String)] =
    spark.catalog.listFunctions().collect()
      .filter(f => f.className != null && f.className.startsWith("graft."))
      .map(f => (f.name, f.className)).toSeq.sortBy(_._1)

  /** The markdown table, generated. */
  def render(spark: SparkSession): String = {
    val rows = registered(spark).map { case (name, cls) =>
      val (sig, desc) = descriptions.getOrElse(name,
        (s"$name(…)", "UNDOCUMENTED — add to SqlCatalog.descriptions"))
      s"| `$name` | `$sig` | $desc | `$cls` |"
    }
    ("""# SQL-callable operator catalog
      |
      |Generated by `graft.SqlCatalog` from the live function registry
      |(`GraftExtensions`); `SqlCatalogSpec` fails the build when this
      |file drifts from the registered surface. Regenerate with:
      |`sbt "runMain graft.SqlCatalog"`.
      |
      || function | signature | description | implementation |
      ||---|---|---|---|
      |""".stripMargin + rows.mkString("\n") + "\n")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("2")
    val out = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "docs/SQL_FUNCTIONS.md")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, render(spark))
    println(s"[sql-catalog] wrote $out")
    spark.stop()
  }
}
