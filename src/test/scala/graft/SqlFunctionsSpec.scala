package graft

import java.math.BigInteger
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every scalar graft SQL function over one fixture with nulls, empty
  * and malformed inputs, read through a parquet scan (a Seq-backed
  * frame would constant-fold at plan time). For each call: interpreted
  * eval equals generated code, the call sits inside a WholeStageCodegen
  * span, and the rows match a pinned digest, so a kernel or declaration
  * change that alters any value fails here. */
class SqlFunctionsSpec extends SparkSpec {
  import graft.evm.{Keccak, Secp256k1}

  private val Aggregates = Set("kmv_distinct", "gram_fx", "uint256_sum", "bottomk_sample")

  /** (function, call over the fixture columns, pinned row digest). */
  private val calls: Seq[(String, String, String)] = Seq(
    ("keccak256", "keccak256(b)", "daae1191d6f231c9"),
    ("hex0x", "hex0x(b)", "da649d0d5e1d3171"),
    ("evm_topic0", "evm_topic0(s)", "d7e958d6882b6eee"),
    ("abi_decode_word", "abi_decode_word(w, 'uint256')", "cef5637de181c875"),
    ("abi_decode_word", "abi_decode_word(w, 'address')", "cefd9ba5e388215d"),
    ("abi_decode_word", "abi_decode_word(w, 'bool')", "a3663215f35305b5"),
    ("abi_decode_data", "abi_decode_data(d, 'uint256,bool,string')", "5f79f30c419e027f"),
    ("ecrecover_sender", "ecrecover_sender(h, r, sg, v)", "a738f4e68766f5c3"),
    ("vec_dot", "vec_dot(dv, dv2)", "30379e4eb072fabd"),
    ("vec_dot_long", "vec_dot_long(lv, lv2)", "1d6b064e0ec382dc"),
    ("vec_fixp", "vec_fixp(dv)", "f0ebd792dc2744bf"),
    ("shingle_h64s", "shingle_h64s(tk, 2)", "9a860af13ac75181"),
    ("shingle_h64s_all", "shingle_h64s_all(tk, 2)", "94324d83812b0c41"),
    ("shingle_pairs", "shingle_pairs(tk, 2)", "393b20dd5ceaee90"),
    ("cdc_chunk_h64s", "cdc_chunk_h64s(tk, 3)", "ccdc64bc9c55d617"),
    ("minhash_sig", "minhash_sig(lv, 4)", "889032d0ac6fec76"),
    ("winnow_fps", "winnow_fps(tk, 2, 3)", "b2583282eea918d5"),
    ("simhash64", "simhash64(tk, 16)", "ec532141f91dfb36"),
    ("rep_stats", "rep_stats(tk)", "e1a19680046cc01e"),
    ("drop_repeated_windows", "drop_repeated_windows(tk, 2)", "199ab009cea003bb"),
    ("nfc_normalize", "nfc_normalize(s)", "13ecffd9c6a6bcff"),
    ("uchr", "uchr(cp)", "84128e09619146d3"),
    ("uchr", "uchr(cpl)", "37c60b75b280acdd"),
    ("sig_agree", "sig_agree(lv, lv2)", "967c7e3e04369d76"),
    ("alpha_tokens", "alpha_tokens(tk)", "c17d87b969fcccdd"),
    ("lang_scores", "lang_scores(tk)", "738d5843b325094f"))

  private lazy val fixture: String = {
    val priv = new BigInteger("1234567890abcdef", 16)
    val msg = Keccak.hash256("payload".getBytes("UTF-8"))
    val (r, s, recId) = Secp256k1.sign(msg, priv, new BigInteger("deadbeefcafe1234", 16))
    def bi32(b: BigInteger): Array[Byte] = {
      val raw = b.toByteArray.dropWhile(_ == 0)
      Array.fill[Byte](32 - raw.length)(0) ++ raw
    }
    def word(v: Int): Array[Byte] = Array.fill[Byte](31)(0) :+ v.toByte
    // uint256 = 7, bool = true, string "hi" behind its head offset
    val data = word(7) ++ word(1) ++ word(96) ++ word(2) ++
      ("hi".getBytes("UTF-8") ++ Array.fill[Byte](30)(0))
    val tokens = "the cat sat on the mat the cat sat on the mat and la de".split(" ").toSeq
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("b", BinaryType),
      StructField("s", StringType), StructField("w", BinaryType),
      StructField("d", BinaryType), StructField("h", BinaryType),
      StructField("r", BinaryType), StructField("sg", BinaryType),
      StructField("v", IntegerType),
      StructField("dv", ArrayType(DoubleType)), StructField("dv2", ArrayType(DoubleType)),
      StructField("lv", ArrayType(LongType)), StructField("lv2", ArrayType(LongType)),
      StructField("tk", ArrayType(StringType)),
      StructField("cp", IntegerType), StructField("cpl", LongType)))
    val rows = Seq(
      // well-formed everything
      Row(1L, "payload".getBytes("UTF-8"), "Transfer(address,address,uint256)",
        word(42), data, msg, bi32(r), bi32(s), recId,
        Seq(1.5, -2.0, 0.1234567), Seq(4.0, 0.5, 3.0),
        Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), tokens, 0xE9, 0x1F600L),
      // malformed word and data, zero r, bad recovery id, null elements
      Row(2L, Array.emptyByteArray, "e\u0301te", Array[Byte](1, 2, 3),
        Array.fill[Byte](5)(9), msg, Array.fill[Byte](32)(0), bi32(s), 7,
        Seq(null, 2.0, Double.NaN), Seq(3.0),
        Seq(null, 7L, 9L), Seq(8L, 7L, null),
        Seq(null, "Der", "die", "und", null, "das", "die", "und"), 0x4E2D, 65L),
      // empty inputs
      Row(3L, Array.tabulate[Byte](256)(_.toByte), "", Array.fill[Byte](32)(0),
        Array.emptyByteArray, Array.fill[Byte](32)(1), bi32(r), bi32(s), 0,
        Seq.empty[Double], Seq.empty[Double], Seq.empty[Long], Seq.empty[Long],
        Seq.empty[String], 97, 0x10FFFFL),
      // nulls everywhere
      Row(4L, null, null, null, null, null, null, null, null,
        null, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("sqlfns").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def frame(call: String): DataFrame =
    spark.read.parquet(fixture).select(col("id"), expr(call).as("r"))

  /** A value as text: binary as hex, nested rows and arrays element-wise. */
  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => Keccak.hex(b)
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case o => o.toString
  }

  private def rows(df: DataFrame, interpreted: Boolean): Seq[String] = {
    val confs = if (interpreted)
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    else Nil
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.orderBy("id").collect().toSeq.map(r => s"${r.getLong(0)}:${show(r.get(1))}")
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def digest(rows: Seq[String]): String =
    Keccak.hex(Keccak.hash256(rows.mkString("\n").getBytes("UTF-8"))).take(16)

  test("the calls cover every registered scalar graft function") {
    val scalar = spark.catalog.listFunctions().collect()
      .filter(f => f.className != null && f.className.startsWith("graft."))
      .map(_.name).toSet -- Aggregates
    assert(calls.map(_._1).toSet == scalar)
  }

  for ((fn, call, pinned) <- calls)
    test(s"$call: interpreted eval equals codegen, inside a WholeStageCodegen span") {
      val df = frame(call)
      val generated = rows(df, interpreted = false)
      assert(rows(df, interpreted = true) == generated,
        "codegen and interpreted eval disagree")
      assert(generated.size == 4 && generated.last == "4:null", generated)
      val p = df.queryExecution.executedPlan.toString
      val line = p.linesIterator.find(_.contains(s"$fn("))
      assert(line.exists(_.replaceFirst("^[\\s+:*-]*", "").startsWith("(")),
        s"$fn not inside a WholeStageCodegen span:\n$p")
      assert(digest(generated) == pinned, generated.mkString("\n"))
    }
}
