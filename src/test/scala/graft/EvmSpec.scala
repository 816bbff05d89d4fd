package graft

import graft.evm.{AbiCodec, AbiSchema, Keccak}
import org.scalatest.funsuite.AnyFunSuite
import java.math.BigInteger

/** Keccak + ABI codec against public test vectors (no Spark needed). */
class EvmSpec extends AnyFunSuite {

  test("keccak256 standard vectors") {
    assert(Keccak.hex(Keccak.hash256(Array.emptyByteArray)) ==
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert(Keccak.hex(Keccak.hash256("abc".getBytes("UTF-8"))) ==
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    // > one rate block (136 bytes) to exercise multi-block absorb
    val long = Array.fill[Byte](200)('a'.toByte)
    assert(Keccak.hash256(long).length == 32)
  }

  test("canonical event topic0 hashes (ERC-20 / Ownable)") {
    assert(Keccak.eventTopic0("Transfer(address,address,uint256)") ==
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert(Keccak.eventTopic0("Approval(address,address,uint256)") ==
      "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925")
    assert(Keccak.eventTopic0("OwnershipTransferred(address,address)") ==
      "0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0")
  }

  test("abi word decode: address, uint, negative int, bool") {
    val addr = AbiCodec.encodeWord("0x00000000000000000000000000000000000000ff", "address")
    assert(AbiCodec.decodeWord(addr, "address") ==
      "0x00000000000000000000000000000000000000ff")
    val u = AbiCodec.encodeWord(BigInteger.valueOf(123456789L), "uint256")
    assert(AbiCodec.decodeWord(u, "uint256").asInstanceOf[java.math.BigDecimal]
      .longValueExact() == 123456789L)
    val n = AbiCodec.encodeWord(BigInteger.valueOf(-42), "int24")
    assert(AbiCodec.decodeWord(n, "int24").asInstanceOf[java.math.BigDecimal]
      .longValueExact() == -42L)
    val b = AbiCodec.encodeWord(true, "bool")
    assert(AbiCodec.decodeWord(b, "bool") == java.lang.Boolean.TRUE)
  }

  test("Keccak.hex equals the per-byte Formatter rendering it replaced") {
    val rnd = new scala.util.Random(20261018)
    val cases = Seq(Array.emptyByteArray, Array.tabulate[Byte](256)(_.toByte)) ++
      Seq.fill(500)(Array.fill(rnd.nextInt(100))(rnd.nextInt(256).toByte))
    for (b <- cases) assert(Keccak.hex(b) == b.map(x => f"${x & 0xff}%02x").mkString)
  }

  test("indexed dynamic params decode the topic's keccak hash word") {
    val h = Keccak.hash256("some payload".getBytes("UTF-8"))
    val hexed = "0x" + Keccak.hex(h)
    // string/bytes/array/tuple topics carry keccak256(value), not the
    // value — the decoder surfaces the hash instead of nulling it
    assert(AbiCodec.decodeWord(h, "string") == hexed)
    assert(AbiCodec.decodeWord(h, "bytes") == hexed)
    assert(AbiCodec.decodeWord(h, "uint256[]") == hexed)
    assert(AbiCodec.decodeWord(h, "(address,uint256)[]") == hexed)
  }

  test("uint256 overflow policy: >38 digits decodes to null (hex fallback upstream)") {
    val max = new BigInteger("2").pow(256).subtract(BigInteger.ONE) // 78 digits
    val w = AbiCodec.encodeWord(max, "uint256")
    assert(AbiCodec.decodeWord(w, "uint256") == null)
    // but a 38-digit value still fits
    val fit = new BigInteger("9" * 38)
    assert(AbiCodec.decodeWord(AbiCodec.encodeWord(fit, "uint256"), "uint256") != null)
  }

  test("abi data decode: static words + dynamic string tail") {
    // (uint256=7, string="hi"): head = [7, offset=64], tail = [len=2, "hi" padded]
    val head = AbiCodec.encodeWord(BigInteger.valueOf(7), "uint256") ++
      AbiCodec.encodeWord(BigInteger.valueOf(64), "uint256")
    val tail = AbiCodec.encodeWord(BigInteger.valueOf(2), "uint256") ++
      java.util.Arrays.copyOf("hi".getBytes("UTF-8"), 32)
    val out = AbiCodec.decodeData(head ++ tail, Seq("uint256", "string"))
    assert(out(0).asInstanceOf[java.math.BigDecimal].longValueExact() == 7L)
    assert(out(1) == "hi")
  }

  test("malformed data decodes to nulls, not failure (P7)") {
    val out = AbiCodec.decodeData(Array[Byte](1, 2, 3), Seq("uint256", "address"))
    assert(out.forall(_ == null))
  }

  test("dynamic arrays: T[] offset/length tail walk round-trips") {
    def dec(v: Any): Long = v.asInstanceOf[java.math.BigDecimal].longValueExact()
    // (uint256[]=[1,2,3], address, int256[]=[-5]) — two tails, one static between
    val amounts = Seq(BigInteger.valueOf(1), BigInteger.valueOf(2), BigInteger.valueOf(3))
    val addr = "0x00000000000000000000000000000000000000aa"
    val negs = Seq(BigInteger.valueOf(-5))
    val data = AbiCodec.encodeData(Seq(amounts, addr, negs),
      Seq("uint256[]", "address", "int256[]"))
    val out = AbiCodec.decodeData(data, Seq("uint256[]", "address", "int256[]"))
    assert(out(0).asInstanceOf[Array[Any]].map(dec).toSeq == Seq(1L, 2L, 3L))
    assert(out(1) == addr)
    assert(out(2).asInstanceOf[Array[Any]].map(dec).toSeq == Seq(-5L))
    // empty array decodes to an empty array, not null
    val empty = AbiCodec.encodeData(Seq(Seq.empty[Any]), Seq("uint256[]"))
    assert(AbiCodec.decodeData(empty, Seq("uint256[]"))(0)
      .asInstanceOf[Array[Any]].isEmpty)
  }

  test("fixed arrays T[k] decode in place; heads advance by k words") {
    def dec(v: Any): Long = v.asInstanceOf[java.math.BigDecimal].longValueExact()
    // (int256[2], uint256): 3 head words total, no tail
    val data = AbiCodec.encodeData(
      Seq(Seq(BigInteger.valueOf(10), BigInteger.valueOf(-20)), BigInteger.valueOf(7)),
      Seq("int256[2]", "uint256"))
    assert(data.length == 3 * 32)
    val out = AbiCodec.decodeData(data, Seq("int256[2]", "uint256"))
    assert(out(0).asInstanceOf[Array[Any]].map(dec).toSeq == Seq(10L, -20L))
    assert(dec(out(1)) == 7L)
  }

  test("address[] / bytes32-element arrays and lying lengths") {
    val addrs = Seq("0x" + "1" * 40, "0x" + "2" * 40)
    val data = AbiCodec.encodeData(Seq(addrs), Seq("address[]"))
    val out = AbiCodec.decodeData(data, Seq("address[]"))
    assert(out(0).asInstanceOf[Array[Any]].toSeq == addrs)
    // a length word claiming more elements than the payload holds nulls
    // the field instead of decoding garbage (P7)
    val lying = data.clone()
    lying(63) = 0x7f // length word (second word of the tail head) → 127
    assert(AbiCodec.decodeData(lying, Seq("address[]"))(0) == null)
  }

  test("arrays of dynamic elements: string[] nested offset regions") {
    val strs = Seq("alpha", "a longer string spilling past one 32-byte word", "")
    val data = AbiCodec.encodeData(Seq(strs, BigInteger.valueOf(9)),
      Seq("string[]", "uint256"))
    val out = AbiCodec.decodeData(data, Seq("string[]", "uint256"))
    assert(out(0).asInstanceOf[Array[Any]].toSeq == strs)
    assert(out(1).asInstanceOf[java.math.BigDecimal].longValueExact() == 9L)
    // garbage element offsets null the ELEMENT, not the whole array
    val junk = AbiCodec.encodeData(Seq(Seq("ok")), Seq("string[]"))
    junk(70) = 0x7f // first element-offset word → far past the payload
    val arr = AbiCodec.decodeData(junk, Seq("string[]"))(0).asInstanceOf[Array[Any]]
    assert(arr.length == 1 && arr(0) == null)
  }

  test("tuples: static in place, dynamic via tail; arrays of tuples") {
    def dec(v: Any): Long = v.asInstanceOf[java.math.BigDecimal].longValueExact()
    val addr = "0x00000000000000000000000000000000000000bb"
    // static tuple sits in its enclosing head region (3 words, no tail)
    val st = AbiCodec.encodeData(
      Seq(Seq(BigInteger.valueOf(3), addr), BigInteger.valueOf(4)),
      Seq("(uint256,address)", "uint256"))
    assert(st.length == 3 * 32)
    val sOut = AbiCodec.decodeData(st, Seq("(uint256,address)", "uint256"))
    val sTup = sOut(0).asInstanceOf[Array[Any]]
    assert(dec(sTup(0)) == 3L && sTup(1) == addr && dec(sOut(1)) == 4L)
    // dynamic tuple (has a string) goes through an offset head
    val dt = AbiCodec.encodeData(
      Seq(Seq(BigInteger.valueOf(7), "name")), Seq("(uint256,string)"))
    val dTup = AbiCodec.decodeData(dt, Seq("(uint256,string)"))(0)
      .asInstanceOf[Array[Any]]
    assert(dec(dTup(0)) == 7L && dTup(1) == "name")
    // array of dynamic tuples: nested regions all the way down
    val rows = Seq(Seq(BigInteger.valueOf(1), "a"), Seq(BigInteger.valueOf(2), "bb"))
    val at = AbiCodec.encodeData(Seq(rows), Seq("(uint256,string)[]"))
    val aOut = AbiCodec.decodeData(at, Seq("(uint256,string)[]"))(0)
      .asInstanceOf[Array[Any]]
    assert(aOut.length == 2)
    val r0 = aOut(0).asInstanceOf[Array[Any]]
    val r1 = aOut(1).asInstanceOf[Array[Any]]
    assert(dec(r0(0)) == 1L && r0(1) == "a")
    assert(dec(r1(0)) == 2L && r1(1) == "bb")
    // tuple with a trailing fixed array keeps its bracket inside parens
    assert(AbiCodec.isStatic("(uint256,bytes32[4])"))
    assert(AbiCodec.headWords("(uint256,bytes32[4])") == 5)
    assert(!AbiCodec.isStatic("(uint256,bytes)"))
  }

  test("ABI JSON → event schema, signature, topic0") {
    val json =
      """[{"type":"event","name":"Transfer","anonymous":false,"inputs":[
           {"indexed":true,"name":"from","type":"address"},
           {"indexed":true,"name":"to","type":"address"},
           {"indexed":false,"name":"value","type":"uint256"}]},
          {"type":"function","name":"transfer","inputs":[]}]"""
    val events = AbiSchema.parse(json)
    assert(events.length == 1)
    val t = events.head
    assert(t.signature == "Transfer(address,address,uint256)")
    assert(t.topic0 == "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert(t.indexedParams.map(_.name) == Seq("from", "to"))
    assert(t.structType.fieldNames.take(6).toSeq ==
      Seq("tx_hash", "block_number", "contract", "contract_name", "event_name", "chain_id"))
    assert(AbiSchema.topicIndex(events).contains(t.topic0))
  }

  test("ABI JSON tuples canonicalize to (T1,T2,…) with struct schema") {
    import org.apache.spark.sql.types._
    val json =
      """[{"type":"event","name":"OrderPlaced","inputs":[
           {"indexed":true,"name":"maker","type":"address"},
           {"indexed":false,"name":"order","type":"tuple","components":[
             {"name":"amount","type":"uint256"},
             {"name":"legs","type":"tuple[]","components":[
               {"name":"token","type":"address"},
               {"name":"qty","type":"uint128"}]}]}]}]"""
    val ev = AbiSchema.parse(json).head
    assert(ev.signature ==
      "OrderPlaced(address,(uint256,(address,uint128)[]))")
    val orderField = ev.structType("order")
    val st = orderField.dataType.asInstanceOf[StructType]
    assert(st("f0").dataType == DecimalType(38, 0))
    val legs = st("f1").dataType.asInstanceOf[ArrayType]
    val leg = legs.elementType.asInstanceOf[StructType]
    assert(leg("f0").dataType == StringType)
    assert(leg("f1").dataType == DecimalType(38, 0))
  }
}

/** Registered SQL functions through a real session. */
class EvmSqlSpec extends SparkSpec {

  test("ecrecover_sender recovers the tx signer via SQL (J2)") {
    import graft.evm.{Keccak, Secp256k1}
    import java.math.BigInteger
    val priv = new BigInteger("1234567890abcdef", 16)
    val expected = Secp256k1.address(Secp256k1.mul(priv, Secp256k1.G).get)
    val msg = Keccak.hash256("payload".getBytes("UTF-8"))
    val (r, s, recId) = Secp256k1.sign(msg, priv,
      new BigInteger("deadbeefcafe1234", 16))
    def hex(b: Array[Byte]) = Keccak.hex(b)
    def pad32(b: BigInteger) = f"${b.toString(16)}%64s".replace(' ', '0')
    val got = spark.sql(
      s"""SELECT ecrecover_sender(unhex('${hex(msg)}'),
            unhex('${pad32(r)}'), unhex('${pad32(s)}'), $recId) AS sender,
          ecrecover_sender(unhex('${hex(msg)}'),
            unhex('${"0" * 64}'), unhex('${pad32(s)}'), $recId) AS bad
        """).head()
    assert(got.getString(0) == expected)
    assert(got.isNullAt(1)) // invalid r → null, row survives (best-effort)
  }
  test("raw_params escape hatch: unknown events flow through, known + unknown partition the input") {
    import graft.evm.{Keccak, LogPipeline}
    val logs = LogPipeline.synthesizeLogs(
      graft.Tables.events(spark, "/root/testdata/sf0.001"))
    val known = Seq(Keccak.eventTopic0(LogPipeline.TransferSig))
    val unknown = LogPipeline.decodeUnknown(logs, known, "1")
    val decoded = LogPipeline.decodeEvent(logs, LogPipeline.Transfer, "Token", "1")
    // nothing is dropped: every input log lands in exactly one side
    assert(unknown.count() + decoded.count() == logs.count())
    assert(unknown.count() > 0, "no unknown events in fixture")
    val row = unknown.orderBy("tx_hash").limit(1)
      .collect()(0)
    assert(row.getAs[String]("contract_name") == null)
    val m = row.getAs[Map[String, String]]("raw_params")
    // topic3 is absent in the synthesis → map_filter drops it; the
    // rest are lossless hex renders
    assert(m.keySet == Set("topic0", "topic1", "topic2", "data"))
    assert(m("topic0") == Keccak.eventTopic0(LogPipeline.ApprovalSig))
    assert(m("topic1").startsWith("0x") && m("topic1").length == 66)
    assert(m("data").startsWith("0x"))
  }

  test("uint256_sum: arbitrary-precision sum matches BigInt reference beyond 1e38") {
    import graft.evm.LogPipeline
    import org.apache.spark.sql.functions.{call_function, col}
    val logs = LogPipeline.synthesizeWhaleLogs(
      graft.Tables.events(spark, "/root/testdata/sf0.001"))
    // driver-side reference: exact BigInt over the raw 32-byte words
    val ref = logs.select(col("token"), col("data")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.map(r => BigInt(1, r.getAs[Array[Byte]](1))).sum
      }
    assert(ref.values.exists(_ > BigInt(10).pow(38)),
      "fixture must contain >1e38 values to exercise the full range")
    val got = logs.groupBy("token")
      .agg(call_function("uint256_sum", col("data")).as("total"))
      .collect().map(r => r.getString(0) -> BigInt(r.getString(1))).toMap
    assert(got == ref, "uint256_sum diverges from BigInt reference")
    // and the limb decomposition reconstructs the same totals
    val limbs = logs
      .select(col("token"), LogPipeline.uint256Limbs(col("data")).as("lb"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.map { r =>
          val lb = r.getSeq[Long](1)
          lb.zipWithIndex.map { case (v, i) => BigInt(v) << (32 * i) }.sum
        }.sum
      }
    assert(limbs == ref, "limb decomposition diverges from raw words")
  }

  test("keccak256 / evm_topic0 / abi_decode_* are callable from SQL") {
    val r = spark.sql(
      """SELECT evm_topic0('Transfer(address,address,uint256)') AS t0,
           hex(keccak256(cast('abc' AS BINARY))) AS k,
           abi_decode_word(unhex(repeat('0', 62) || '2a'), 'uint256') AS v,
           abi_decode_data(unhex(repeat('0', 62) || '07'), 'uint256').arg0 AS d0
      """).collect()(0)
    assert(r.getString(0) ==
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert(r.getString(1).toLowerCase ==
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    assert(r.getDecimal(2).longValueExact() == 42L)
    assert(r.getDecimal(3).longValueExact() == 7L)
  }
}
