package graft.evm

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernels of the EVM SQL functions ([[graft.SqlFunctions]]), called
  * from BOTH interpreted eval and generated code, one static call per
  * call site. ONE CodegenFallback expression evicts its whole Project
  * from whole-stage codegen, and the EVM decode projection is the hot
  * path of the indexer; one body per kernel means codegen and
  * interpreted eval cannot diverge. */
object AbiRt {
  /** `abi_decode_word`'s result type for one ABI type: numeric →
    * decimal(38,0), bool → boolean, else string. Reference types in a
    * topic are a keccak hash word → hex string (uint256[] must not fall
    * through to the uint branch). */
  def wordType(abiType: String): DataType =
    if (AbiCodec.arrayOf(abiType).isDefined ||
        AbiCodec.tupleOf(abiType).isDefined) StringType
    else scalarType(abiType)

  private def scalarType(t: String): DataType = t match {
    case x if x.startsWith("uint") || x.startsWith("int") => DecimalType(38, 0)
    case "bool" => BooleanType
    case _ => StringType
  }

  private def fieldType(t: String): DataType = AbiCodec.arrayOf(t) match {
    case Some((elem, _)) => ArrayType(fieldType(elem))
    case None => AbiCodec.tupleOf(t) match {
      case Some(cs) => StructType(cs.zipWithIndex.map { case (c, i) =>
        StructField(s"f$i", fieldType(c))
      })
      case None => scalarType(t)
    }
  }

  /** `abi_decode_data`'s result type: struct<arg0, arg1, …>, one field
    * per ABI type of the list. */
  def dataType(types: Seq[String]): DataType = StructType(
    types.zipWithIndex.map { case (t, i) => StructField(s"arg$i", fieldType(t)) })

  /** `abi_decode_word`: decode one 32-byte word as `abiType` (P5),
    * converted to the Catalyst-internal value; null on decode failure or
    * overflow (compose `coalesce(abi_decode_word(t, …), hex(t))` for the
    * reference's raw-hex fallback, parser.go:100-102). */
  def decodeWordConv(w: Array[Byte], abiType: String): AnyRef =
    AbiCodec.decodeWord(w, abiType) match {
      case null => null
      case s: String => UTF8String.fromString(s)
      case d: java.math.BigDecimal => Decimal(d, 38, 0)
      case o => o.asInstanceOf[AnyRef]
    }

  // type-directed: a decoded Array[Any] is a Catalyst array for
  // T[]/T[k] but an InternalRow for tuples
  private def convert(v: Any, t: String): Any = v match {
    case null => null
    case arr: Array[Any] => AbiCodec.arrayOf(t) match {
      case Some((elem, _)) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          arr.map(convert(_, elem)))
      case None => AbiCodec.tupleOf(t) match {
        case Some(cs) => InternalRow.fromSeq(
          arr.toIndexedSeq.zip(cs).map { case (x, c) => convert(x, c) })
        case None => null
      }
    }
    case s: String => UTF8String.fromString(s)
    case bd: java.math.BigDecimal => Decimal(bd, 38, 0)
    case o => o
  }

  /** `abi_decode_data`: decode the data blob against the pre-split type
    * list into one InternalRow (P4). Static types are word-indexed;
    * string/bytes follow head offsets. Malformed fields decode to null
    * instead of failing the row (P7), so a non-null blob always gives a
    * row. */
  def decodeDataRow(d: Array[Byte], types: Seq[String]): InternalRow =
    InternalRow.fromSeq(AbiCodec.decodeData(d, types)
      .toIndexedSeq.zip(types).map { case (v, t) => convert(v, t) })

  /** `hex0x`: "0x" + lowercase hex of a binary value, the lossless raw
    * rendering of a log's payload and topics (`data_hex`, `raw_params`).
    * Same strings as `concat('0x', lower(hex(x)))`, without `lower`'s
    * collation-aware (ICU) path. */
  def hex0x(b: Array[Byte]): UTF8String =
    UTF8String.fromString("0x" + Keccak.hex(b))

  /** `evm_topic0`: the "0x…" topic hash of an event signature; folds to a
    * constant on a literal signature (the plan-time precomputation the
    * reference does in `indexer.go:54-88`). */
  def topic0(signature: UTF8String): UTF8String =
    UTF8String.fromString(Keccak.eventTopic0(signature.toString))

  /** `ecrecover_sender`: best-effort signer address recovery (J2) — any
    * invalid input (bad point, bad recId, out-of-range scalars) yields
    * null, never an exception (parser.go:152-159's tolerance). The
    * indexer still recovers once per DISTINCT transaction and
    * broadcast-joins the result. */
  def ecrecover(h: Array[Byte], r: Array[Byte], s: Array[Byte],
                recId: Int): UTF8String =
    try {
      val addr = Secp256k1.recoverAddress(h,
        new java.math.BigInteger(1, r), new java.math.BigInteger(1, s), recId)
      if (addr == null) null else UTF8String.fromString(addr)
    } catch { case _: Exception => null }
}
