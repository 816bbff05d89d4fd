package graft.evm

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String

/** Static eval twins of the ABI-decode expressions, called from BOTH
  * interpreted eval and generated code (the HashExpressions pattern —
  * `HashExpressions.scala` documents the eviction rule: ONE
  * CodegenFallback expression evicts its whole Project from
  * whole-stage codegen, and the EVM decode projection is the hot path
  * of the 100 TB indexer use-case). One body per twin means codegen
  * and interpreted eval cannot diverge. */
object AbiRt {
  /** [[AbiDecodeWordExpr]]: decode one 32-byte word as `abiType`,
    * converted to the Catalyst-internal value; null on failure. */
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

  /** [[AbiDecodeDataExpr]]: decode the data blob against the
    * pre-split type list into one InternalRow (malformed fields
    * decode to null instead of failing the row, P7). */
  def decodeDataRow(d: Array[Byte], types: Seq[String]): InternalRow =
    InternalRow.fromSeq(AbiCodec.decodeData(d, types)
      .toIndexedSeq.zip(types).map { case (v, t) => convert(v, t) })

  /** [[Hex0xExpr]]: "0x" + lowercase hex of a binary value. */
  def hex0x(b: Array[Byte]): UTF8String =
    UTF8String.fromString("0x" + Keccak.hex(b))

  /** [[EcRecoverExpr]]: best-effort address recovery — any invalid
    * input (bad point, bad recId, out-of-range scalars) yields null,
    * never an exception (parser.go:152-159's tolerance). */
  def ecrecover(h: Array[Byte], r: Array[Byte], s: Array[Byte],
                recId: Int): UTF8String =
    try {
      val addr = Secp256k1.recoverAddress(h,
        new java.math.BigInteger(1, r), new java.math.BigInteger(1, s), recId)
      if (addr == null) null else UTF8String.fromString(addr)
    } catch { case _: Exception => null }
}

/** Custom Catalyst expressions for the EVM surface (SURVEY.md §4:
  * `keccak256`, `abi_decode_*`, `event_signature_hash`). Registered
  * through SparkSessionExtensions (see [[GraftExtensions]]) so they are
  * available both from the Column API and in SQL text.
  */

/** keccak256(binary) → 32-byte binary. Whole-stage-codegen'd via a
  * static call — stays inside the generated loop, no virtual dispatch. */
case class Keccak256Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs binary input")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "keccak256"
  // Expression.foldable defaults to FALSE — without this, a literal
  // keccak256('…') in SQL re-hashes every row instead of folding to a
  // constant at plan time (dataframe callers dodge it via Scala-side
  // Keccak, but the SQL surface must get the same plan-time hashing)
  override def foldable: Boolean = child.foldable
  override protected def nullSafeEval(input: Any): Any =
    Keccak.hash256(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.evm.Keccak.hash256($c)")
  override protected def withNewChildInternal(newChild: Expression): Keccak256Expr =
    copy(child = newChild)
}

/** hex0x(binary) → "0x" + lowercase hex string: the lossless raw
  * rendering of a log's payload and topics (`data_hex`, `raw_params`,
  * the raw-hex fallback). Same strings as `concat('0x', lower(hex(x)))`,
  * without `lower`'s collation-aware (ICU) path; null in, null out.
  * Static call, whole-stage-codegen'd. */
case class Hex0xExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs binary input")
  override def dataType: DataType = StringType
  override def prettyName: String = "hex0x"
  override def foldable: Boolean = child.foldable
  override protected def nullSafeEval(input: Any): Any =
    AbiRt.hex0x(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.evm.AbiRt.hex0x($c)")
  override protected def withNewChildInternal(newChild: Expression): Hex0xExpr =
    copy(child = newChild)
}

/** evm_topic0(signature string) → "0x…" topic hash string. Constant-
  * folds when the signature is a literal (the plan-time precomputation
  * the reference does in `indexer.go:54-88`). */
case class EventTopic0Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string input")
  override def dataType: DataType = StringType
  override def prettyName: String = "evm_topic0"
  override def foldable: Boolean = child.foldable
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Keccak.eventTopic0(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.evm.Keccak.eventTopic0($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): EventTopic0Expr =
    copy(child = newChild)
}

/** abi_decode_word(word binary, 'type') → typed value (P5). The type
  * argument must be a foldable string; output type derives from it:
  * numeric → decimal(38,0), bool → boolean, else string. Decode failure
  * or overflow → null (compose `coalesce(abi_decode_word(t, …), hex(t))`
  * for the reference's raw-hex fallback, parser.go:100-102). */
case class AbiDecodeWordExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (binary, foldable string)")
  override def prettyName: String = "abi_decode_word"

  private lazy val abiType: String =
    right.eval(null).asInstanceOf[UTF8String].toString

  override def foldable: Boolean = left.foldable
  override lazy val dataType: DataType =
    // reference types in a topic are a keccak hash word → hex string
    // (uint256[] must not fall through to the uint branch)
    if (AbiCodec.arrayOf(abiType).isDefined ||
        AbiCodec.tupleOf(abiType).isDefined) StringType
    else abiType match {
      case t if t.startsWith("uint") || t.startsWith("int") => DecimalType(38, 0)
      case "bool" => BooleanType
      case _ => StringType
    }

  // decode failure → null even for a non-null word, so the generated
  // code carries an explicit result-null check (nullSafeCodeGen, not
  // defineCodeGen); the static twin is shared with interpreted eval
  override protected def nullSafeEval(w: Any, t: Any): Any =
    AbiRt.decodeWordConv(w.asInstanceOf[Array[Byte]], abiType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val typeRef = ctx.addReferenceObj("abiType", abiType, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (w, _) => {
      val tmp = ctx.freshName("dec")
      s"""
         Object $tmp = graft.evm.AbiRt.decodeWordConv($w, $typeRef);
         if ($tmp == null) { ${ev.isNull} = true; }
         else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $tmp; }
       """
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** abi_decode_data(data binary, 'type1,type2,…') → struct<arg0 …> (P4).
  * Static types are word-indexed; string/bytes follow head offsets.
  * Malformed fields decode to null instead of failing the row (P7). */
case class AbiDecodeDataExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (binary, foldable string)")
  override def prettyName: String = "abi_decode_data"

  // depth-0 split: tuple types carry commas of their own
  private lazy val types: Seq[String] =
    AbiCodec.splitTypes(right.eval(null).asInstanceOf[UTF8String].toString)

  private def fieldType(t: String): DataType = AbiCodec.arrayOf(t) match {
    case Some((elem, _)) => ArrayType(fieldType(elem))
    case None => AbiCodec.tupleOf(t) match {
      case Some(cs) => StructType(cs.zipWithIndex.map { case (c, i) =>
        StructField(s"f$i", fieldType(c))
      })
      case None => t match {
        case x if x.startsWith("uint") || x.startsWith("int") => DecimalType(38, 0)
        case "bool" => BooleanType
        case _ => StringType
      }
    }
  }

  override lazy val dataType: DataType = StructType(
    types.zipWithIndex.map { case (t, i) => StructField(s"arg$i", fieldType(t)) })

  // a non-null blob always decodes to a row (malformed FIELDS go null,
  // the row survives — P7), so plain defineCodeGen suffices; the
  // pre-split type list rides the codegen references array
  override protected def nullSafeEval(d: Any, t: Any): Any =
    AbiRt.decodeDataRow(d.asInstanceOf[Array[Byte]], types)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val typesRef = ctx.addReferenceObj("types", types,
      "scala.collection.immutable.Seq")
    defineCodeGen(ctx, ev, (d, _) =>
      s"graft.evm.AbiRt.decodeDataRow($d, $typesRef)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** ecrecover_sender(msg_hash binary, r binary, s binary, rec_id int) →
  * "0x…" signer address string, null on any invalid input (J2: the
  * best-effort tx_from enrichment, parser.go:152-159). The scalable
  * usage still recovers once per DISTINCT transaction and
  * broadcast-joins the result (the block-timestamp-cache
  * restructuring, J1) — but the expression codegens anyway so its
  * PRESENCE in a projection never evicts sibling decode columns from
  * whole-stage codegen. */
case class EcRecoverExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "ecrecover_sender"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType == BinaryType) &&
        fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (binary, binary, binary, int)")
  override def nullSafeEval(h: Any, r: Any, s: Any, v: Any): Any =
    AbiRt.ecrecover(h.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]],
      s.asInstanceOf[Array[Byte]], v.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, s, v) => {
      val tmp = ctx.freshName("addr")
      s"""
         org.apache.spark.unsafe.types.UTF8String $tmp =
           graft.evm.AbiRt.ecrecover($h, $r, $s, $v);
         if ($tmp == null) { ${ev.isNull} = true; }
         else { ${ev.value} = $tmp; }
       """
    })
  override protected def withNewChildrenInternal(
      f: Expression, s2: Expression, t: Expression, fo: Expression): EcRecoverExpr =
    copy(first = f, second = s2, third = t, fourth = fo)
}

/** vec_dot(array<double>, array<double>) → double. The built-in route
  * (`aggregate(zip_with(...))`) is a CodegenFallback higher-order
  * function — interpreted per row, which dominates pairwise similarity
  * scans. This expression generates a tight primitive loop instead
  * (~20× on the brute-force cosine pass). Null elements are treated as
  * 0; null arrays propagate null. */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<double> inputs")
    }
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
  // static call, not an inline loop: PQ/k-means/ADC projections bake
  // dozens of vec_dot sites per method (one per centroid literal), and
  // inlined loops push the generated method past the JVM's ~8 KB JIT
  // ceiling into interpreted bytecode — the round-13 "JIT compile
  // ceiling" note on pqEncode was exactly this. See VecDotLongExpr.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ops.VecRt.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** SparkSessionExtensions installer: `GraftSession` wires this in, so
  * `expr("keccak256(x)")`, `hex0x`, `evm_topic0`, `abi_decode_word`,
  * `abi_decode_data`, `vec_dot` work in SQL and the Column API alike. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("keccak256"),
      new ExpressionInfo(classOf[Keccak256Expr].getName, "keccak256"),
      (args: Seq[Expression]) => Keccak256Expr(args.head)))
    ext.injectFunction((FunctionIdentifier("hex0x"),
      new ExpressionInfo(classOf[Hex0xExpr].getName, "hex0x"),
      (args: Seq[Expression]) => Hex0xExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("evm_topic0"),
      new ExpressionInfo(classOf[EventTopic0Expr].getName, "evm_topic0"),
      (args: Seq[Expression]) => EventTopic0Expr(args.head)))
    ext.injectFunction((FunctionIdentifier("abi_decode_word"),
      new ExpressionInfo(classOf[AbiDecodeWordExpr].getName, "abi_decode_word"),
      (args: Seq[Expression]) => AbiDecodeWordExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("abi_decode_data"),
      new ExpressionInfo(classOf[AbiDecodeDataExpr].getName, "abi_decode_data"),
      (args: Seq[Expression]) => AbiDecodeDataExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDotExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("ecrecover_sender"),
      new ExpressionInfo(classOf[EcRecoverExpr].getName, "ecrecover_sender"),
      (args: Seq[Expression]) => {
        // arity-guard the builder: unconditional args(3) would throw a
        // bare IndexOutOfBounds at resolution; users should get the
        // signature message instead (round-13 ADVICE)
        if (args.length != 4)
          throw new IllegalArgumentException(
            "ecrecover_sender expects 4 arguments: " +
              "(msg_hash binary, r binary, s binary, v int)")
        EcRecoverExpr(args(0), args(1), args(2), args(3))
      }))
    ext.injectFunction((FunctionIdentifier("vec_dot_long"),
      new ExpressionInfo(classOf[graft.ops.VecDotLongExpr].getName, "vec_dot_long"),
      (args: Seq[Expression]) => graft.ops.VecDotLongExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("shingle_h64s"),
      new ExpressionInfo(classOf[graft.ops.ShingleH64sExpr].getName, "shingle_h64s"),
      (args: Seq[Expression]) => graft.ops.ShingleH64sExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("shingle_h64s_all"),
      new ExpressionInfo(classOf[graft.ops.ShingleH64sAllExpr].getName, "shingle_h64s_all"),
      (args: Seq[Expression]) => graft.ops.ShingleH64sAllExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("shingle_pairs"),
      new ExpressionInfo(classOf[graft.ops.ShinglePairsExpr].getName, "shingle_pairs"),
      (args: Seq[Expression]) => graft.ops.ShinglePairsExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("cdc_chunk_h64s"),
      new ExpressionInfo(classOf[graft.ops.CdcChunkH64sExpr].getName, "cdc_chunk_h64s"),
      (args: Seq[Expression]) => graft.ops.CdcChunkH64sExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[graft.ops.MinhashSigExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => graft.ops.MinhashSigExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[graft.ops.WinnowFpsExpr].getName, "winnow_fps"),
      (args: Seq[Expression]) => graft.ops.WinnowFpsExpr(args(0), args(1), args(2))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.ops.Simhash64Expr].getName, "simhash64"),
      (args: Seq[Expression]) => graft.ops.Simhash64Expr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("rep_stats"),
      new ExpressionInfo(classOf[graft.ops.RepStatsExpr].getName, "rep_stats"),
      (args: Seq[Expression]) => graft.ops.RepStatsExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("lang_scores"),
      new ExpressionInfo(classOf[graft.ops.LangScoresExpr].getName, "lang_scores"),
      (args: Seq[Expression]) => graft.ops.LangScoresExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("vec_fixp"),
      new ExpressionInfo(classOf[graft.ops.VecFixpExpr].getName, "vec_fixp"),
      (args: Seq[Expression]) => graft.ops.VecFixpExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[graft.ops.SigAgreeExpr].getName, "sig_agree"),
      (args: Seq[Expression]) => graft.ops.SigAgreeExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("alpha_tokens"),
      new ExpressionInfo(classOf[graft.ops.AlphaTokensExpr].getName, "alpha_tokens"),
      (args: Seq[Expression]) => graft.ops.AlphaTokensExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[graft.ops.KmvDistinctAgg].getName, "kmv_distinct"),
      (args: Seq[Expression]) =>
        graft.ops.KmvDistinctAgg(args(0), args(1)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("drop_repeated_windows"),
      new ExpressionInfo(classOf[graft.ops.DropRepWindowsExpr].getName,
        "drop_repeated_windows"),
      (args: Seq[Expression]) =>
        graft.ops.DropRepWindowsExpr(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("gram_fx"),
      new ExpressionInfo(classOf[graft.ops.GramFxAgg].getName, "gram_fx"),
      (args: Seq[Expression]) =>
        graft.ops.GramFxAgg(args(0)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("uint256_sum"),
      new ExpressionInfo(classOf[Uint256SumAgg].getName, "uint256_sum"),
      (args: Seq[Expression]) =>
        Uint256SumAgg(args(0)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("bottomk_sample"),
      new ExpressionInfo(classOf[graft.ops.BottomKSampleAgg].getName,
        "bottomk_sample"),
      (args: Seq[Expression]) =>
        graft.ops.BottomKSampleAgg(args(0), args(1), args(2))
          .toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.ops.NfcNormalizeExpr].getName,
        "nfc_normalize"),
      (args: Seq[Expression]) => graft.ops.NfcNormalizeExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("uchr"),
      new ExpressionInfo(classOf[graft.ops.UchrExpr].getName, "uchr"),
      (args: Seq[Expression]) => graft.ops.UchrExpr(args.head)))
  }
}
