package graft

import java.lang.reflect.{InvocationTargetException, Method, Modifier}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import graft.evm.{AbiCodec, AbiRt, Uint256SumAgg}
import graft.ops.{BottomKSampleAgg, GramFxAgg, KmvDistinctAgg, TextOps}

/** The SQL functions graft adds to a session, as one declared table.
  * `GraftSession` installs it (this object is the
  * `SparkSessionExtensions` installer), so `expr("keccak256(x)")` and
  * `call_function("hex0x", c)` work in SQL text and the Column API
  * alike; [[SqlCatalog]] renders it as docs/SQL_FUNCTIONS.md.
  *
  * A scalar function is a static kernel method plus its declaration;
  * every call is one [[Call]] expression. The kernel serves both
  * interpreted eval and generated code, where it is ONE static call per
  * call site: an inlined loop per site pushes projections with dozens
  * of sites past the JVM's JIT ceiling (see [[graft.ops.VecRt]]), and a
  * CodegenFallback expression would evict its whole Project from
  * whole-stage codegen. Aggregates keep their own classes. */
object SqlFunctions extends (SparkSessionExtensions => Unit) {

  /** One argument: its name in the signature, the types it accepts
    * (array element nullability aside; no implicit casts), whether it
    * must be a foldable constant, and `prep`, which converts a non-null
    * constant once per expression into what the kernel takes. */
  final case class Arg(name: String, types: Seq[DataType], const: Boolean = false,
                       prep: AnyRef => AnyRef = identity) {
    def accepts(e: Expression): Boolean =
      (!const || e.foldable) && types.exists(sameType(_, e.dataType))
    def doc: String =
      s"$name ${if (const) "const " else ""}${types.map(_.simpleString).mkString("|")}"
  }

  private def sameType(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => sameType(w, g)
    case _ => want == got
  }

  sealed trait Fn {
    def name: String
    def doc: String
    def args: Seq[Arg]
    /** The result type as the signature shows it. */
    def result: String
    /** What runs the function: a kernel method or an aggregate class. */
    def implementation: String
    def build(children: Seq[Expression]): Expression
    def signature: String = s"$name(${args.map(_.doc).mkString(", ")}) -> $result"
  }

  /** A scalar function: `kernel` is the static method's full name;
    * `resultType` gets the argument types and the prepared constant of
    * an argument position; `nullOnValid` when non-null arguments can
    * still give a null result (the kernel returns null). */
  final case class Scalar(name: String, doc: String, args: Seq[Arg], result: String,
      resultType: (Seq[DataType], Int => AnyRef) => DataType, kernel: String,
      nullOnValid: Boolean = false) extends Fn {
    def implementation: String = kernel
    def build(children: Seq[Expression]): Expression = Call(this, children)
    @transient lazy val method: Method = {
      val dot = kernel.lastIndexOf('.')
      val found = Class.forName(kernel.take(dot)).getMethods.filter(m =>
        m.getName == kernel.drop(dot + 1) && Modifier.isStatic(m.getModifiers) &&
          m.getParameterCount == args.size)
      require(found.length == 1, s"$name: no single static $kernel of ${args.size} arguments")
      found.head
    }
  }

  final case class Agg(name: String, doc: String, args: Seq[Arg], result: String,
      make: Seq[Expression] => AggregateFunction) extends Fn {
    lazy val implementation: String =
      make(args.map(a => Literal.default(a.types.head))).getClass.getName
    def build(children: Seq[Expression]): Expression = make(children).toAggregateExpression()
  }

  /** One call of a [[Scalar]]. Renders as `name(args)` in plans and
    * column names; two calls with equal arguments are semantically
    * equal, so subexpression elimination evaluates one once. */
  private case class Call(spec: Scalar, children: Seq[Expression]) extends Expression {
    override def prettyName: String = spec.name
    override protected def stringArgs: Iterator[Any] = children.iterator
    override def nullable: Boolean = spec.nullOnValid || children.exists(_.nullable)
    override def foldable: Boolean = children.forall(_.foldable)

    override def checkInputDataTypes(): TypeCheckResult =
      if (spec.args.zip(children).forall { case (a, c) => a.accepts(c) })
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"arguments must match ${spec.signature}")

    /** Constant arguments, evaluated and prepared once; null elsewhere. */
    @transient private lazy val consts: Array[AnyRef] =
      spec.args.zip(children).map { case (a, c) =>
        val v = if (a.const) c.eval(null).asInstanceOf[AnyRef] else null
        if (v == null) v else a.prep(v)
      }.toArray

    override lazy val dataType: DataType =
      spec.resultType(children.map(_.dataType), consts(_))

    override def eval(input: InternalRow): Any = {
      val values = new Array[AnyRef](children.size)
      var i = 0
      while (i < values.length) {
        values(i) =
          if (spec.args(i).const) consts(i) else children(i).eval(input).asInstanceOf[AnyRef]
        if (values(i) == null) return null
        i += 1
      }
      try spec.method.invoke(null, values: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gens = children.map(_.genCode(ctx))
      val params = spec.method.getParameterTypes
      val argCode = children.indices.map { i =>
        val p = params(i)
        if (consts(i) != null && !p.isPrimitive)
          ctx.addReferenceObj(spec.args(i).name, consts(i), p.getCanonicalName)
        else if (p.isPrimitive && CodeGenerator.javaType(children(i).dataType) != p.getName)
          s"(${p.getName}) ${gens(i).value}"
        else gens(i).value.toString
      }
      val call = s"${spec.kernel}(${argCode.mkString(", ")})"
      val javaType = CodeGenerator.javaType(dataType)
      val assign = if (spec.nullOnValid) {
        val r = ctx.freshName("result")
        s"""Object $r = $call;
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r; }""".stripMargin
      } else s"${ev.value} = $call;"
      if (nullable) {
        val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$assign") {
          case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
        }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          $body""")
      } else ev.copy(code = code"""
          ${gens.map(_.code.toString).mkString("\n")}
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          $assign""", isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Call = copy(children = newChildren)
  }

  private val Bytes = Seq(BinaryType)
  private val Tokens = Arg("tokens", Seq(ArrayType(StringType)))
  private val Doubles = Seq(ArrayType(DoubleType))
  private val Longs = Seq(ArrayType(LongType))
  private val Hashes = ArrayType(LongType, containsNull = false)
  private def const(name: String, t: DataType, prep: AnyRef => AnyRef = identity) =
    Arg(name, Seq(t), const = true, prep)
  private def scalar(name: String, doc: String, kernel: String, out: DataType,
                     args: Arg*): Scalar =
    Scalar(name, doc, args, out.simpleString, (_, _) => out, kernel)

  val table: Seq[Fn] = Seq(
    scalar("keccak256", "Keccak-256 digest of a binary value; constant-folds on literals",
      "graft.evm.Keccak.hash256", BinaryType, Arg("bytes", Bytes)),
    scalar("hex0x",
      "'0x' + lowercase hex of a binary value (data_hex); same as concat('0x', lower(hex(x)))",
      "graft.evm.AbiRt.hex0x", StringType, Arg("bytes", Bytes)),
    scalar("evm_topic0",
      "Event-signature hash (topic0) of e.g. 'Transfer(address,address,uint256)'",
      "graft.evm.AbiRt.topic0", StringType, Arg("signature", Seq(StringType))),
    Scalar("abi_decode_word",
      "Decode one 32-byte ABI word as the constant type: (u)int to decimal(38,0), " +
        "bool to boolean, others to string; null when it does not decode",
      Seq(Arg("word", Bytes), const("type", StringType, _.toString)),
      "decimal(38,0)|boolean|string", (_, c) => AbiRt.wordType(c(1).asInstanceOf[String]),
      "graft.evm.AbiRt.decodeWordConv", nullOnValid = true),
    Scalar("abi_decode_data",
      "Decode an ABI data blob (static heads, dynamic tails) against the constant " +
        "comma-separated type list; malformed fields are null",
      Seq(Arg("data", Bytes), const("types", StringType, t => AbiCodec.splitTypes(t.toString))),
      "struct<arg0,…>", (_, c) => AbiRt.dataType(c(1).asInstanceOf[Seq[String]]),
      "graft.evm.AbiRt.decodeDataRow"),
    Scalar("ecrecover_sender",
      "Recover the signer's address from a secp256k1 signature over a 32-byte hash; " +
        "null if invalid",
      Seq(Arg("msg_hash", Bytes), Arg("r", Bytes), Arg("s", Bytes),
        Arg("rec_id", Seq(IntegerType))),
      "string", (_, _) => StringType, "graft.evm.AbiRt.ecrecover", nullOnValid = true),
    scalar("vec_dot",
      "Dense dot product of two double vectors; null elements count as 0, the shorter length wins",
      "graft.ops.VecRt.dot", DoubleType, Arg("a", Doubles), Arg("b", Doubles)),
    scalar("vec_dot_long", "Exact integer dot product — the oracle-stable similarity kernel",
      "graft.ops.VecRt.dotLong", LongType, Arg("a", Longs), Arg("b", Longs)),
    Scalar("vec_fixp", "Fixed-point micro-unit vector: round(x*1e6) HALF_UP per element",
      Seq(Arg("v", Doubles)), "array<bigint>", (t, _) => t.head match {
        case ArrayType(_, n) => ArrayType(LongType, containsNull = n)
        case _ => ArrayType(LongType)
      }, "graft.ops.Hashing.vecFixp"),
    scalar("shingle_h64s", "Distinct 60-bit hashes of word n-grams (the dedup shingle set)",
      "graft.ops.Hashing.shingleH64s", Hashes, Tokens, const("n", IntegerType)),
    scalar("shingle_h64s_all", "All (non-distinct) n-gram hashes in order, for positional ops",
      "graft.ops.Hashing.shingleH64sAll", Hashes, Tokens, const("n", IntegerType)),
    scalar("shingle_pairs",
      "(h64, text) of every positional n-gram, for consumers that rehydrate a filtered subset",
      "graft.ops.Hashing.shinglePairs",
      ArrayType(StructType(Seq(StructField("h", LongType, nullable = false),
        StructField("s", StringType, nullable = false))), containsNull = false),
      Tokens, const("n", IntegerType)),
    scalar("cdc_chunk_h64s",
      "Content-defined chunk hashes: a chunk closes after a token whose h64 is 0 mod m",
      "graft.ops.Hashing.cdcChunkH64s", Hashes, Tokens, const("m", IntegerType)),
    scalar("minhash_sig", "k-permutation MinHash signature of a shingle-hash set",
      "graft.ops.Hashing.minhashSig", ArrayType(LongType, containsNull = true),
      Arg("h64s", Longs), const("k", IntegerType)),
    scalar("winnow_fps", "Winnowing fingerprints: per-window minimum n-gram hashes",
      "graft.ops.Hashing.winnowFps", Hashes, Tokens, const("n", IntegerType),
      const("w", IntegerType)),
    scalar("simhash64", "SimHash of the token multiset (bit-majority of feature hashes)",
      "graft.ops.Hashing.simhash64", LongType, Tokens, const("bits", IntegerType)),
    scalar("rep_stats",
      "Repetition statistics: distinct tokens, the top positional bigram and its count, " +
        "the character mass of repeated trigrams",
      "graft.ops.Hashing.repStats", StructType(Seq(
        StructField("n_distinct", IntegerType, nullable = false),
        StructField("top_bigram", StringType, nullable = true),
        StructField("top_bigram_n", IntegerType, nullable = false),
        StructField("dup3_chars", LongType, nullable = false))), Tokens),
    scalar("drop_repeated_windows",
      "Within-document dedup: drop re-occurrences of any seen n-token window",
      "graft.ops.Hashing.dropRepWindows", ArrayType(StringType, containsNull = false),
      Tokens, const("n", IntegerType)),
    scalar("nfc_normalize",
      "Unicode NFC composition (ASCII fast-path identity) — the dedup-key normalizer",
      "graft.ops.Hashing.nfc", StringType, Arg("text", Seq(StringType))),
    scalar("uchr",
      "Unicode codepoint to its one-char string (builtin chr is byte-bound mod 256)",
      "graft.ops.Hashing.uchr", StringType, Arg("codepoint", Seq(IntegerType, LongType))),
    scalar("sig_agree",
      "Equal non-null positions of two MinHash signatures (est_jaccard numerator)",
      "graft.ops.Hashing.sigAgree", IntegerType, Arg("a", Longs), Arg("b", Longs)),
    scalar("alpha_tokens",
      "Tokens containing an ASCII letter (codegen twin of rlike [A-Za-z] filter)",
      "graft.ops.Hashing.alphaTokens", IntegerType, Tokens),
    scalar("lang_scores",
      "Per-language stopword-hit scores + first-wins argmax pred, one array pass",
      "graft.ops.LangScores.scores", StructType(
        TextOps.LangProfiles.map(p => StructField(p._1, DoubleType, nullable = false)) :+
          StructField("pred", StringType, nullable = false)), Tokens),
    Agg("kmv_distinct", "K-minimum-values distinct-count estimate (exact below k)",
      Seq(Arg("hash", Seq(LongType)), const("k", IntegerType)), "double",
      a => KmvDistinctAgg(a(0), a(1))),
    Agg("gram_fx", "Mergeable Gram-matrix accumulator (sum of v-v-transpose, row-major)",
      Seq(Arg("v", Longs)), "array<bigint>", a => GramFxAgg(a(0))),
    Agg("uint256_sum",
      "Arbitrary-precision sum of raw 32-byte uint256 words, decimal string",
      Seq(Arg("word", Bytes)), "string", a => Uint256SumAgg(a(0))),
    Agg("bottomk_sample",
      "Order-independent uniform value sample: k smallest hash keys (quantile sketch)",
      Seq(Arg("key", Seq(LongType)), Arg("value", Seq(LongType)), const("k", IntegerType)),
      "array<bigint>", a => BottomKSampleAgg(a(0), a(1), a(2))))

  require(table.map(_.name).distinct.size == table.size && table.forall(_.doc.nonEmpty))
  table.foreach { case s: Scalar => s.method; case _ => }

  /** Registers every function of the table; a call with the wrong
    * argument count fails naming the function and its signature. */
  override def apply(ext: SparkSessionExtensions): Unit = table.foreach { fn =>
    ext.injectFunction((FunctionIdentifier(fn.name),
      new ExpressionInfo(fn.implementation, fn.name),
      (args: Seq[Expression]) => {
        if (args.size != fn.args.size) throw new IllegalArgumentException(
          s"${fn.name} takes ${fn.args.size} argument(s), got ${args.size}: ${fn.signature}")
        fn.build(args)
      }))
  }
}
