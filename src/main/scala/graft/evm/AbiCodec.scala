package graft.evm

import java.math.BigInteger

/** Minimal ABI (Ethereum contract ABI) codec for event decoding —
  * word-aligned static types plus dynamic string/bytes, written from the
  * public ABI encoding spec. Mirrors what the reference gets from
  * go-ethereum's `UnpackIntoMap` / `ParseTopicsIntoMap`
  * (`internal/parser/parser.go:74-107`), re-scoped to the types its
  * shipped ABIs actually use (address, uint8..256, int24..256, bool,
  * bytes32, string, bytes).
  *
  * uint256 policy (SURVEY.md §7.4): numeric values are surfaced as
  * java.math.BigDecimal for Spark DecimalType(38,0) when they fit in 38
  * digits; larger values return null from the typed decoder — callers
  * keep the lossless raw-hex column alongside (`coalesce(decoded,
  * hex(word))`, the reference's raw-hex fallback at parser.go:100-102).
  */
object AbiCodec {

  final val Word = 32

  import Keccak.hex

  def unhex(s: String): Array[Byte] = {
    val t = if (s.startsWith("0x")) s.substring(2) else s
    val out = new Array[Byte](t.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(t.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** `T[]` → Some((T, None)); `T[k]` → Some((T, Some(k))); else None. */
  private val ArrayRe = "^(.*)\\[([0-9]*)\\]$".r
  def arrayOf(t: String): Option[(String, Option[Int])] = t match {
    case ArrayRe(elem, "") => Some((elem, None))
    case ArrayRe(elem, k) => Some((elem, Some(k.toInt)))
    case _ => None
  }

  /** Split a comma-separated canonical type list at paren depth 0, so
    * tuple-internal commas stay intact ("uint256,(address,string)[]" →
    * ["uint256", "(address,string)[]"]). */
  def splitTypes(s: String): Seq[String] =
    if (s.isEmpty) Nil
    else {
      val parts = Seq.newBuilder[String]
      var depth = 0
      var start = 0
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 =>
            parts += s.substring(start, i).trim; start = i + 1
          case _ =>
        }
        i += 1
      }
      parts += s.substring(start).trim
      parts.result()
    }

  /** Canonical tuple `(T1,T2,…)` → Some(components); `()` → Some(Nil).
    * Callers must try [[arrayOf]] first — `(T)[k]` is an array whose
    * element happens to be a tuple. */
  def tupleOf(t: String): Option[Seq[String]] =
    if (t.length < 2 || t.head != '(' || t.last != ')') None
    else Some(splitTypes(t.substring(1, t.length - 1)))

  /** True when `t` is head-only (no offset-referenced tail). Per the
    * public ABI spec: string/bytes/`T[]` are dynamic; `T[k]` inherits
    * its element's staticness; a tuple is static iff every component
    * is. */
  def isStatic(t: String): Boolean = t match {
    case "string" | "bytes" => false
    case ArrayRe(_, "") => false
    case ArrayRe(elem, _) => isStatic(elem)
    case tup if tup.startsWith("(") => tupleOf(tup).exists(_.forall(isStatic))
    case _ => true
  }

  /** Head width of `t` in 32-byte words: dynamic types hold one offset
    * word; a static `T[k]` occupies k element-heads in place; a static
    * tuple occupies its components' heads in place. */
  def headWords(t: String): Int =
    if (!isStatic(t)) 1
    else arrayOf(t) match {
      case Some((elem, Some(k))) => k * headWords(elem)
      case _ => tupleOf(t).map(_.map(headWords).sum).getOrElse(1)
    }

  private val MaxDec38 = new BigInteger("9" * 38)

  /** Decode one 32-byte word as the given static ABI type.
    * Returns: address/bytes32 → "0x…" String, bool → java.lang.Boolean,
    * uintN/intN → java.math.BigDecimal (null when |v| needs > 38 digits).
    * Null (fallback to raw hex upstream) for unknown types. */
  def decodeWord(w: Array[Byte], abiType: String): Any = {
    if (w == null || w.length != Word) return null
    abiType match {
      // FIRST: an INDEXED reference-type param (string/bytes, any
      // array, any tuple — static ones included) is stored in the topic
      // as its keccak256 hash, per the public ABI event-encoding spec —
      // surface the hash word, don't null it. Must precede the scalar
      // branches: "uint256[]" would otherwise match the uint prefix.
      case t if arrayOf(t).isDefined || tupleOf(t).isDefined || !isStatic(t) =>
        "0x" + hex(w)
      case "address" =>
        "0x" + hex(java.util.Arrays.copyOfRange(w, 12, 32))
      case "bool" =>
        java.lang.Boolean.valueOf(w(31) != 0)
      case t if t.startsWith("uint") =>
        val v = new BigInteger(1, w)
        if (v.compareTo(MaxDec38) > 0) null else new java.math.BigDecimal(v)
      case t if t.startsWith("int") =>
        val v = new BigInteger(w) // two's complement, signed
        if (v.abs.compareTo(MaxDec38) > 0) null else new java.math.BigDecimal(v)
      case t if t.startsWith("bytes") && t.length > 5 =>
        "0x" + hex(w) // bytesN: left-aligned, keep the full word
      case _ => null
    }
  }

  /** Read one word at byte offset `at` as an Int (offsets / lengths). */
  private def intAt(data: Array[Byte], at: Int): Int = {
    if (at < 0 || at + Word > data.length)
      throw new IndexOutOfBoundsException(s"word at $at past ${data.length}")
    new BigInteger(1, java.util.Arrays.copyOfRange(data, at, at + Word))
      .intValueExact()
  }

  /** Decode a STATIC value laid out in place at byte `at`: a word-typed
    * scalar, a `T[k]` of static elements, or an all-static tuple. */
  private def staticAt(data: Array[Byte], at: Int, t: String): Any =
    arrayOf(t) match {
      case Some((elem, Some(k))) =>
        val ew = headWords(elem) * Word
        (0 until k).map(j => staticAt(data, at + j * ew, elem)).toArray[Any]
      case _ => tupleOf(t) match {
        case Some(cs) =>
          var o = at
          cs.map { c =>
            val v = staticAt(data, o, c); o += headWords(c) * Word; v
          }.toArray[Any]
        case None =>
          if (at + Word > data.length)
            throw new IndexOutOfBoundsException(s"$t at $at")
          else decodeWord(
            java.util.Arrays.copyOfRange(data, at, at + Word), t)
      }
    }

  /** Decode the TAIL of a dynamic value starting at byte `base`:
    * length-prefixed string/bytes, `T[]` (length word + element-head
    * region), `T[k]`-of-dynamic (k-head region), or a dynamic tuple
    * (component-head region). Offsets inside a region are relative to
    * the region start, per the public ABI spec. */
  private def tailAt(data: Array[Byte], base: Int, t: String): Any =
    arrayOf(t) match {
      case Some((elem, kOpt)) =>
        val (n, rbase) = kOpt match {
          case Some(k) => (k, base) // dynamic T[k]: k heads, no length word
          case None => (intAt(data, base), base + Word)
        }
        // bounds check up front so a lying length nulls the field
        // instead of decoding garbage
        if (rbase + n.toLong * headWords(elem) * Word > data.length)
          throw new IndexOutOfBoundsException(s"$t claims $n elements")
        headsAt(data, rbase, Seq.fill(n)(elem))
      case None => tupleOf(t) match {
        case Some(cs) => headsAt(data, base, cs)
        case None =>
          val len = intAt(data, base)
          if (base.toLong + Word + len > data.length)
            throw new IndexOutOfBoundsException(s"$t claims $len bytes")
          val body = java.util.Arrays.copyOfRange(
            data, base + Word, base + Word + len)
          if (t == "string") new String(body, "UTF-8") else "0x" + hex(body)
      }
    }

  /** Walk a head region of `types` starting at byte `base`: static
    * values sit in place; dynamic heads hold offsets relative to
    * `base`. Any malformed access yields null for that field only
    * (P7: malformed rows survive the scan). */
  private def headsAt(data: Array[Byte], base: Int,
                      types: Seq[String]): Array[Any] = {
    val out = new Array[Any](types.length)
    var at = base
    var i = 0
    while (i < types.length) {
      val t = types(i)
      out(i) =
        try {
          if (isStatic(t)) staticAt(data, at, t)
          else tailAt(data, base + intAt(data, at), t)
        } catch { case _: Exception => null }
      at += headWords(t) * Word
      i += 1
    }
    out
  }

  /** Decode the non-indexed event payload (`log.Data`) against the
    * given head types — the full offset/length tail walk of the public
    * ABI spec (the reference gets this generically from go-ethereum,
    * parser.go:74-77). Heads advance by `headWords` per field; dynamic
    * string/bytes/`T[]`/tuples follow their head offset to the tail;
    * arrays and tuples decode to Array[Any] (arrays of dynamic
    * elements — `string[]`, `bytes[]`, dynamic-tuple arrays — walk a
    * nested offset region). Any malformed access yields null for that
    * field (P7: malformed rows survive the scan). */
  /** Test hook: local-mode specs compare this against row counts to
    * pin "decode runs once per row" (the InferFiltersFromGenerate /
    * CollapseProject re-evaluation traps land here first). LongAdder =
    * no shared-cacheline cost on the hot path. */
  val decodeCalls = new java.util.concurrent.atomic.LongAdder()

  def decodeData(data: Array[Byte], types: Seq[String]): Array[Any] = {
    decodeCalls.increment()
    if (data == null) new Array[Any](types.length)
    else headsAt(data, 0, types)
  }

  /** Encode one value as a 32-byte ABI word (test/synthesis helper). */
  def encodeWord(value: Any, abiType: String): Array[Byte] = {
    val w = new Array[Byte](Word)
    abiType match {
      case "address" =>
        val b = unhex(value.toString)
        System.arraycopy(b, 0, w, 32 - b.length, b.length)
      case "bool" =>
        w(31) = if (value.asInstanceOf[Boolean]) 1 else 0
      case t if t.startsWith("uint") || t.startsWith("int") =>
        val v = value match {
          case b: BigInteger => b
          case b: BigInt => b.bigInteger
          case n: Number => BigInteger.valueOf(n.longValue())
        }
        val b = v.toByteArray // big-endian two's complement
        val src = if (b.length > Word) java.util.Arrays.copyOfRange(b, b.length - Word, b.length) else b
        if (v.signum() < 0) java.util.Arrays.fill(w, 0xff.toByte)
        System.arraycopy(src, 0, w, Word - src.length, src.length)
      case t if t.startsWith("bytes") && t.length > 5 =>
        val b = unhex(value.toString) // bytesN: left-aligned
        System.arraycopy(b, 0, w, 0, b.length)
      case _ =>
        throw new IllegalArgumentException(s"encodeWord: unsupported $abiType")
    }
    w
  }

  /** Encode a payload in the full head/tail layout (test/synthesis
    * helper): static fields in place (fixed arrays / all-static tuples
    * as element words), dynamic fields as an offset head word plus a
    * tail region — recursively, so arrays of dynamic elements and
    * dynamic tuples nest. Array/tuple values are Seq[Any]; string/bytes
    * take String/Array[Byte]. */
  def encodeData(values: Seq[Any], types: Seq[String]): Array[Byte] =
    region(values, types)

  private def staticBytes(v: Any, t: String): Array[Byte] =
    arrayOf(t) match {
      case Some((elem, Some(k))) =>
        val xs = v.asInstanceOf[Seq[Any]]
        require(xs.length == k, s"encodeData: $t needs $k elements")
        xs.flatMap(x => staticBytes(x, elem)).toArray
      case _ => tupleOf(t) match {
        case Some(cs) =>
          val xs = v.asInstanceOf[Seq[Any]]
          require(xs.length == cs.length,
            s"encodeData: $t needs ${cs.length} components")
          xs.zip(cs).flatMap { case (x, c) => staticBytes(x, c) }.toArray
        case None => encodeWord(v, t)
      }
    }

  /** Encode the TAIL of a dynamic value (no leading offset word). */
  private def tailBytes(v: Any, t: String): Array[Byte] =
    arrayOf(t) match {
      case Some((elem, kOpt)) =>
        val xs = v.asInstanceOf[Seq[Any]]
        kOpt match {
          case Some(k) =>
            require(xs.length == k, s"encodeData: $t needs $k elements")
            region(xs, Seq.fill(k)(elem))
          case None =>
            encodeWord(BigInteger.valueOf(xs.length.toLong), "uint256") ++
              region(xs, Seq.fill(xs.length)(elem))
        }
      case None => tupleOf(t) match {
        case Some(cs) => region(v.asInstanceOf[Seq[Any]], cs)
        case None =>
          val bytes = v match {
            case s: String if t == "string" => s.getBytes("UTF-8")
            case b: Array[Byte] => b
            case s: String => unhex(s)
          }
          val pad = new Array[Byte]((Word - bytes.length % Word) % Word)
          encodeWord(BigInteger.valueOf(bytes.length.toLong), "uint256") ++
            bytes ++ pad
      }
    }

  /** One head/tail region: heads in declaration order, dynamic heads
    * holding region-relative tail offsets. */
  private def region(values: Seq[Any], types: Seq[String]): Array[Byte] = {
    val headSize = types.map(headWords(_) * Word).sum
    val heads = Seq.newBuilder[Array[Byte]]
    val tails = Seq.newBuilder[Array[Byte]]
    var tailLen = 0
    values.zip(types).foreach { case (v, t) =>
      if (isStatic(t)) heads += staticBytes(v, t)
      else {
        heads += encodeWord(
          BigInteger.valueOf(headSize.toLong + tailLen), "uint256")
        val tail = tailBytes(v, t)
        tails += tail
        tailLen += tail.length
      }
    }
    (heads.result() ++ tails.result()).flatten.toArray
  }
}
