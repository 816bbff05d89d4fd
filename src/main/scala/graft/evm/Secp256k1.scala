package graft.evm

import java.math.BigInteger

/** secp256k1 ECDSA public-key recovery (pure Scala, from the public
  * SEC 2 / SEC 1 specs) — enough to recover an Ethereum transaction's
  * sender address from its signature, the reference's tx_from
  * enrichment (`internal/parser/parser.go:152-159`, J2).
  *
  * One point-arithmetic core in Jacobian coordinates (X, Y, Z) ↔
  * affine (X/Z², Y/Z³): doubling uses the a = 0 formula, addition the
  * general one, and neither inverts. Recovery computes
  * Q = u1·G + u2·R with Shamir's simultaneous double-and-add (one
  * shared doubling chain) and pays exactly one field inversion, in the
  * final conversion back to affine. The public affine API (`add`,
  * `mul`, `liftX`, `sign`, `address`) is a thin wrapper over the same
  * core.
  */
object Secp256k1 {

  val P = new BigInteger(
    "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  val N = new BigInteger(
    "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  private val B = BigInteger.valueOf(7)
  val Gx = new BigInteger(
    "79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798", 16)
  val Gy = new BigInteger(
    "483ada7726a3c4655da4fbfc0e1108a8fd17b448a68554199c47d08ffb10d4b8", 16)

  /** Affine point; None = point at infinity. */
  type Point = Option[(BigInteger, BigInteger)]
  val G: Point = Some((Gx, Gy))

  // p = 2^256 − c, so x·2^256 ≡ x·c: fold the high half down instead
  // of dividing. The core keeps every operand in [0, p) (`sub`, `neg`),
  // so the products it reduces are non-negative.
  private val C = BigInteger.valueOf(0x1000003d1L)
  private val Mask256 = BigInteger.ONE.shiftLeft(256).subtract(BigInteger.ONE)
  private def fp(x: BigInteger): BigInteger =
    if (x.signum() < 0) x.mod(P)
    else {
      var t = x
      while (t.bitLength() > 256) t = t.shiftRight(256).multiply(C).add(t.and(Mask256))
      if (t.compareTo(P) >= 0) t.subtract(P) else t
    }
  private def sub(a: BigInteger, b: BigInteger): BigInteger = {
    val t = a.subtract(b); if (t.signum() < 0) t.add(P) else t
  }
  private def neg(a: BigInteger): BigInteger = P.subtract(a)

  /** Jacobian point; z = 0 is the point at infinity. */
  private final class Jac(val x: BigInteger, val y: BigInteger, val z: BigInteger) {
    def isInf: Boolean = z.signum() == 0
  }
  private val Inf = new Jac(BigInteger.ONE, BigInteger.ONE, BigInteger.ZERO)

  private def jac(p: Point): Jac = p match {
    case None => Inf
    case Some((x, y)) => new Jac(fp(x), fp(y), BigInteger.ONE)
  }

  /** The one field inversion: back to affine. */
  private def affine(p: Jac): Point =
    if (p.isInf) None
    else {
      val zi = p.z.modInverse(P)
      val zi2 = fp(zi.multiply(zi))
      Some((fp(p.x.multiply(zi2)), fp(p.y.multiply(zi2).multiply(zi))))
    }

  /** 2·p, a = 0 (dbl-2009-l). y = 0 gives z = 0, i.e. infinity. */
  private def twice(p: Jac): Jac =
    if (p.isInf) p
    else {
      val a = fp(p.x.multiply(p.x))
      val b = fp(p.y.multiply(p.y))
      val c = fp(b.multiply(b))
      val xb = p.x.add(b)
      val d = fp(xb.multiply(xb).subtract(a).subtract(c).shiftLeft(1))
      val e = a.add(a).add(a)
      val x3 = fp(e.multiply(e).add(neg(d).shiftLeft(1)))
      val y3 = fp(e.multiply(sub(d, x3)).add(neg(c).shiftLeft(3)))
      new Jac(x3, y3, fp(p.y.multiply(p.z).shiftLeft(1)))
    }

  /** p + q; an affine q (z = 1) skips its own normalisation. */
  private def plus(p: Jac, q: Jac): Jac =
    if (p.isInf) q
    else if (q.isInf) p
    else {
      val qAffine = q.z == BigInteger.ONE
      val z1z1 = fp(p.z.multiply(p.z))
      val (u1, s1) =
        if (qAffine) (p.x, p.y)
        else {
          val z2z2 = fp(q.z.multiply(q.z))
          (fp(p.x.multiply(z2z2)), fp(p.y.multiply(fp(q.z.multiply(z2z2)))))
        }
      val u2 = fp(q.x.multiply(z1z1))
      val s2 = fp(q.y.multiply(fp(p.z.multiply(z1z1))))
      val h = sub(u2, u1)
      val r = sub(s2, s1)
      if (h.signum() == 0) { if (r.signum() == 0) twice(p) else Inf }
      else {
        val hh = fp(h.multiply(h))
        val hhh = fp(h.multiply(hh))
        val v = fp(u1.multiply(hh))
        val x3 = fp(r.multiply(r).add(neg(hhh)).add(neg(v).shiftLeft(1)))
        val y3 = fp(r.multiply(sub(v, x3)).add(neg(s1).multiply(hhh)))
        val z3 = if (qAffine) fp(p.z.multiply(h))
          else fp(fp(p.z.multiply(q.z)).multiply(h))
        new Jac(x3, y3, z3)
      }
    }

  /** u1·p1 + u2·p2 by Shamir's trick: one doubling per bit of the
    * longer scalar, then one addition of p1, p2 or p1 + p2. */
  private def mulAdd(u1: BigInteger, p1: Jac, u2: BigInteger, p2: Jac): Jac = {
    val both = plus(p1, p2)
    var acc = Inf
    var i = math.max(u1.bitLength(), u2.bitLength()) - 1
    while (i >= 0) {
      acc = twice(acc)
      val a = u1.testBit(i)
      val b = u2.testBit(i)
      if (a && b) acc = plus(acc, both)
      else if (a) acc = plus(acc, p1)
      else if (b) acc = plus(acc, p2)
      i -= 1
    }
    acc
  }

  def add(p: Point, q: Point): Point = affine(plus(jac(p), jac(q)))

  def mul(k: BigInteger, p: Point): Point =
    affine(mulAdd(k.mod(N), jac(p), BigInteger.ZERO, Inf))

  /** Lift an x coordinate to a curve point with the requested y parity. */
  def liftX(x: BigInteger, odd: Boolean): Option[(BigInteger, BigInteger)] = {
    if (x.compareTo(P) >= 0) return None
    val alpha = fp(x.pow(3).add(B))
    // p ≡ 3 (mod 4) → sqrt = alpha^((p+1)/4)
    val beta = alpha.modPow(P.add(BigInteger.ONE).shiftRight(2), P)
    if (fp(beta.pow(2)) != alpha) return None
    val y = if (beta.testBit(0) == odd) beta else P.subtract(beta)
    Some((x, y))
  }

  /** SEC 1 §4.1.6 public-key recovery. recId ∈ 0..3 (Ethereum v−27):
    * Q = r⁻¹(s·R − e·G) = u1·G + u2·R with u1 = −e·r⁻¹, u2 = s·r⁻¹
    * (mod n). None for out-of-range scalars or recId, an x off the
    * curve, or Q at infinity. */
  def recoverPublicKey(msgHash: Array[Byte], r: BigInteger, s: BigInteger,
                       recId: Int): Option[(BigInteger, BigInteger)] = {
    if (recId < 0 || recId > 3) return None
    if (r.signum() <= 0 || r.compareTo(N) >= 0) return None
    if (s.signum() <= 0 || s.compareTo(N) >= 0) return None
    val x = if (recId >= 2) r.add(N) else r
    liftX(x, odd = (recId & 1) == 1).flatMap { rPoint =>
      val e = new BigInteger(1, msgHash)
      val rInv = r.modInverse(N)
      val u1 = e.negate().multiply(rInv).mod(N)
      val u2 = s.multiply(rInv).mod(N)
      affine(mulAdd(u1, jac(G), u2, jac(Some(rPoint))))
    }
  }

  /** Ethereum address of an (x, y) public key: last 20 bytes of
    * keccak256(x ‖ y). */
  def address(pub: (BigInteger, BigInteger)): String = {
    def pad32(b: BigInteger): Array[Byte] = {
      val raw = b.toByteArray.dropWhile(_ == 0)
      val out = new Array[Byte](32)
      System.arraycopy(raw, 0, out, 32 - raw.length, raw.length)
      out
    }
    val h = Keccak.hash256(pad32(pub._1) ++ pad32(pub._2))
    "0x" + Keccak.hex(java.util.Arrays.copyOfRange(h, 12, 32))
  }

  /** Recover the signer's Ethereum address, null on failure — best-
    * effort like the reference's tx_from. */
  def recoverAddress(msgHash: Array[Byte], r: BigInteger, s: BigInteger,
                     recId: Int): String =
    recoverPublicKey(msgHash, r, s, recId).map(address).orNull

  /** Minimal ECDSA sign (deterministic k for tests only). Returns
    * (r, s, recId). */
  def sign(msgHash: Array[Byte], priv: BigInteger, k: BigInteger)
      : (BigInteger, BigInteger, Int) = {
    val rp = mul(k, G).get
    val r = rp._1.mod(N)
    require(r.signum() != 0, "bad k")
    val e = new BigInteger(1, msgHash)
    val s = k.modInverse(N).multiply(e.add(r.multiply(priv))).mod(N)
    require(s.signum() != 0, "bad k")
    val recId = (if (rp._2.testBit(0)) 1 else 0) |
      (if (rp._1.compareTo(N) >= 0) 2 else 0)
    (r, s, recId)
  }
}
