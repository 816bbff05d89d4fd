package graft

import graft.evm.{Keccak, Secp256k1}
import org.scalatest.funsuite.AnyFunSuite
import java.math.BigInteger

class Secp256k1Spec extends AnyFunSuite {

  test("known vector: private key 1 → canonical Ethereum address") {
    val pub = Secp256k1.mul(BigInteger.ONE, Secp256k1.G).get
    assert(pub._1 == Secp256k1.Gx && pub._2 == Secp256k1.Gy)
    assert(Secp256k1.address(pub) ==
      "0x7e5f4552091a69125d5dfcb7b8c2659029395bdf")
  }

  test("curve law: 2G + G == 3G, n·G == infinity") {
    val g2 = Secp256k1.add(Secp256k1.G, Secp256k1.G)
    val g3a = Secp256k1.add(g2, Secp256k1.G)
    val g3b = Secp256k1.mul(BigInteger.valueOf(3), Secp256k1.G)
    assert(g3a == g3b)
    assert(Secp256k1.mul(Secp256k1.N, Secp256k1.G).isEmpty)
  }

  test("sign → recover roundtrip returns the signer's address") {
    val priv = new BigInteger(
      "4c0883a69102937d6231471b5dbb6204fe512961708279f2e3e8a5d4b8e3e9c1", 16)
    val expected = Secp256k1.address(Secp256k1.mul(priv, Secp256k1.G).get)
    val msg = Keccak.hash256("graft tx payload".getBytes("UTF-8"))
    val k = new BigInteger(
      "7a1a7e52797fc8caaa435d2a4dace39158504bf204fbe19f14dbb427faee50ae", 16)
    val (r, s, recId) = Secp256k1.sign(msg, priv, k)
    assert(Secp256k1.recoverAddress(msg, r, s, recId) == expected)
    // the other parity must NOT recover to the same address
    val other = Secp256k1.recoverAddress(msg, r, s, recId ^ 1)
    assert(other != null && other != expected)
  }

  test("invalid signatures recover to null, not failure (best-effort J2)") {
    val msg = Keccak.hash256("x".getBytes("UTF-8"))
    assert(Secp256k1.recoverAddress(msg, BigInteger.ZERO, BigInteger.ONE, 0) == null)
    assert(Secp256k1.recoverAddress(msg, Secp256k1.N, BigInteger.ONE, 0) == null)
  }

  import Secp256k1.{G, N, P}

  private val rnd = new java.util.Random(20240417L)
  private def scalar(): BigInteger =
    Iterator.continually(new BigInteger(256, rnd).mod(N)).find(_.signum() > 0).get

  test("differential: 256 seeded signatures recover the signer, high-s too") {
    for (i <- 0 until 256) {
      val priv = scalar()
      val msg = Keccak.hash256(s"graft differential $i".getBytes("UTF-8"))
      val want = Secp256k1.address(Secp256k1.mul(priv, G).get)
      val (r, s, recId) = Secp256k1.sign(msg, priv, scalar())
      assert(Secp256k1.recoverAddress(msg, r, s, recId) == want, s"triple $i")
      assert(Secp256k1.recoverAddress(msg, r, s, recId ^ 1) != want, s"triple $i")
      // (r, n − s) is the same signature with R's parity flipped
      assert(Secp256k1.recoverAddress(msg, r, N.subtract(s), recId ^ 1) == want,
        s"triple $i, high-s")
    }
  }

  test("external vector: the EIP-155 example signature recovers its sender") {
    // the published EIP-155 example: v = 37 is chain 1, recId 0, over
    // the sighash RlpSpec pins for the same transaction
    val sighash = "daf5a779ae972f972197303d7b574746c7ef83eadac0f2791ad23db92e4c8e53"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val r = new BigInteger(
      "18515461264373351373200002665853028612451056578545711640558177340181847433846")
    val s = new BigInteger(
      "46948507304638947509940763649030358759909902576025900602547168820602576006531")
    assert(Secp256k1.recoverAddress(sighash, r, s, 37 - 35 - 2 * 1) ==
      "0x9d8a62f656a8d1615c1294fd71e9cfb3e4855a4f")
  }

  test("edge cases recover to null and never throw") {
    val msg = Keccak.hash256("edge".getBytes("UTF-8"))
    val (r, s, recId) = Secp256k1.sign(msg, scalar(), scalar())
    def none(r: BigInteger, s: BigInteger, recIds: Seq[Int] = 0 to 3): Unit =
      recIds.foreach(id => assert(Secp256k1.recoverAddress(msg, r, s, id) == null,
        s"r=$r s=$s recId=$id"))
    // scalars out of [1, n)
    for (bad <- Seq(BigInteger.ZERO, N, N.add(BigInteger.ONE), P)) {
      none(bad, s); none(r, bad)
    }
    // recId outside 0..3
    none(r, s, Seq(-1, 4, 27))
    // an x with no curve point (x³ + 7 is a non-residue)
    val offCurve = Iterator.from(1).map(i => BigInteger.valueOf(i.toLong))
      .find(x => Secp256k1.liftX(x, odd = false).isEmpty).get
    none(offCurve, s)
    // recId 2/3 put R at x = r + n, which is no field element once r + n ≥ p
    for (big <- Seq(P.subtract(N), N.subtract(BigInteger.ONE))) none(big, s, Seq(2, 3))
    // Q at infinity: R = k·G and s = e·k⁻¹ make s·R = e·G, so
    // Q = r⁻¹(s·R − e·G) = ∞
    val k = scalar()
    val (rx, ry) = Secp256k1.mul(k, G).get
    assert(rx.compareTo(N) < 0)
    val sInf = new BigInteger(1, msg).multiply(k.modInverse(N)).mod(N)
    val parity = if (ry.testBit(0)) 1 else 0
    assert(Secp256k1.recoverPublicKey(msg, rx, sInf, parity).isEmpty)
    none(rx, sInf, Seq(parity))
    // the mirrored R (other parity) gives −2e·r⁻¹·G, a real key
    assert(Secp256k1.recoverAddress(msg, rx, sInf, parity ^ 1) != null)
  }
}
