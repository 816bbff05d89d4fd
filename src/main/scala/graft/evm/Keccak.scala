package graft.evm

/** Keccak-256 (original Keccak padding 0x01, as used by Ethereum — NOT
  * FIPS-202 SHA3-256, which pads 0x06). Implemented from the public
  * Keccak specification; verified against the standard test vectors
  * (empty string, "abc") and the canonical ERC-20 Transfer topic0 in
  * KeccakSpec.
  *
  * Reference behavior mirrored: topic0 = keccak256(eventSignature),
  * precomputed at plan time from the ABI (`internal/indexer/indexer.go:54-88`).
  */
object Keccak {

  private val RC: Array[Long] = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808AL,
    0x8000000080008000L, 0x000000000000808BL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008AL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000AL,
    0x000000008000808BL, 0x800000000000008BL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800AL, 0x800000008000000AL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  // Rotation offsets r[x][y], lane (x, y) stored at index x + 5y.
  private val ROT: Array[Array[Int]] = Array(
    Array(0, 36, 3, 41, 18),
    Array(1, 44, 10, 45, 2),
    Array(62, 6, 43, 15, 61),
    Array(28, 55, 25, 21, 56),
    Array(27, 20, 39, 8, 14))

  private def keccakF(a: Array[Long]): Unit = {
    val c = new Array[Long](5)
    val d = new Array[Long](5)
    val b = new Array[Long](25)
    var round = 0
    while (round < 24) {
      // theta
      var x = 0
      while (x < 5) {
        c(x) = a(x) ^ a(x + 5) ^ a(x + 10) ^ a(x + 15) ^ a(x + 20); x += 1
      }
      x = 0
      while (x < 5) {
        d(x) = c((x + 4) % 5) ^ java.lang.Long.rotateLeft(c((x + 1) % 5), 1)
        var y = 0
        while (y < 25) { a(x + y) ^= d(x); y += 5 }
        x += 1
      }
      // rho + pi: B[y, 2x+3y] = rotl(A[x, y], r[x, y])
      var i = 0
      while (i < 25) {
        val lx = i % 5; val ly = i / 5
        b(ly + 5 * ((2 * lx + 3 * ly) % 5)) =
          java.lang.Long.rotateLeft(a(i), ROT(lx)(ly))
        i += 1
      }
      // chi
      var y = 0
      while (y < 25) {
        x = 0
        while (x < 5) {
          a(x + y) = b(x + y) ^ (~b((x + 1) % 5 + y) & b((x + 2) % 5 + y))
          x += 1
        }
        y += 5
      }
      // iota
      a(0) ^= RC(round)
      round += 1
    }
  }

  private final val Rate = 136 // bytes, Keccak-256 rate (1088 bits)

  /** Keccak-256 digest of `input`, 32 bytes. */
  def hash256(input: Array[Byte]): Array[Byte] = {
    val state = new Array[Long](25)
    val padded = {
      val padLen = Rate - (input.length % Rate)
      val out = java.util.Arrays.copyOf(input, input.length + padLen)
      out(input.length) = 0x01.toByte // original Keccak domain padding
      out(out.length - 1) = (out(out.length - 1) | 0x80).toByte
      out
    }
    var off = 0
    while (off < padded.length) {
      var i = 0
      while (i < Rate / 8) {
        var lane = 0L
        var j = 7
        while (j >= 0) { lane = (lane << 8) | (padded(off + i * 8 + j) & 0xffL); j -= 1 }
        state(i) ^= lane
        i += 1
      }
      keccakF(state)
      off += Rate
    }
    val out = new Array[Byte](32)
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 8) { out(i * 8 + j) = ((state(i) >>> (8 * j)) & 0xff).toByte; j += 1 }
      i += 1
    }
    out
  }

  private val Hex = java.util.HexFormat.of()

  /** Lowercase hex, no prefix: the one hex renderer of the EVM surface
    * (topics, addresses, ABI words, `data_hex` via [[AbiRt.hex0x]]). */
  def hex(bytes: Array[Byte]): String = Hex.formatHex(bytes)

  /** topic0 of an event signature like "Transfer(address,address,uint256)". */
  def eventTopic0(signature: String): String =
    "0x" + hex(hash256(signature.getBytes("UTF-8")))
}
