package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter privacy-preserving record linkage (PPRL) kernels —
  * cryptographic long-term keys (CLK) per Schnell, Bachteler & Reiher
  * (2009/2011): each identifier is encoded as an m-bit Bloom filter of
  * its padded code-point bigrams, g bit positions per bigram derived by
  * Kirsch-Mitzenmacher double hashing over sha256 — position_i =
  * (h1 + i·h2) mod m with h1/h2 the digest's first/second big-endian
  * 32-bit words. Two encoded records compare with DICE over the bitsets
  * (Schnell's published comparator: Dice, not Jaccard — Bloom collisions
  * bias Jaccard harder). The party doing the linkage never sees the
  * identifiers, only the filters; similarity survives typos because
  * bigram sets overlap.
  *
  * Everything is deterministic and integer-exact, so a SQL oracle can
  * replay the whole construction from sha256 hex (the q_clk_bits /
  * q_clk_dice gates do). Production comparisons run on the PACKED form
  * (array of m/64 longs, [[BloomKernels.clkSig]]) with
  * `Long.bitCount` — no per-bit rows anywhere in the hot path. */
object BloomKernels {

  /** The largest filter size m, in bits. */
  private[graft] val MaxBits = 1 << 20

  /** Underscore-padded code-point bigram byte spans of `s`: bigrams of
    * "_" ++ s ++ "_" — the sentinel padding Schnell's construction uses
    * so first/last characters carry positional signal. The padded buffer
    * is materialized once; each bigram is a byte span over it. */
  private def foreachPaddedBigram(s: UTF8String)(
      f: (Array[Byte], Int, Int) => Unit): Unit = {
    val sb = s.getBytes
    val bytes = new Array[Byte](sb.length + 2)
    bytes(0) = '_'.toByte
    System.arraycopy(sb, 0, bytes, 1, sb.length)
    bytes(sb.length + 1) = '_'.toByte
    val n = bytes.length
    // code-point starts (padding bytes are ASCII, so they are boundaries)
    var prev = 0
    var i = UTF8String.numBytesForFirstByte(bytes(0))
    while (i < n) {
      val next = i + UTF8String.numBytesForFirstByte(bytes(i))
      f(bytes, prev, next)
      prev = i
      i = next
    }
  }

  /** Big-endian unsigned 32-bit word at `off` — exactly what a SQL oracle
    * recovers by nibble-parsing hex chars [2·off+1, 2·off+8]. */
  private def u32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
      ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)

  private def setBits(s: UTF8String, m: Int, g: Int,
      salt: Array[Byte]): Array[Boolean] = {
    val md = MinHashKernels.shaDigest.get()
    val bits = new Array[Boolean](m)
    foreachPaddedBigram(s) { (bytes, from, until) =>
      md.reset()
      if (salt.length > 0) md.update(salt)
      md.update(bytes, from, until - from)
      val d = md.digest()
      val h1 = u32(d, 0)
      val h2 = u32(d, 4)
      var i = 0
      while (i < g) {
        bits(((h1 + i * h2) % m).toInt) = true
        i += 1
      }
    }
    bits
  }

  /** Sorted distinct set bit positions (array<int>) — the oracle-facing
    * form; one row per bit when exploded. */
  def clkBits(s: UTF8String, m: Int, g: Int, salt: Array[Byte]): ArrayData = {
    val bits = setBits(s, m, g, salt)
    var c = 0
    var i = 0
    while (i < m) { if (bits(i)) c += 1; i += 1 }
    val out = new Array[Int](c)
    var j = 0
    i = 0
    while (i < m) {
      if (bits(i)) { out(j) = i; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Packed filter: m/64 longs, bit p stored in word p >> 6 at bit
    * p & 63 — the production form [[bloomDice]] compares with popcounts.
    * m must be a multiple of 64. */
  def clkSig(s: UTF8String, m: Int, g: Int, salt: Array[Byte]): ArrayData = {
    val bits = setBits(s, m, g, salt)
    val words = new Array[Long](m >> 6)
    var i = 0
    while (i < m) {
      if (bits(i)) words(i >> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Dice coefficient 2·|A∧B| / (|A|+|B|) of two equal-length packed
    * filters. Both-empty → 1.0 (the ""-vs-"" = 1.0 convention every
    * strsim kernel here shares). Unequal lengths = different m — a user
    * error worth failing loudly on, not a 0.0. */
  def bloomDice(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"bloom_dice: filters differ in length (${n} vs ${b.numElements()} words — built with different m?)")
    var inter = 0
    var ca = 0
    var cb = 0
    var i = 0
    while (i < n) {
      val wa = a.getLong(i)
      val wb = b.getLong(i)
      inter += java.lang.Long.bitCount(wa & wb)
      ca += java.lang.Long.bitCount(wa)
      cb += java.lang.Long.bitCount(wb)
      i += 1
    }
    if (ca + cb == 0) 1.0 else 2.0 * inter / (ca + cb)
  }
}
