package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature kernels.
  *
  * Why fused kernels and not `explode(shingles) → groupBy(id).agg(min×k)`:
  * the exploded form shuffles every shingle row through a wide partial
  * aggregate — at 100 TB that is a full extra pass over a multiplied
  * corpus. These kernels compute the whole k-hash signature per document
  * inside whole-stage codegen: no explode, no aggregate, no shuffle; the
  * signature projection pipelines straight out of the scan.
  *
  * Two hash families:
  *  - `xxhash64` (production): token/shingle bytes through XXH64, per-hash
  *    lane derived with one extra hashLong — cheapest per shingle.
  *  - `sha256` (verification): lane i of shingle `sh` is the hex digest of
  *    the string "i:sh", and the lane minimum is the lexicographic min of
  *    hex strings. This is EXACTLY `min(sha256(i || ':' || sh))` in
  *    DuckDB/ANSI SQL (hex is byte-monotone), which is what makes the
  *    whole LSH dedup pipeline oracle-checkable end-to-end — same
  *    algorithm, different hash family, swapped by one parameter.
  */
object MinHashKernels {

  private[graft] val shaDigest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))

  /** Precomputed "i:" lane prefixes — allocated once, not per shingle
    * per lane. Bounds the lane count; plenty for any real signature. */
  private[graft] val MaxLanes = 256
  private val lanePrefix: Array[Array[Byte]] =
    Array.tabulate(MaxLanes)(i => s"$i:".getBytes("US-ASCII"))

  private val HexChars = "0123456789abcdef".toCharArray

  private def toHex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >>> 4) & 0xF).toByte
      out(2 * i + 1) = HexChars(bytes(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned byte-wise compare (== hex-string lexicographic order) */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xFF
      val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** sha256 lane digests of "i:" + shingle-bytes for i in [0, k), folded
    * into the running minima. The shingle arrives as (bytes, segments of
    * [start, end)) so callers never materialize a concatenated string. */
  private def shaLanesBytes(k: Int, mins: Array[Array[Byte]])(
      feed: MessageDigest => Unit): Unit = {
    val md = shaDigest.get()
    var i = 0
    while (i < k) {
      md.reset()
      md.update(lanePrefix(i))
      feed(md)
      val d = md.digest()
      if (mins(i) == null || lessThan(d, mins(i))) mins(i) = d
      i += 1
    }
  }

  private def xxLanes(shingleHash: Long, k: Int, mins: Array[Long]): Unit = {
    var i = 0
    while (i < k) {
      val h = XXH64.hashLong(shingleHash, i.toLong)
      if (h < mins(i)) mins(i) = h
      i += 1
    }
  }

  // ------------------------------------------------------- token 2-shingles

  /** Null array elements are SKIPPED (shingles pair consecutive non-null
    * tokens, as if the nulls were filtered out first), and a token-less
    * row — empty array, or all elements null — returns null rather than a
    * degenerate constant signature: k lanes of Long.MaxValue would make
    * every token-less document band-collide with every other as a
    * "near-dup", and a raw getUTF8String on a null slot would NPE the
    * executor on data (minhash_sig is SQL-registered, so inputs are not
    * guaranteed pre-filtered the way Dedup/Linkage pre-filter theirs). */
  private def nonNullTokens(tokens: ArrayData): Array[UTF8String] = {
    val n = tokens.numElements()
    val out = new Array[UTF8String](n)
    var m = 0
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j)) { out(m) = tokens.getUTF8String(j); m += 1 }
      j += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** xxhash64-family signature over token 2-shingles (tokens themselves
    * when fewer than 2 tokens). Returns array<long> of length k, or null
    * for a token-less row (see [[nonNullTokens]]). */
  def sigTokensXx(tokens: ArrayData, k: Int): ArrayData = {
    val toks = nonNullTokens(tokens)
    val n = toks.length
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    if (n == 1) {
      xxLanes(XXH64.hashUTF8String(toks(0), 42L), k, mins)
    } else {
      var prev = XXH64.hashUTF8String(toks(0), 42L)
      var j = 1
      while (j < n) {
        val cur = XXH64.hashUTF8String(toks(j), 42L)
        xxLanes(XXH64.hashLong(cur, prev), k, mins)
        prev = cur
        j += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** sha256-family signature over token 2-shingles; shingle string is
    * `tok_j ++ " " ++ tok_{j+1}` (tokens themselves when fewer than 2).
    * Returns array<string> of k lowercase hex digests, or null for a
    * token-less row (see [[nonNullTokens]]). The digest is fed
    * segment-wise (prefix, tokA, " ", tokB) — no concatenated shingle
    * string is ever materialized. */
  def sigTokensSha(tokens: ArrayData, k: Int): ArrayData = {
    val toks = nonNullTokens(tokens)
    val n = toks.length
    if (n == 0) return null
    val mins = new Array[Array[Byte]](k)
    if (n == 1) {
      val tb = toks(0).getBytes
      shaLanesBytes(k, mins)(_.update(tb))
    } else {
      // token bytes materialized once per row, reused by both shingles
      // that touch each token and by all k lanes
      val tb = new Array[Array[Byte]](n)
      var j = 0
      while (j < n) { tb(j) = toks(j).getBytes; j += 1 }
      j = 0
      while (j < n - 1) {
        val a = tb(j)
        val b = tb(j + 1)
        shaLanesBytes(k, mins) { md => md.update(a); md.update(' '.toByte); md.update(b) }
        j += 1
      }
    }
    val out = new Array[AnyRef](k)
    var i = 0
    while (i < k) {
      out(i) = toHex(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  // --------------------------------------------------------- char k-shingles

  /** Code-point k-gram shingle byte spans of `s` (whole string when
    * shorter than k code points). One O(L) pass records the code-point
    * boundary offsets, then each shingle is a (start, end) byte span —
    * per-shingle `substring` would rescan from byte 0 every time, turning
    * long-document fingerprinting O(L²). */
  private def foreachCharShingleSpan(s: UTF8String, shingleK: Int)(
      f: (Array[Byte], Int, Int) => Unit): Unit = {
    val bytes = s.getBytes
    val n = bytes.length
    val nChars = s.numChars()
    if (nChars < shingleK) { f(bytes, 0, n); return }
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var c = 0
    while (i < n) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(c) = n
    var j = 0
    while (j <= nChars - shingleK) {
      f(bytes, offs(j), offs(j + shingleK))
      j += 1
    }
  }

  def sigCharsXx(s: UTF8String, shingleK: Int, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    foreachCharShingleSpan(s, shingleK) { (bytes, from, until) =>
      xxLanes(XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
        until - from, 42L), k, mins)
    }
    new GenericArrayData(mins)
  }

  def sigCharsSha(s: UTF8String, shingleK: Int, k: Int): ArrayData = {
    val mins = new Array[Array[Byte]](k)
    foreachCharShingleSpan(s, shingleK) { (bytes, from, until) =>
      shaLanesBytes(k, mins)(_.update(bytes, from, until - from))
    }
    val out = new Array[AnyRef](k)
    var i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) UTF8String.EMPTY_UTF8 else toHex(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  // --------------------------------------------- one-permutation hashing

  /** OPH bin count — fixed at 16 so the sha256 family's bin index is
    * exactly the FIRST HEX NIBBLE of the single per-shingle digest (a SQL
    * oracle re-derives it with strpos over the hex string) and the
    * xxhash64 family mirrors it with the hash's top nibble. */
  val OphBins = 16

  /** One-permutation MinHash over token 2-shingles, sha256 family
    * (Li-Owen-Zhang 2012; densified per Shrivastava-Li 2014): ONE digest
    * per shingle — O(m) per document where the classic k-lane signature
    * [[sigTokensSha]] is O(k·m) — bucketed by the digest's first hex
    * nibble, keeping the lexicographic-min digest per bin. An empty bin
    * borrows the nearest non-empty bin to the RIGHT (circular, distance
    * j ≥ 1) and TAGS the borrow as `hex ++ ":" ++ j`: two documents
    * collide on a densified bin iff they borrow the same minimum over the
    * same distance — the collision structure the densified-OPH Jaccard
    * estimator needs (untagged copying would inflate agreement between
    * sparse documents). Token-less input → null, as [[sigTokensSha]]. */
  def sigTokensShaOph(tokens: ArrayData): ArrayData = {
    val toks = nonNullTokens(tokens)
    val n = toks.length
    if (n == 0) return null
    val md = shaDigest.get()
    val mins = new Array[Array[Byte]](OphBins)
    def fold(feed: MessageDigest => Unit): Unit = {
      md.reset()
      feed(md)
      val d = md.digest()
      val bin = (d(0) >>> 4) & 0xF
      if (mins(bin) == null || lessThan(d, mins(bin))) mins(bin) = d
    }
    if (n == 1) {
      val tb = toks(0).getBytes
      fold(_.update(tb))
    } else {
      val tb = new Array[Array[Byte]](n)
      var j = 0
      while (j < n) { tb(j) = toks(j).getBytes; j += 1 }
      j = 0
      while (j < n - 1) {
        val a = tb(j)
        val b = tb(j + 1)
        fold { m => m.update(a); m.update(' '.toByte); m.update(b) }
        j += 1
      }
    }
    val out = new Array[AnyRef](OphBins)
    var i = 0
    while (i < OphBins) {
      if (mins(i) != null) out(i) = toHex(mins(i))
      else {
        var j = 1
        while (mins((i + j) % OphBins) == null) j += 1
        out(i) = UTF8String.fromString(
          toHex(mins((i + j) % OphBins)).toString + ":" + j)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-permutation MinHash over token 2-shingles, xxhash64 family — the
    * production path: one 64-bit hash per shingle, top-nibble bins,
    * UNSIGNED minima (mirroring the sha family's lexicographic byte
    * order), rotation densification re-keyed by distance —
    * `XXH64.hashLong(borrowed, j)`, deterministic in (value, distance),
    * so the collision structure matches the sha family's tagged borrow. */
  def sigTokensXxOph(tokens: ArrayData): ArrayData = {
    val toks = nonNullTokens(tokens)
    val n = toks.length
    if (n == 0) return null
    val mins = new Array[Long](OphBins)
    val filled = new Array[Boolean](OphBins)
    def fold(h: Long): Unit = {
      val bin = ((h >>> 60) & 0xFL).toInt
      if (!filled(bin) || java.lang.Long.compareUnsigned(h, mins(bin)) < 0) {
        mins(bin) = h
        filled(bin) = true
      }
    }
    if (n == 1) fold(XXH64.hashUTF8String(toks(0), 42L))
    else {
      var prev = XXH64.hashUTF8String(toks(0), 42L)
      var j = 1
      while (j < n) {
        val cur = XXH64.hashUTF8String(toks(j), 42L)
        fold(XXH64.hashLong(cur, prev))
        prev = cur
        j += 1
      }
    }
    val out = new Array[Long](OphBins)
    var i = 0
    while (i < OphBins) {
      if (filled(i)) out(i) = mins(i)
      else {
        var j = 1
        while (!filled((i + j) % OphBins)) j += 1
        out(i) = XXH64.hashLong(mins((i + j) % OphBins), j.toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  // --------------------------------------------------------- b-bit MinHash

  private def requirePackable(k: Int, b: Int): Unit = {
    val lanesPerWord = 64 / b
    require(k % lanesPerWord == 0,
      s"b-bit packing needs numHashes ($k) divisible by ${lanesPerWord} (= 64/b) lanes per word")
  }

  /** Pack the low b bits of each xxhash64-family lane, lane i at bits
    * [(i mod 64/b)·b, …) of word i/(64/b). */
  def bbitPackXx(sig: ArrayData, b: Int): ArrayData = {
    val k = sig.numElements()
    requirePackable(k, b)
    val lanesPerWord = 64 / b
    val mask = if (b == 64) -1L else (1L << b) - 1L
    val words = new Array[Long](k / lanesPerWord)
    var i = 0
    while (i < k) {
      val v = sig.getLong(i) & mask
      words(i / lanesPerWord) |= v << ((i % lanesPerWord) * b)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Pack the low b bits of each sha256-family lane — the low b bits of
    * the 256-bit digest, i.e. the integer value of the LAST b/4 hex
    * chars (what `strpos`-arithmetic re-derives in the DuckDB oracle). */
  def bbitPackSha(sig: ArrayData, b: Int): ArrayData = {
    val k = sig.numElements()
    requirePackable(k, b)
    val lanesPerWord = 64 / b
    val words = new Array[Long](k / lanesPerWord)
    var i = 0
    while (i < k) {
      val h = sig.getUTF8String(i)
      val nb = h.numBytes
      var v = 0L
      var j = nb - b / 4
      while (j < nb) {
        val c = h.getByte(j)
        val d = if (c >= '0' && c <= '9') c - '0' else c - 'a' + 10
        v = (v << 4) | d.toLong
        j += 1
      }
      words(i / lanesPerWord) |= v << ((i % lanesPerWord) * b)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Count of agreeing b-bit lanes between two packed signatures. */
  def bbitMatchCount(pa: ArrayData, pb: ArrayData, b: Int): Int = {
    val n = pa.numElements()
    require(n == pb.numElements(),
      s"packed signatures differ in length: $n vs ${pb.numElements()}")
    val lanesPerWord = 64 / b
    val mask = if (b == 64) -1L else (1L << b) - 1L
    var cnt = 0
    var w = 0
    while (w < n) {
      val x = pa.getLong(w) ^ pb.getLong(w)
      var l = 0
      while (l < lanesPerWord) {
        if (((x >>> (l * b)) & mask) == 0L) cnt += 1
        l += 1
      }
      w += 1
    }
    cnt
  }

  /** Li-König unbiased Jaccard estimate from packed b-bit signatures:
    * (f − c) / (1 − c) with f = matching-lane fraction and c = 2^-b the
    * accidental-collision rate. Pinned IEEE order: f = matches/k first,
    * then the corrected ratio — the oracle replays the identical ops.
    * NOT clamped: small-sample estimates below c come out negative by
    * design (thresholding is the caller's decision). */
  def bbitJaccardEst(pa: ArrayData, pb: ArrayData, b: Int): Double = {
    val k = pa.numElements() * (64 / b)
    val f = bbitMatchCount(pa, pb, b).toDouble / k.toDouble
    val c = 1.0 / (1L << b).toDouble
    (f - c) / (1.0 - c)
  }
}

/** The hash family names. An entry point that takes a family accepts its
  * production family (`xxhash64` or `fnv`, fixed per entry point) and
  * `sha256`, which Spark and ANSI SQL compute bit-equally, so an output
  * built on it can be checked against a SQL oracle. */
object HashFamily {
  /** `true` for `sha256`, `false` for `production`; any other name is
    * rejected. */
  def isSha256(family: String, production: String): Boolean = {
    require(family == "sha256" || family == production,
      s"hash family must be $production or sha256, got '$family'")
    family == "sha256"
  }
}
