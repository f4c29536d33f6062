package graft.strsim

import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM string-similarity kernels (zero Spark-plan dependencies so the
  * whole-stage-codegen'd call site is a single static invoke).
  *
  * Semantics are pinned bit-for-bit to the reference
  * (`/root/reference/src/expressions/strsim.rs`, foxcroftjn/polars-strsim
  * v0.2.3) and validated against its 1,115 embedded test vectors:
  *
  *  - All iteration is over Unicode scalar values (code points), matching
  *    Rust `str::chars()` (strsim.rs:131-140) — never Java UTF-16 chars.
  *  - `a == b` (byte equality, incl. both-empty) → 1.0; exactly one side
  *    empty → 0.0; null handling lives in the Catalyst layer
  *    (null-intolerant expressions), matching the reference's
  *    `binary_elementwise_values` null skip (strsim.rs:63-68).
  *  - Jaro floors the transposition half-count (`(m - t/2)` with integer
  *    division, strsim.rs:241) and keeps the reference's IEEE evaluation
  *    order; Jaro-Winkler boosts only when jaro > 0.7 strictly with ≤4
  *    shared prefix code points (strsim.rs:257-271).
  *  - Jaccard / Sørensen-Dice are **multiset** (bag-of-code-points)
  *    similarities (strsim.rs:286-344), not set-based.
  *  - damerau_levenshtein / hamming are the two north-star additions absent
  *    from the reference snapshot: unrestricted Damerau-Levenshtein
  *    (Lowrance-Wagner, matches DuckDB's `damerau_levenshtein`) and
  *    positional Hamming over the common prefix + length difference, both
  *    normalized like the reference kernels (1 - dist/max(|a|,|b|)).
  *
  * Per-thread scratch buffers replicate the reference's per-kernel-instance
  * buffer reuse (strsim.rs:7,116-122,171-177): steady-state zero allocation
  * per row, which matters at 10^12-pair scale. Safe because Spark evaluates
  * a task on a single thread.
  */
object StrSimKernels {

  /** Growable per-thread scratch. Sized for typical names/URLs; grows
    * geometrically and never shrinks within a thread. */
  private final class Scratch {
    var aCp: Array[Int] = new Array[Int](64)
    var bCp: Array[Int] = new Array[Int](64)
    var dp: Array[Int] = new Array[Int](256)        // levenshtein 2-row DP
    var flagA: Array[Boolean] = new Array[Boolean](64)
    var flagB: Array[Boolean] = new Array[Boolean](64)
    var sortA: Array[Int] = new Array[Int](64)      // jaccard/dice sorted bags
    var sortB: Array[Int] = new Array[Int](64)
    var dlH: Array[Int] = new Array[Int](0)         // DL (n+2)x(m+2) matrix
    var osa: Array[Int] = new Array[Int](0)         // OSA 3-row rolling DP
    val dlLast = new java.util.HashMap[Integer, Integer](64) // DL last-occurrence
    // Monge-Elkan token spans (byte offsets/lengths; start non-empty — the
    // geometric `ensure` growth needs a seed size)
    var tokOffA: Array[Int] = new Array[Int](16)
    var tokLenA: Array[Int] = new Array[Int](16)
    var tokOffB: Array[Int] = new Array[Int](16)
    var tokLenB: Array[Int] = new Array[Int](16)
    var gramA: Array[Long] = new Array[Long](64)    // packed q-gram bags
    var gramB: Array[Long] = new Array[Long](64)
    // Ratcliff-Obershelp segment worklist (4 ints per frame; filled
    // incrementally, so growth must COPY — use ensureCopy, never ensure)
    var roStack: Array[Int] = new Array[Int](64)
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  private def ensure(arr: Array[Int], n: Int): Array[Int] =
    if (arr.length >= n) arr else new Array[Int](java.lang.Integer.highestOneBit(n - 1) << 1)
  /** Growth that PRESERVES existing contents — required by callers that fill
    * the array incrementally across ensure calls (tokenize); `ensure` would
    * silently zero the already-stored spans. */
  private def ensureCopy(arr: Array[Int], n: Int): Array[Int] =
    if (arr.length >= n) arr
    else java.util.Arrays.copyOf(arr, java.lang.Integer.highestOneBit(n - 1) << 1)
  private def ensureB(arr: Array[Boolean], n: Int): Array[Boolean] =
    if (arr.length >= n) arr else new Array[Boolean](java.lang.Integer.highestOneBit(n - 1) << 1)

  /** Decode UTF-8 bytes of `s` into code points in `buf`; returns count.
    * Matches Rust `chars()` iteration (UTF8String bytes are valid UTF-8). */
  private def decode(s: UTF8String, buf: Array[Int]): Int = {
    val nb = s.numBytes
    var i = 0
    var n = 0
    while (i < nb) {
      val b0 = s.getByte(i) & 0xFF
      if (b0 < 0x80) { buf(n) = b0; i += 1 }
      else if ((b0 & 0xE0) == 0xC0) {
        buf(n) = ((b0 & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F); i += 2
      } else if ((b0 & 0xF0) == 0xE0) {
        buf(n) = ((b0 & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
          (s.getByte(i + 2) & 0x3F); i += 3
      } else {
        buf(n) = ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
          ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F); i += 4
      }
      n += 1
    }
    n
  }

  // ---------------------------------------------------------------- Levenshtein

  /** Common prefix length of s.aCp[0,n) and s.bCp[0,m). */
  private def commonPrefix(s: Scratch, n: Int, m: Int): Int = {
    val lim = math.min(n, m)
    var lo = 0
    while (lo < lim && s.aCp(lo) == s.bCp(lo)) lo += 1
    lo
  }

  /** Common suffix length of the untrimmed tails after dropping `lo` prefix
    * code points (never overlaps the prefix). */
  private def commonSuffix(s: Scratch, n: Int, m: Int, lo: Int): Int = {
    val lim = math.min(n, m) - lo
    var hi = 0
    while (hi < lim && s.aCp(n - 1 - hi) == s.bCp(m - 1 - hi)) hi += 1
    hi
  }

  /** Normalized Levenshtein similarity: 1 - dist/max(|a|,|b|) over code
    * points; two-row DP (reference strsim.rs:125-162). Common prefix/suffix
    * is trimmed before the DP — edit distance is invariant under shared
    * affixes, and real linkage pairs (near-duplicate names/URLs) are mostly
    * shared affix, so the quadratic region collapses; the normalization
    * still uses the ORIGINAL code-point counts, keeping the result
    * bit-identical. */
  def levenshtein(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val lo = commonPrefix(s, n, m)
    val hi = commonSuffix(s, n, m, lo)
    val dist = levDistance(s, lo, n - lo - hi, m - lo - hi)
    1.0 - dist.toDouble / math.max(n, m).toDouble
  }

  /** Two-row DP over s.aCp[off,off+n) x s.bCp[off,off+m);
    * dp layout dp(2*j + col). */
  private def levDistance(s: Scratch, off: Int, n: Int, m: Int): Int = {
    if (n == 0) return m
    if (m == 0) return n
    s.dp = ensure(s.dp, 2 * (m + 1))
    val dp = s.dp
    var j = 0
    while (j <= m) { dp(2 * j) = j; j += 1 }
    var i = 0
    while (i < n) {
      val v0 = i & 1
      val v1 = 1 - v0
      dp(v1) = i + 1
      val ai = s.aCp(off + i)
      j = 0
      while (j < m) {
        val sub = if (ai == s.bCp(off + j)) dp(2 * j + v0) else dp(2 * j + v0) + 1
        var best = sub
        val del = dp(2 * (j + 1) + v0) + 1
        if (del < best) best = del
        val ins = dp(2 * j + v1) + 1
        if (ins < best) best = ins
        dp(2 * (j + 1) + v1) = best
        j += 1
      }
      i += 1
    }
    dp(2 * m + (n & 1))
  }

  // ---------------------------------------------------------------- Jaro

  /** Jaro similarity with the reference's floored transposition half-count
    * (strsim.rs:180-244). Decodes into scratch; `jaroDecoded` also used by
    * Jaro-Winkler for the prefix scan. */
  def jaro(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    jaroOnScratch(s, n, m)
  }

  private def jaroOnScratch(s: Scratch, n: Int, m: Int): Double = {
    if (n == 1 && m == 1) return if (s.aCp(0) == s.bCp(0)) 1.0 else 0.0
    val maxLen = math.max(n, m)
    val bound = maxLen / 2 - 1
    s.flagA = ensureB(s.flagA, maxLen); s.flagB = ensureB(s.flagB, maxLen)
    val flagA = s.flagA
    val flagB = s.flagB
    java.util.Arrays.fill(flagA, 0, maxLen, false)
    java.util.Arrays.fill(flagB, 0, maxLen, false)
    var matchCount = 0
    val iMax = math.min(n, m + bound)
    var i = 0
    while (i < iMax) {
      val ai = s.aCp(i)
      var j = if (bound > i) 0 else i - bound
      val hi = math.min(i + bound, m - 1)
      var found = false
      while (!found && j <= hi) {
        if (ai == s.bCp(j) && !flagB(j)) {
          matchCount += 1
          flagA(i) = true
          flagB(j) = true
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (matchCount == 0) return 0.0
    // zip flagged positions of a (in order) with flagged positions of b;
    // t = aligned pairs with differing code points (strsim.rs:220-237)
    var t = 0
    var ia = 0
    var jb = 0
    var k = 0
    while (k < matchCount) {
      while (!flagA(ia)) ia += 1
      while (!flagB(jb)) jb += 1
      if (s.aCp(ia) != s.bCp(jb)) t += 1
      ia += 1; jb += 1; k += 1
    }
    // keep the reference's exact IEEE evaluation order (strsim.rs:241-242)
    (matchCount.toDouble / n.toDouble + matchCount.toDouble / m.toDouble +
      (matchCount - t / 2).toDouble / matchCount.toDouble) / 3.0
  }

  // ---------------------------------------------------------------- Jaro-Winkler

  /** Jaro-Winkler: boost iff jaro > 0.7 strictly, shared prefix counted on
    * the original strings, capped at 4 code points (strsim.rs:257-271). */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val j = jaro(a, b)
    if (j > 0.7) {
      // prefix over code points of the originals; decode lazily & cheaply:
      // compare UTF-8 bytes code point by code point (identical prefixes
      // have identical bytes — UTF-8 is self-synchronizing)
      var l = 0
      var ia = 0
      var ib = 0
      val na = a.numBytes
      val nb = b.numBytes
      var cont = true
      while (cont && l < 4 && ia < na && ib < nb) {
        val la = cpLen(a.getByte(ia))
        val lb = cpLen(b.getByte(ib))
        if (la == lb && sameBytes(a, ia, b, ib, la)) { l += 1; ia += la; ib += lb }
        else cont = false
      }
      j + (l.toDouble * 0.1 * (1.0 - j))
    } else j
  }

  private def cpLen(b0: Byte): Int = {
    val b = b0 & 0xFF
    if (b < 0x80) 1 else if ((b & 0xE0) == 0xC0) 2 else if ((b & 0xF0) == 0xE0) 3 else 4
  }

  private def sameBytes(a: UTF8String, ia: Int, b: UTF8String, ib: Int, len: Int): Boolean = {
    var k = 0
    while (k < len) {
      if (a.getByte(ia + k) != b.getByte(ib + k)) return false
      k += 1
    }
    true
  }

  // ---------------------------------------------------------------- Jaccard / Dice

  /** Decode both sides into sortA/sortB, sort, and return Σ_c min(n_a, n_b)
    * (multiset intersection size) via a linear merge. Also leaves n, m in
    * the returned packed long: (n << 21 | m) << 21 | inter. Lengths are
    * bounded by numChars ≤ numBytes which is an int, and realistic strings
    * are far below 2^21 code points; longer inputs would overflow the pack,
    * so pack only when safe — otherwise fall back handled by callers. */
  private def bagIntersect(a: UTF8String, b: UTF8String): (Int, Int, Int) = {
    val s = scratch.get()
    s.sortA = ensure(s.sortA, a.numChars); s.sortB = ensure(s.sortB, b.numChars)
    val n = decode(a, s.sortA)
    val m = decode(b, s.sortB)
    java.util.Arrays.sort(s.sortA, 0, n)
    java.util.Arrays.sort(s.sortB, 0, m)
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val ca = s.sortA(i)
      val cb = s.sortB(j)
      if (ca == cb) { inter += 1; i += 1; j += 1 }
      else if (ca < cb) i += 1
      else j += 1
    }
    (n, m, inter)
  }

  /** Multiset Jaccard: Σmin / Σmax over per-code-point counts
    * (strsim.rs:286-307). Σmax = n + m - Σmin. */
  def jaccard(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val (n, m, inter) = bagIntersect(a, b)
    inter.toDouble / (n + m - inter).toDouble
  }

  /** Multiset Sørensen-Dice: 2·Σmin / (|a|+|b|) (strsim.rs:322-344). */
  def sorensenDice(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val (n, m, inter) = bagIntersect(a, b)
    2.0 * inter.toDouble / (n + m).toDouble
  }

  // ------------------------------------------------- Token-set family extras

  /** Overlap (Szymkiewicz-Simpson) coefficient over code-point bags:
    * Σmin / min(|a|,|b|). Containment-style similarity — 1.0 whenever one
    * bag is a sub-bag of the other, which makes it the right scorer for
    * abbreviation/containment matching ("IBM" ⊂ "IBM Corp") where Jaccard
    * and Dice are diluted by the longer side. Same edge policy as the
    * reference kernels: byte-equal → 1.0, one side empty → 0.0. */
  def overlap(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val (n, m, inter) = bagIntersect(a, b)
    inter.toDouble / math.min(n, m).toDouble
  }

  /** Tversky index over code-point bags: Σmin / (Σmin + α·|a−b| + β·|b−a|)
    * where |a−b| = n − Σmin and |b−a| = m − Σmin. The asymmetric
    * generalization of the family: α=β=1 is Jaccard, α=β=0.5 is Dice,
    * α=1,β=0 is containment-in-b. IEEE evaluation order pinned to exactly
    * `inter / ((inter + α·(n−inter)) + β·(m−inter))` (left-assoc sums, all
    * int→double conversions exact) so a relational oracle can reproduce it
    * bit-for-bit with the same expression text. */
  def tversky(a: UTF8String, b: UTF8String, alpha: Double, beta: Double): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val (n, m, inter) = bagIntersect(a, b)
    inter.toDouble /
      (inter.toDouble + alpha * (n - inter).toDouble + beta * (m - inter).toDouble)
  }

  /** Bag-cosine similarity: Σ_c n_a(c)·n_b(c) / (√Σ_c n_a(c)² · √Σ_c n_b(c)²)
    * over per-code-point counts. Unlike Σmin-family scores it weights
    * repeated characters quadratically, so it is robust to length ratio
    * (cos(a, a·k) = 1). All three sums are exact 64-bit integers (counts ≤
    * 2^21 code points ⇒ squares ≤ 2^42, sums well inside 2^63); the only
    * rounding is the final sqrt/mul/div, each correctly-rounded IEEE — so
    * `CAST(dot AS DOUBLE)/(sqrt(CAST(na2 AS DOUBLE))*sqrt(CAST(nb2 AS
    * DOUBLE)))` in an oracle reproduces it bit-for-bit. */
  def cosineBag(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.sortA = ensure(s.sortA, a.numChars); s.sortB = ensure(s.sortB, b.numChars)
    val n = decode(a, s.sortA)
    val m = decode(b, s.sortB)
    java.util.Arrays.sort(s.sortA, 0, n)
    java.util.Arrays.sort(s.sortB, 0, m)
    // run-length merge over the two sorted bags: counts per distinct code
    // point on each side, accumulating dot = Σ ca·cb and the two norms.
    var i = 0
    var j = 0
    var dot = 0L
    var na2 = 0L
    var nb2 = 0L
    while (i < n || j < m) {
      val ca = if (i < n) s.sortA(i) else Int.MaxValue
      val cb = if (j < m) s.sortB(j) else Int.MaxValue
      if (ca < cb) {
        var ra = 0L
        while (i < n && s.sortA(i) == ca) { ra += 1; i += 1 }
        na2 += ra * ra
      } else if (cb < ca) {
        var rb = 0L
        while (j < m && s.sortB(j) == cb) { rb += 1; j += 1 }
        nb2 += rb * rb
      } else {
        var ra = 0L
        while (i < n && s.sortA(i) == ca) { ra += 1; i += 1 }
        var rb = 0L
        while (j < m && s.sortB(j) == cb) { rb += 1; j += 1 }
        na2 += ra * ra
        nb2 += rb * rb
        dot += ra * rb
      }
    }
    // proportional bags (e.g. a vs a+a) can land at 1+2ulp after the three
    // rounded ops even though cosine is mathematically <= 1; clamp so the
    // score respects the [0,1] contract (oracle mirrors with least(1.0, .))
    math.min(1.0, dot.toDouble / (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble)))
  }

  // ---------------------------------------------------------------- Damerau-Levenshtein

  /** Normalized unrestricted Damerau-Levenshtein similarity
    * (Lowrance-Wagner algorithm; distance semantics match DuckDB's
    * `damerau_levenshtein`, verified on 300 cross-checked vectors).
    *
    * Unrestricted DL needs the FULL (n+2)×(m+2) matrix (the transposition
    * lookback reaches arbitrarily far up), so memory is quadratic. Cap it:
    * scoring two 4k-code-point documents would pin 64 MB of scratch per
    * task thread — at 32 threads that's executor-OOM territory. Inputs
    * whose affix-trimmed DP core exceeds the cap return NaN (→ SQL NULL at
    * the expression layer, pinned in ConformanceSpec) rather than throwing:
    * the pipeline scores names/keys (tens of chars); long-text similarity
    * belongs to the linear-memory kernels (levenshtein/jaccard/dice/
    * simhash). */
  private val DlMaxCells = 16 * 1024 * 1024

  def damerauLevenshtein(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val nFull = decode(a, s.aCp)
    val mFull = decode(b, s.bCp)
    // Shared-affix trim: unrestricted DL distance is invariant under common
    // prefix/suffix removal (verified by exhaustive brute force vs DuckDB
    // over all |Σ|=3 strings up to length 6 — 89k trimmed pairs, 0 diffs).
    // Near-duplicate pairs collapse to a tiny DP core, and mostly-equal
    // long texts no longer trip the quadratic-memory guard.
    val lo = commonPrefix(s, nFull, mFull)
    val hi = commonSuffix(s, nFull, mFull, lo)
    val n = nFull - lo - hi
    val m = mFull - lo - hi
    // Over-cap policy: return NaN (the expression layer maps it to SQL
    // NULL). A throw here would be data-dependent job death — one
    // pathological document pair killing a 10^12-pair run. NaN cannot
    // otherwise arise: inputs are non-empty so the denominator is ≥ 1.
    if ((n + 2).toLong * (m + 2).toLong > DlMaxCells) return Double.NaN
    val w = m + 2 // row width
    if (s.dlH.length < (n + 2) * w) s.dlH = new Array[Int]((n + 2) * w)
    val h = s.dlH
    val inf = n + m
    h(0) = inf
    var i = 0
    while (i <= n) { h((i + 1) * w) = inf; h((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= m) { h(j + 1) = inf; h(w + j + 1) = j; j += 1 }
    val last = s.dlLast
    last.clear()
    i = 1
    while (i <= n) {
      var db = 0
      val ai = s.aCp(lo + i - 1)
      j = 1
      while (j <= m) {
        val bj = s.bCp(lo + j - 1)
        val k = { val v = last.get(bj: Integer); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (ai == bj) { db = j; 0 } else 1
        var best = h(i * w + j) + cost
        val insDel1 = h((i + 1) * w + j) + 1
        if (insDel1 < best) best = insDel1
        val insDel2 = h(i * w + j + 1) + 1
        if (insDel2 < best) best = insDel2
        val transpose = h(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        if (transpose < best) best = transpose
        h((i + 1) * w + j + 1) = best
        j += 1
      }
      last.put(ai: Integer, i: Integer)
      i += 1
    }
    1.0 - h((n + 1) * w + m + 1).toDouble / math.max(nFull, mFull).toDouble
  }

  // ---------------------------------------------------------------- OSA

  /** Normalized optimal-string-alignment (restricted Damerau-Levenshtein)
    * similarity: unit-cost insert/delete/substitute plus adjacent
    * transposition, with the restriction that no substring is edited more
    * than once (the classic OSA recurrence — e.g. OSA("CA","ABC") = 3 where
    * unrestricted DL = 2). The standard record-linkage middle ground:
    * catches the dominant human typo class (swapped neighbors) at
    * Levenshtein's linear memory cost, unlike [[damerauLevenshtein]] whose
    * unrestricted lookback needs the full quadratic matrix (and a cap).
    *
    * Three-row rolling DP over code points, shared-affix trimmed (OSA
    * distance is affix-invariant — verified exhaustively vs the untrimmed
    * recurrence over all |Σ|=3 strings up to length 5 in OsaSpec).
    * Normalized 1 − dist/max(|a|,|b|) like the reference kernels;
    * byte-equal → 1.0, one side empty → 0.0. */
  def osa(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val nFull = decode(a, s.aCp)
    val mFull = decode(b, s.bCp)
    val lo = commonPrefix(s, nFull, mFull)
    val hi = commonSuffix(s, nFull, mFull, lo)
    val n = nFull - lo - hi
    val m = mFull - lo - hi
    val dist =
      if (n == 0) m
      else if (m == 0) n
      else {
        val w = m + 1
        s.osa = ensure(s.osa, 3 * w)
        val d = s.osa
        // rows rotate through offsets 0/w/2w: prev2, prev, cur
        var j = 0
        while (j <= m) { d(w + j) = j; j += 1 } // row i=0 lives at offset w
        var i = 1
        while (i <= n) {
          val cur = ((i % 3) + 1) % 3 * w       // i=1→2w, i=2→0, i=3→w, ...
          val prev = ((i + 2) % 3 + 1) % 3 * w
          val prev2 = ((i + 1) % 3 + 1) % 3 * w
          val ai = s.aCp(lo + i - 1)
          d(cur) = i
          j = 1
          while (j <= m) {
            val bj = s.bCp(lo + j - 1)
            val cost = if (ai == bj) 0 else 1
            var best = d(prev + j - 1) + cost
            val del = d(prev + j) + 1
            if (del < best) best = del
            val ins = d(cur + j - 1) + 1
            if (ins < best) best = ins
            if (i > 1 && j > 1 && ai == s.bCp(lo + j - 2) &&
                s.aCp(lo + i - 2) == bj) {
              val tr = d(prev2 + j - 2) + 1
              if (tr < best) best = tr
            }
            d(cur + j) = best
            j += 1
          }
          i += 1
        }
        d(((n % 3) + 1) % 3 * w + m)
      }
    1.0 - dist.toDouble / math.max(nFull, mFull).toDouble
  }

  // ------------------------------------------------------------- q-grams

  private def ensureL(arr: Array[Long], n: Int): Array[Long] =
    if (arr.length >= n) arr else new Array[Long](java.lang.Integer.highestOneBit(n - 1) << 1)

  /** Normalized q-gram profile similarity (Ukkonen 1992): 1 − d/(nA+nB)
    * where d = Σ_g |countA(g) − countB(g)| over all UNPADDED q-grams of
    * code points and nA/nB are the gram counts (max(len−q+1, 0)) — the
    * classic cheap edit-distance lower-bound filter (lev ≥ d/(2q), so a
    * q-gram cut admits a superset of any edit cut at ~1/q the cost).
    * Byte-equal → 1.0; both sides shorter than q → 0.0 unless byte-equal
    * (no evidence ≠ identity); one side gramless → 0.0 (d = nA+nB).
    *
    * q must be 1..3: each gram packs into one long (21 bits per code
    * point), so the bags sort and merge-count allocation-free in the
    * per-thread scratch — the same sorted-bag micro-architecture as the
    * multiset [[jaccard]]. Longer shingles belong to the MinHash tier
    * (Dedup.minhashSig), not a scalar kernel. */
  def qgram(a: UTF8String, b: UTF8String, q: Int): Double = {
    require(q >= 1 && q <= 3, s"qgram_sim requires q in 1..3, got $q")
    if (a.equals(b)) return 1.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val na = math.max(n - q + 1, 0)
    val nb = math.max(m - q + 1, 0)
    if (na == 0 || nb == 0) return 0.0
    s.gramA = ensureL(s.gramA, na); s.gramB = ensureL(s.gramB, nb)
    var i = 0
    while (i < na) {
      var g = 0L
      var k = 0
      while (k < q) { g = (g << 21) | s.aCp(i + k).toLong; k += 1 }
      s.gramA(i) = g
      i += 1
    }
    i = 0
    while (i < nb) {
      var g = 0L
      var k = 0
      while (k < q) { g = (g << 21) | s.bCp(i + k).toLong; k += 1 }
      s.gramB(i) = g
      i += 1
    }
    java.util.Arrays.sort(s.gramA, 0, na)
    java.util.Arrays.sort(s.gramB, 0, nb)
    // merge-count the L1 distance between the two sorted bags
    var d = 0
    var x = 0
    var y = 0
    while (x < na && y < nb) {
      val ga = s.gramA(x); val gb = s.gramB(y)
      if (ga == gb) { x += 1; y += 1 }
      else if (ga < gb) { d += 1; x += 1 }
      else { d += 1; y += 1 }
    }
    d += (na - x) + (nb - y)
    1.0 - d.toDouble / (na + nb).toDouble
  }

  // ---------------------------------------------------------------- LCS

  /** Normalized longest-common-subsequence similarity: 2·|LCS|/(|a|+|b|)
    * over code points (the Dice-style normalization most linkage toolkits
    * use) — order-preserving overlap that, unlike edit distance, charges
    * nothing for unmatched interleaved material, making it the robust
    * choice when one side carries insertions (middle names, titles).
    * Byte-equal → 1.0 (covers ""/""), one side empty → 0.0.
    *
    * Two-row rolling DP over code points, shared-affix trimmed (an equal
    * prefix/suffix is always part of some LCS; |LCS| = lo + hi +
    * LCS(middle) — verified exhaustively vs the untrimmed recurrence over
    * all |Σ|=3 strings up to length 5 in AlignmentSpec). */
  def lcs(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val nFull = decode(a, s.aCp)
    val mFull = decode(b, s.bCp)
    val lo = commonPrefix(s, nFull, mFull)
    val hi = commonSuffix(s, nFull, mFull, lo)
    val n = nFull - lo - hi
    val m = mFull - lo - hi
    var len = lo + hi
    if (n > 0 && m > 0) {
      val w = m + 1
      s.dp = ensure(s.dp, 2 * w)
      val d = s.dp
      var j = 0
      while (j <= m) { d(j) = 0; j += 1 }
      var i = 1
      while (i <= n) {
        val cur = (i & 1) * w
        val prev = ((i + 1) & 1) * w
        val ai = s.aCp(lo + i - 1)
        d(cur) = 0
        j = 1
        while (j <= m) {
          d(cur + j) =
            if (ai == s.bCp(lo + j - 1)) d(prev + j - 1) + 1
            else math.max(d(prev + j), d(cur + j - 1))
          j += 1
        }
        i += 1
      }
      len += d((n & 1) * w + m)
    }
    2.0 * len.toDouble / (nFull + mFull).toDouble
  }

  // ------------------------------------------------- Needleman-Wunsch

  /** Normalized Needleman-Wunsch (global alignment) similarity with the
    * classic record-linkage scoring match=+1, mismatch=−1, gap=−1
    * (Winkler's string-comparator family): raw score S mapped to [0,1] by
    * 0.5 + S/(2·max(|a|,|b|)) — identical → 1.0, one side empty → 0.0
    * (S = −max), so it degrades continuously between the two. Differs
    * from [[levenshtein]] in rewarding matches, not only charging edits:
    * long shared runs dominate scattered mismatches.
    *
    * Two-row rolling DP over code points, shared-affix trimmed (with
    * match strictly the best column score, an equal affix aligns to
    * itself in some optimal alignment; S = lo + hi + S(middle) — verified
    * exhaustively vs the untrimmed recurrence in AlignmentSpec). */
  def needlemanWunsch(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val nFull = decode(a, s.aCp)
    val mFull = decode(b, s.bCp)
    val lo = commonPrefix(s, nFull, mFull)
    val hi = commonSuffix(s, nFull, mFull, lo)
    val n = nFull - lo - hi
    val m = mFull - lo - hi
    var score = lo + hi
    if (n == 0) score -= m
    else if (m == 0) score -= n
    else {
      val w = m + 1
      s.dp = ensure(s.dp, 2 * w)
      val d = s.dp
      var j = 0
      while (j <= m) { d(j) = -j; j += 1 }
      var i = 1
      while (i <= n) {
        val cur = (i & 1) * w
        val prev = ((i + 1) & 1) * w
        val ai = s.aCp(lo + i - 1)
        d(cur) = -i
        j = 1
        while (j <= m) {
          val sub = d(prev + j - 1) + (if (ai == s.bCp(lo + j - 1)) 1 else -1)
          var best = sub
          val del = d(prev + j) - 1
          if (del > best) best = del
          val ins = d(cur + j - 1) - 1
          if (ins > best) best = ins
          d(cur + j) = best
          j += 1
        }
        i += 1
      }
      score += d((n & 1) * w + m)
    }
    0.5 + score.toDouble / (2.0 * math.max(nFull, mFull).toDouble)
  }

  // --------------------------------------------------- Smith-Waterman

  /** Normalized Smith-Waterman (local alignment) similarity, match=+1,
    * mismatch=−1, gap=−1, floored at 0: best local score H* over
    * min(|a|,|b|) — 1.0 when either string contains the other's best
    * window exactly (H* = min length for substring containment), the
    * alignment view of substring matching that global scores punish.
    * Byte-equal → 1.0, one side empty → 0.0.
    *
    * NOT affix-trimmed: the best local window may span the shared affix
    * (trimming changes H* — e.g. "xay"/"xby" has H*=1 from either affix,
    * but the trimmed middles share nothing). Two-row rolling DP with a
    * running max. */
  def smithWaterman(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val w = m + 1
    s.dp = ensure(s.dp, 2 * w)
    val d = s.dp
    var best = 0
    var j = 0
    while (j <= m) { d(j) = 0; j += 1 }
    var i = 1
    while (i <= n) {
      val cur = (i & 1) * w
      val prev = ((i + 1) & 1) * w
      val ai = s.aCp(i - 1)
      d(cur) = 0
      j = 1
      while (j <= m) {
        val sub = d(prev + j - 1) + (if (ai == s.bCp(j - 1)) 1 else -1)
        var h = if (sub > 0) sub else 0
        val del = d(prev + j) - 1
        if (del > h) h = del
        val ins = d(cur + j - 1) - 1
        if (ins > h) h = ins
        d(cur + j) = h
        if (h > best) best = h
        j += 1
      }
      i += 1
    }
    best.toDouble / math.min(n, m).toDouble
  }

  // ---------------------------------------------------------------- Hamming

  /** Normalized Hamming similarity: mismatched positions over the common
    * prefix plus the length difference, over max(|a|,|b|) code points.
    * Equal-length distances match DuckDB `hamming`/`mismatches`. */
  def hamming(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val common = math.min(n, m)
    var mm = math.max(n, m) - common
    var i = 0
    while (i < common) {
      if (s.aCp(i) != s.bCp(i)) mm += 1
      i += 1
    }
    1.0 - mm.toDouble / math.max(n, m).toDouble
  }

  // ---------------------------------------------------------------- Capped Levenshtein

  /** Levenshtein distance capped at `k`: returns the EXACT code-point edit
    * distance when it is ≤ k, else `k + 1` ("more than k"). This is the
    * scale-tier edit-distance kernel: the banded (Ukkonen) DP visits only
    * the `2k+1` diagonal band, so cost is O(k·min(|a|,|b|)) instead of the
    * full O(|a|·|b|) — at k=2 over 1,000-char inputs that is ~5,000 cells
    * instead of 10^6. Combined with the shared-affix trim (near-duplicate
    * pairs are mostly shared affix) the common case degenerates to a few
    * hundred cells regardless of input length.
    *
    * Distance semantics are identical to [[levenshtein]]'s underlying
    * distance (unit-cost insert/delete/substitute over Unicode scalar
    * values, no transpositions), so `levenshteinCapped(a,b,k) <= k` ⇔
    * `levenshtein distance ≤ k` exactly. Requires k ≥ 0. */
  def levenshteinCapped(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (a.equals(b)) return 0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n0 = decode(a, s.aCp)
    val m0 = decode(b, s.bCp)
    if (math.abs(n0 - m0) > k) return k + 1
    val lo = commonPrefix(s, n0, m0)
    val hi = commonSuffix(s, n0, m0, lo)
    val n = n0 - lo - hi
    val m = m0 - lo - hi
    if (n == 0) return m // |n−m| ≤ k, so m ≤ k: exact
    if (m == 0) return n
    val inf = k + 1 // saturating cap: any value > k is equivalent
    s.dp = ensure(s.dp, 2 * (m + 1))
    val dp = s.dp
    var j = 0
    while (j <= m) { dp(2 * j) = if (j <= k) j else inf; j += 1 }
    var i = 0
    while (i < n) {
      val v0 = i & 1
      val v1 = 1 - v0
      val r = i + 1
      val jLo = math.max(1, r - k)
      val jHi = math.min(m, r + k)
      // cells outside the band must read as "over cap" from the next row:
      var rowMin = inf
      if (jLo == 1) { dp(v1) = if (r <= k) r else inf; rowMin = dp(v1) }
      else dp(2 * (jLo - 1) + v1) = inf
      val ai = s.aCp(lo + i)
      j = jLo
      while (j <= jHi) {
        val diag = dp(2 * (j - 1) + v0)
        var best = if (ai == s.bCp(lo + j - 1)) diag else diag + 1
        val del = dp(2 * j + v0) + 1
        if (del < best) best = del
        val ins = dp(2 * (j - 1) + v1) + 1
        if (ins < best) best = ins
        if (best > inf) best = inf
        dp(2 * j + v1) = best
        if (best < rowMin) rowMin = best
        j += 1
      }
      if (jHi < m) dp(2 * (jHi + 1) + v1) = inf
      if (rowMin >= inf) return inf // whole band over cap: distance > k
      i += 1
    }
    val d = dp(2 * m + (n & 1))
    if (d > k) inf else d
  }

  // ---------------------------------------------------------------- Monge-Elkan

  /** THE whitespace class shared with graft.strsim.TextKernels: Java-regex
    * \s over ASCII (space, \t, \n, \x0B, \f, \r). SQL oracles must spell it
    * as the explicit class `[ \t\n\x0b\f\r]+` (RE2's \s excludes \x0B). */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0B

  /** Monge-Elkan similarity with Jaro-Winkler as the inner kernel — the
    * classic hybrid token/char scorer for multi-token entity names
    * ("acme widgets inc" vs "widgets acme incorporated"), robust to token
    * reordering where plain JW is not:
    *
    *   ME(a,b) = (1/|tok(a)|) · Σ_i max_j jaroWinkler(tok(a)_i, tok(b)_j)
    *
    * (Monge & Elkan 1996, the standard generalized mean with p=1.)
    * Pinned semantics (the oracle reproduces each): tokens split on the
    * shared ASCII whitespace class, empties dropped; both sides tokenless →
    * 1.0; exactly one tokenless → 0.0; the outer sum left-folds in token
    * order of `a` (IEEE addition is not associative — the oracle's ordered
    * list_reduce matches this order); division by the token count last.
    * NOTE deliberately asymmetric (standard ME); symmetrize in SQL via
    * (me(a,b)+me(b,a))/2 when needed. */
  def mongeElkanJaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val ab = a.getBytes
    val bb = b.getBytes
    val s = scratch.get()
    val na = tokenize(ab, s, left = true)
    val nb = tokenize(bb, s, left = false)
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var sum = 0.0
    var i = 0
    while (i < na) {
      val ta = UTF8String.fromBytes(ab, s.tokOffA(i), s.tokLenA(i))
      var best = 0.0 // jw ∈ [0,1] so 0.0 is the identity for max
      var j = 0
      while (j < nb) {
        val v = jaroWinkler(ta, UTF8String.fromBytes(bb, s.tokOffB(j), s.tokLenB(j)))
        if (v > best) best = v
        j += 1
      }
      sum += best
      i += 1
    }
    sum / na.toDouble
  }

  /** Fill the scratch token-span arrays for one side; returns token count. */
  private def tokenize(bytes: Array[Byte], s: Scratch, left: Boolean): Int = {
    var n = 0
    var i = 0
    val nb = bytes.length
    while (i < nb) {
      while (i < nb && isSpace(bytes(i))) i += 1
      val start = i
      while (i < nb && !isSpace(bytes(i))) i += 1
      if (i > start) {
        if (left) {
          s.tokOffA = ensureCopy(s.tokOffA, n + 1); s.tokLenA = ensureCopy(s.tokLenA, n + 1)
          s.tokOffA(n) = start; s.tokLenA(n) = i - start
        } else {
          s.tokOffB = ensureCopy(s.tokOffB, n + 1); s.tokLenB = ensureCopy(s.tokLenB, n + 1)
          s.tokOffB(n) = start; s.tokLenB(n) = i - start
        }
        n += 1
      }
    }
    n
  }

  // ------------------------------------------------------------------ Editex

  /** Zobel-Dart letter-group bitmask of an ASCII-case-folded code point:
    * bit k set ⇔ membership in group k of {aeiouy, bp, ckq, dt, lr, mn,
    * gj, fpv, sxz, csz}. The groups OVERLAP (p, c, s, z each sit in two),
    * so "same group" is a nonzero mask intersection — never a single
    * group id. Non-Latin code points carry mask 0 (each its own
    * singleton group: cost 0 only on equality). */
  private def editexMask(cp: Int): Int = cp match {
    case 'A' | 'E' | 'I' | 'O' | 'U' | 'Y' => 1
    case 'B' => 2
    case 'P' => 2 | 128
    case 'C' => 4 | 512
    case 'K' | 'Q' => 4
    case 'D' | 'T' => 8
    case 'L' | 'R' => 16
    case 'M' | 'N' => 32
    case 'G' | 'J' => 64
    case 'F' | 'V' => 128
    case 'S' => 256 | 512
    case 'X' => 256
    case 'Z' => 256 | 512
    case _ => 0
  }

  /** ASCII-only upcase fold (Editex is defined on the Latin alphabet; the
    * pinned variant leaves every other code point unfolded/ungrouped). */
  private def foldAscii(cp: Int): Int =
    if (cp >= 'a' && cp <= 'z') cp - 32 else cp

  /** Editex substitution cost over folded code points: 0 equal, 1 same
    * letter group (any shared group — they overlap), 2 otherwise. */
  private def editexR(x: Int, y: Int): Int =
    if (x == y) 0 else if ((editexMask(x) & editexMask(y)) != 0) 1 else 2

  /** Editex deletion cost of `cur` given its left neighbor `prev` IN THE
    * SAME STRING: 0 for a repeated code point (tapering doubles are
    * free), 1 when the neighbor is H or W (silent-letter context), else
    * the group cost — the rule that makes Editex phonetic where plain
    * Levenshtein is typographic. */
  private def editexD(prev: Int, cur: Int): Int =
    if (prev == cur) 0 else if (prev == 'H' || prev == 'W') 1 else editexR(prev, cur)

  /** Normalized Editex similarity (Zobel & Dart 1996): edit distance whose
    * substitution cost is 0/1/2 by letter group and whose insert/delete
    * cost depends on the char's left neighbor (see [[editexD]]), mapped to
    * [0,1] by 1 − dist/(2·max(|a|,|b|)) — the diagonal DP path bounds
    * dist ≤ 2·max. PINNED variant (published implementations disagree on
    * sentinels and case): ASCII-case-folded code points; the FIRST
    * insert/delete of a string has no left neighbor and costs the
    * sentinel rate 2; byte-equal → 1.0, both-empty → 1.0, one-empty →
    * 0.0. NOT affix-trimmed — border and deletion costs reference the
    * left neighbor, so an equal affix is not cost-isolated the way it is
    * for Levenshtein. Two-row rolling DP, O(min memory) via the shared
    * scratch. */
  def editex(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    if (n == 0 && m == 0) return 1.0
    if (n == 0 || m == 0) return 0.0
    var i = 0
    while (i < n) { s.aCp(i) = foldAscii(s.aCp(i)); i += 1 }
    var j = 0
    while (j < m) { s.bCp(j) = foldAscii(s.bCp(j)); j += 1 }
    val w = m + 1
    s.dp = ensure(s.dp, 2 * w)
    val d = s.dp
    d(0) = 0
    j = 1
    while (j <= m) {
      d(j) = d(j - 1) + (if (j == 1) 2 else editexD(s.bCp(j - 2), s.bCp(j - 1)))
      j += 1
    }
    i = 1
    while (i <= n) {
      val cur = (i & 1) * w
      val prev = ((i + 1) & 1) * w
      val ai = s.aCp(i - 1)
      val da = if (i == 1) 2 else editexD(s.aCp(i - 2), ai)
      d(cur) = d(prev) + da
      j = 1
      while (j <= m) {
        val bj = s.bCp(j - 1)
        var best = d(prev + j) + da
        val ins = d(cur + j - 1) + (if (j == 1) 2 else editexD(s.bCp(j - 2), bj))
        if (ins < best) best = ins
        val sub = d(prev + j - 1) + editexR(ai, bj)
        if (sub < best) best = sub
        d(cur + j) = best
        j += 1
      }
      i += 1
    }
    val dist = d((n & 1) * w + m)
    1.0 - dist.toDouble / (2.0 * math.max(n, m).toDouble)
  }

  // ------------------------------------------- Longest common substring

  /** Normalized longest-common-SUBSTRING similarity: |longest contiguous
    * shared run| / max(|a|,|b|) code points — 1.0 iff equal, and strictly
    * below 1.0 for proper containment (unlike [[smithWaterman]], which
    * saturates there); the contiguous counterpart of [[lcs]]. Byte-equal
    * → 1.0, one side empty → 0.0. NOT affix-trimmed (the longest run may
    * span an affix boundary). Two-row rolling DP of run lengths with a
    * running max. */
  def lcsstr(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val w = m + 1
    s.dp = ensure(s.dp, 2 * w)
    val d = s.dp
    var best = 0
    var j = 0
    while (j <= m) { d(j) = 0; j += 1 }
    var i = 1
    while (i <= n) {
      val cur = (i & 1) * w
      val prev = ((i + 1) & 1) * w
      val ai = s.aCp(i - 1)
      d(cur) = 0
      j = 1
      while (j <= m) {
        val run = if (ai == s.bCp(j - 1)) d(prev + j - 1) + 1 else 0
        d(cur + j) = run
        if (run > best) best = run
        j += 1
      }
      i += 1
    }
    best.toDouble / math.max(n, m).toDouble
  }

  // ------------------------------------------------------ Affine gap (Gotoh)

  /** Normalized affine-gap global alignment similarity (Gotoh 1982) — the
    * record-linkage alignment scorer where one long gap should cost less
    * than many scattered ones (e.g. a dropped middle name): match +1,
    * mismatch −1, a gap of length L costs 1 + 0.5·(L−1). Three-state DP
    * (M = align, X = gap consuming a, Y = gap consuming b) with the
    * standard Gotoh transitions (a gap state extends itself or opens from
    * M — opposing adjacent gaps are never modelled). All scores are kept
    * scaled ×2 in ints (the only non-integer weight is the 0.5 extension),
    * so the DP is exact integer arithmetic end-to-end; sim = 0.5 +
    * score₂/(4·max(n,m)) ∈ [0,1] (the diagonal path bounds score₂ ≥
    * −2·max). NO prefix/suffix trimming: unlike the linear-gap kernels, a
    * trimmed-boundary gap's open-vs-extend split depends on context, so
    * the full matrix is walked (the spec cross-checks against an
    * independent recursive reference).
    *
    * Follows the reference's elementwise kernel conventions
    * (`/root/reference/src/expressions/strsim.rs:41-107`): equal → 1.0,
    * either side empty → 0.0, code-point iteration. */
  def affineGap(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    val w = m + 1
    // three states × 2 rolling rows in one scratch block:
    // M rows at [0, 2w), X at [2w, 4w), Y at [4w, 6w)
    s.dp = ensure(s.dp, 6 * w)
    val d = s.dp
    val NEG = Int.MinValue / 4 // -inf sentinel with subtraction headroom
    d(0) = 0; d(2 * w) = NEG; d(4 * w) = NEG
    var j = 1
    while (j <= m) {
      d(j) = NEG             // M(0,j): can't end aligned with no a consumed
      d(2 * w + j) = NEG     // X(0,j): gap in a before any a exists
      d(4 * w + j) = -(j + 1) // Y(0,j): one gap of length j = 2 + (j-1)
      j += 1
    }
    var i = 1
    while (i <= n) {
      val cur = (i & 1) * w
      val prev = ((i + 1) & 1) * w
      val ai = s.aCp(i - 1)
      d(cur) = NEG
      d(2 * w + cur) = -(i + 1)
      d(4 * w + cur) = NEG
      j = 1
      while (j <= m) {
        val sub = if (ai == s.bCp(j - 1)) 2 else -2
        var diag = d(prev + j - 1)
        val dx = d(2 * w + prev + j - 1); if (dx > diag) diag = dx
        val dy = d(4 * w + prev + j - 1); if (dy > diag) diag = dy
        d(cur + j) = diag + sub
        val xo = d(prev + j) - 2
        val xe = d(2 * w + prev + j) - 1
        d(2 * w + cur + j) = if (xo > xe) xo else xe
        val yo = d(cur + j - 1) - 2
        val ye = d(4 * w + cur + j - 1) - 1
        d(4 * w + cur + j) = if (yo > ye) yo else ye
        j += 1
      }
      i += 1
    }
    val last = (n & 1) * w + m
    var best = d(last)
    if (d(2 * w + last) > best) best = d(2 * w + last)
    if (d(4 * w + last) > best) best = d(4 * w + last)
    0.5 + best.toDouble / (4.0 * math.max(n, m).toDouble)
  }

  // ----------------------------------------------------- Bag / Ratcliff-Obershelp

  /** Bag similarity: 1 − bagdist(a,b)/max(|a|,|b|) over code-point
    * multisets, where bagdist = max(|a−b|, |b−a|) (Bartolini-Ciaccia-
    * Patella 2002). Since |a−b| = |a| − Σmin and |b−a| = |b| − Σmin,
    * bagdist = max(|a|,|b|) − Σmin and the similarity collapses to
    * Σmin/max(|a|,|b|) — one sorted-bag merge, no DP. Bag distance is a
    * LOWER bound on Levenshtein distance (one edit changes the bag by at
    * most one element), so bag_sim(a,b) ≥ levenshtein_sim(a,b) in the
    * reals (the two kernels round through different expressions, so exact
    * ties can land 1 ulp apart): `bag_sim ≥ θ` is a sound, strictly
    * cheaper admission filter in front of `levenshtein_sim ≥ θ` (the tier
    * below qgram_sim in the pre-filter stack — no gram packing, just the
    * Jaccard-family scratch sort).
    * Edge policy matches the reference kernels: byte-equal → 1.0, exactly
    * one side empty → 0.0. */
  def bag(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val (n, m, inter) = bagIntersect(a, b)
    inter.toDouble / math.max(n, m).toDouble
  }

  /** Ratcliff-Obershelp ("gestalt pattern matching", the algorithm behind
    * Python difflib.SequenceMatcher.ratio): 2·M/(|a|+|b|) where M is the
    * total length of the matched blocks found by recursively taking the
    * longest common substring and recursing on the unmatched left and
    * right remainders. Tie-break pinned to difflib's: among maximal
    * blocks, the one starting earliest in `a`, then earliest in `b`
    * (no junk/autojunk heuristics — the pure recursive definition).
    * Iterative worklist + one-row common-suffix DP in the shared scratch;
    * O(|a|·|b|) per segment, O(min(|a|,|b|)) segments worst-case. All
    * iteration over code points; edges: byte-equal → 1.0, one side
    * empty → 0.0 (difflib itself yields these values). */
  def ratcliffObershelp(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    s.dp = ensure(s.dp, m + 1)
    val matched = roMatchMass(s.aCp, 0, n, s.bCp, 0, m, s)
    2.0 * matched.toDouble / (n + m).toDouble
  }

  /** The Ratcliff-Obershelp recursion over x[xl,xh) × y[yl,yh) (already
    * decoded code points): total matched-block mass M. x plays difflib's
    * "a" role (ties go to the block starting earliest in x, then earliest
    * in y). Caller must have ensured `s.dp` to at least (yh − yl) + 1. */
  private def roMatchMass(x: Array[Int], xl0: Int, xh0: Int,
      y: Array[Int], yl0: Int, yh0: Int, s: Scratch): Int = {
    s.roStack = ensureCopy(s.roStack, 4)
    s.roStack(0) = xl0; s.roStack(1) = xh0; s.roStack(2) = yl0; s.roStack(3) = yh0
    var top = 4
    var matched = 0
    while (top > 0) {
      top -= 4
      val al = s.roStack(top); val ah = s.roStack(top + 1)
      val bl = s.roStack(top + 2); val bh = s.roStack(top + 3)
      if (al < ah && bl < bh) {
        // Longest common substring of x[al,ah) × y[bl,bh). The DP row
        // holds common-suffix lengths ending at (i, j); scanning i asc
        // (outer), j asc (inner) and improving only on STRICTLY longer
        // matches makes the first maximal block the earliest-in-x, then
        // earliest-in-y one — difflib's tie-break.
        var bestLen = 0; var bestI = 0; var bestJ = 0
        var j = bl
        while (j < bh) { s.dp(j - bl) = 0; j += 1 }
        var i = al
        while (i < ah) {
          val ca = x(i)
          var prev = 0 // up-left cell (row[j-1] of the previous i)
          j = bl
          while (j < bh) {
            val cur = s.dp(j - bl)
            val v = if (ca == y(j)) prev + 1 else 0
            s.dp(j - bl) = v
            if (v > bestLen) { bestLen = v; bestI = i - v + 1; bestJ = j - v + 1 }
            prev = cur
            j += 1
          }
          i += 1
        }
        if (bestLen > 0) {
          matched += bestLen
          s.roStack = ensureCopy(s.roStack, top + 8)
          s.roStack(top) = al; s.roStack(top + 1) = bestI
          s.roStack(top + 2) = bl; s.roStack(top + 3) = bestJ
          s.roStack(top + 4) = bestI + bestLen; s.roStack(top + 5) = ah
          s.roStack(top + 6) = bestJ + bestLen; s.roStack(top + 7) = bh
          top += 8
        }
      }
    }
    matched
  }

  /** Partial Ratcliff-Obershelp — thefuzz/fuzzywuzzy's `partial_ratio`
    * pinned to its NAIVE definition: the best gestalt ratio between the
    * SHORTER string and any contiguous same-length code-point window of
    * the longer,
    *   max over off ∈ [0, L−S] of ratio(short, long[off, off+S)).
    * (thefuzz heuristically restricts offsets to matching-block
    * alignments; the exhaustive sweep is the variant a relational oracle
    * can replay and it upper-bounds the heuristic.) Each window ratio is
    * 2·M/(S+S), which IEEE-equals M/S (both divisions round the same real
    * quotient), so the kernel returns `bestM.toDouble / S.toDouble` —
    * pinned for the oracle. The shorter side plays the pattern ("a") role
    * regardless of argument order; equal lengths keep `a` as pattern (the
    * single window degenerates to [[ratcliffObershelp]](a, b)). Early
    * exit once a window contains the whole pattern (ratio 1.0, e.g. the
    * abbreviation/containment case this scorer exists for). Edges:
    * byte-equal → 1.0, one side empty → 0.0. */
  def partialRatcliff(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val na = decode(a, s.aCp)
    val nb = decode(b, s.bCp)
    val aIsPattern = na <= nb
    val sLen = if (aIsPattern) na else nb
    val lLen = if (aIsPattern) nb else na
    s.dp = ensure(s.dp, sLen + 1)
    var best = 0
    var off = 0
    while (off <= lLen - sLen && best < sLen) {
      val m =
        if (aIsPattern) roMatchMass(s.aCp, 0, na, s.bCp, off, off + sLen, s)
        else roMatchMass(s.bCp, 0, nb, s.aCp, off, off + sLen, s)
      if (m > best) best = m
      off += 1
    }
    best.toDouble / sLen.toDouble
  }

  /** Bag DISTANCE (Bartolini-Ciaccia-Patella): max(|a−b|, |b−a|) =
    * max(|a|,|b|) − Σmin over code-point multisets — the integer face of
    * [[bag]]. A lower bound on Levenshtein distance, computable with one
    * sorted-bag merge (no DP): `bag_dist(a,b) > k` refutes
    * `levenshtein distance ≤ k` without running the banded DP, making
    * `bag_within` the tier-0 admission filter in front of
    * `levenshtein_within` (tier 1) and full scoring (tier 2). */
  def bagDist(a: UTF8String, b: UTF8String): Int = {
    if (a.equals(b)) return 0
    val (n, m, inter) = bagIntersect(a, b)
    math.max(n, m) - inter
  }

  /** `bagDist(a, b) <= k`: the tier-0 admission filter in front of
    * [[levenshteinWithin]]. */
  def bagWithin(a: UTF8String, b: UTF8String, k: Int): Boolean = bagDist(a, b) <= k

  /** `levenshteinCapped(a, b, k) <= k`: the exact "edit distance ≤ k" test,
    * on the banded kernel. */
  def levenshteinWithin(a: UTF8String, b: UTF8String, k: Int): Boolean =
    levenshteinCapped(a, b, k) <= k

  // ------------------------------------------------------- String conveniences

  def levenshtein(a: String, b: String): Double =
    levenshtein(UTF8String.fromString(a), UTF8String.fromString(b))
  def jaro(a: String, b: String): Double =
    jaro(UTF8String.fromString(a), UTF8String.fromString(b))
  def jaroWinkler(a: String, b: String): Double =
    jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
  def jaccard(a: String, b: String): Double =
    jaccard(UTF8String.fromString(a), UTF8String.fromString(b))
  def sorensenDice(a: String, b: String): Double =
    sorensenDice(UTF8String.fromString(a), UTF8String.fromString(b))
  def damerauLevenshtein(a: String, b: String): Double =
    damerauLevenshtein(UTF8String.fromString(a), UTF8String.fromString(b))
  def hamming(a: String, b: String): Double =
    hamming(UTF8String.fromString(a), UTF8String.fromString(b))
  def levenshteinCapped(a: String, b: String, k: Int): Int =
    levenshteinCapped(UTF8String.fromString(a), UTF8String.fromString(b), k)
  def mongeElkanJaroWinkler(a: String, b: String): Double =
    mongeElkanJaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
  def overlap(a: String, b: String): Double =
    overlap(UTF8String.fromString(a), UTF8String.fromString(b))
  def tversky(a: String, b: String, alpha: Double, beta: Double): Double =
    tversky(UTF8String.fromString(a), UTF8String.fromString(b), alpha, beta)
  def cosineBag(a: String, b: String): Double =
    cosineBag(UTF8String.fromString(a), UTF8String.fromString(b))
  def osa(a: String, b: String): Double =
    osa(UTF8String.fromString(a), UTF8String.fromString(b))
  def lcs(a: String, b: String): Double =
    lcs(UTF8String.fromString(a), UTF8String.fromString(b))
  def needlemanWunsch(a: String, b: String): Double =
    needlemanWunsch(UTF8String.fromString(a), UTF8String.fromString(b))
  def smithWaterman(a: String, b: String): Double =
    smithWaterman(UTF8String.fromString(a), UTF8String.fromString(b))
  def qgram(a: String, b: String, q: Int): Double =
    qgram(UTF8String.fromString(a), UTF8String.fromString(b), q)
  def editex(a: String, b: String): Double =
    editex(UTF8String.fromString(a), UTF8String.fromString(b))
  def lcsstr(a: String, b: String): Double =
    lcsstr(UTF8String.fromString(a), UTF8String.fromString(b))
  def affineGap(a: String, b: String): Double =
    affineGap(UTF8String.fromString(a), UTF8String.fromString(b))
  def bag(a: String, b: String): Double =
    bag(UTF8String.fromString(a), UTF8String.fromString(b))
  def bagDist(a: String, b: String): Int =
    bagDist(UTF8String.fromString(a), UTF8String.fromString(b))
  def ratcliffObershelp(a: String, b: String): Double =
    ratcliffObershelp(UTF8String.fromString(a), UTF8String.fromString(b))
  def partialRatcliff(a: String, b: String): Double =
    partialRatcliff(UTF8String.fromString(a), UTF8String.fromString(b))

  // --------------------------------------- confusion-weighted edit distance

  /** OCR / web-noise visually-confusable character pairs (symmetric) —
    * the classic confusion classes behind weighted string comparators in
    * census/record-linkage practice (Jaro's UNIMATCH and Winkler's
    * strcmp95 carry "similar character" tables of exactly this kind) and
    * OCR post-correction. ONE rule list: the DuckDB oracle's cost CASE
    * is generated from this same array, so the two engines cannot
    * drift. Conservative single-character classes only (rn↔m-style
    * multi-character confusions are out of scope for a cell-level DP). */
  val ocrConfusions: Array[(Char, Char)] = Array(
    ('O', '0'), ('o', '0'), ('D', '0'), ('I', '1'), ('l', '1'),
    ('i', '1'), ('|', '1'), ('Z', '2'), ('z', '2'), ('E', '3'),
    ('A', '4'), ('S', '5'), ('s', '5'), ('G', '6'), ('b', '6'),
    ('T', '7'), ('B', '8'), ('g', '9'), ('q', '9'), ('u', 'v'),
    ('U', 'V'), ('c', 'e'), ('a', 'o'))

  private val confusionSet: java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    ocrConfusions.foreach { case (x, y) =>
      val (lo, hi) = if (x < y) (x.toInt, y.toInt) else (y.toInt, x.toInt)
      s.add((lo.toLong << 32) | hi.toLong)
    }
    s
  }

  /** Substitution cost in the integer-exact model: 0 identical, 1 for a
    * listed confusable pair, 2 otherwise; insert/delete cost 2. With no
    * confusables involved the distance is exactly 2× Levenshtein. */
  def confusionCost(x: Int, y: Int): Int =
    if (x == y) 0
    else {
      val lo = math.min(x, y).toLong
      val hi = math.max(x, y).toLong
      if (confusionSet.contains((lo << 32) | hi)) 1 else 2
    }

  /** Confusion-weighted edit distance over code points — the standard
    * two-row DP with the cost model above, all-integer (hash-gate-safe;
    * the DuckDB oracle replays the identical DP cell-for-cell). */
  def confusionLevDist(a: UTF8String, b: UTF8String): Long = {
    if (a.equals(b)) return 0L
    val s = scratch.get()
    s.aCp = ensure(s.aCp, a.numChars); s.bCp = ensure(s.bCp, b.numChars)
    val n = decode(a, s.aCp)
    val m = decode(b, s.bCp)
    if (n == 0) return 2L * m
    if (m == 0) return 2L * n
    s.dp = ensure(s.dp, 2 * (m + 1))
    val dp = s.dp
    var j = 0
    while (j <= m) { dp(2 * j) = 2 * j; j += 1 }
    var i = 0
    while (i < n) {
      val v0 = i & 1
      val v1 = 1 - v0
      dp(v1) = 2 * (i + 1)
      val ai = s.aCp(i)
      j = 1
      while (j <= m) {
        var best = dp(2 * (j - 1) + v0) + confusionCost(ai, s.bCp(j - 1))
        val del = dp(2 * j + v0) + 2
        if (del < best) best = del
        val ins = dp(2 * (j - 1) + v1) + 2
        if (ins < best) best = ins
        dp(2 * j + v1) = best
        j += 1
      }
      i += 1
    }
    dp(2 * m + (n & 1)).toLong
  }

  /** Normalized confusion-weighted similarity: 1 − dist / (2·max(n, m))
    * (empty-vs-empty = 1.0 via the equality fast path; empty-vs-any = 0;
    * all-confusable substitutions bottom out at 0.5, encoding "same
    * glyph shape" as half agreement). */
  def confusionLevSim(a: UTF8String, b: UTF8String): Double = {
    if (a.equals(b)) return 1.0
    val n = a.numChars
    val m = b.numChars
    1.0 - confusionLevDist(a, b).toDouble / (2.0 * math.max(n, m))
  }

  def confusionLevDist(a: String, b: String): Long =
    confusionLevDist(UTF8String.fromString(a), UTF8String.fromString(b))
  def confusionLevSim(a: String, b: String): Double =
    confusionLevSim(UTF8String.fromString(a), UTF8String.fromString(b))
}
