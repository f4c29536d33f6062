package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.jaro_winkler_sim

/** Comparison-level builders for Fellegi-Sunter gamma columns — the
  * Splink-style comparison library. Each builder returns an integer level
  * column with HIGHER = STRONGER agreement: max level = arity − 1 (total
  * agreement), 0 = disagreement. Feed the columns to
  * [[FellegiSunter.fitLevels]]/[[FellegiSunter.scoreLevels]] with the
  * matching arity.
  *
  * Missing data: NULL on either side yields a NULL gamma — the "missing"
  * level [[FellegiSunter.score]]/`scoreLevels` treat as evidence-free
  * (factor 1.0 in both likelihoods), and `fit`/`fitLevels` reject loudly
  * (complete-case EM). The guard is explicit because a bare
  * `when(a === b, …).otherwise(0)` would silently score missing as
  * DISAGREEMENT — the classic gamma bug.
  *
  * All builders are pure codegen projections (when-chains over stock
  * expressions + the JW kernel); the comparison pass stays inside
  * whole-stage codegen regardless of how many fields are compared. */
object Comparators {

  private def guarded(a: Column, b: Column)(body: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("long")).otherwise(body)

  /** Arity 2: exact equality. */
  def exactLevels(a: Column, b: Column): Column =
    guarded(a, b)(when(a === b, 1L).otherwise(0L))

  /** Arity 3 string comparison (Splink's default name shape):
    * 2 = byte-exact, 1 = Jaro-Winkler ≥ `fuzzy`, 0 = else. */
  def stringLevels(a: Column, b: Column, fuzzy: Double = 0.88): Column =
    guarded(a, b)(
      when(a === b, 2L)
        .when(jaro_winkler_sim(a, b) >= fuzzy, 1L)
        .otherwise(0L))

  /** Arity 4 OCR-aware string comparison (for scanned/extracted web
    * text): 3 = byte-exact; 2 = GLYPH-LEVEL match — confusion-weighted
    * edit distance ([[graft.functions.confusion_lev_dist]]: confusable
    * substitutions cost 1, real edits 2) at most `maxDist`, so at the
    * default 2 a pair differing by up to two glyph swaps (O↔0, l↔1, …)
    * or one real edit scores a level plain string comparators cannot
    * express; 1 = Jaro-Winkler ≥ `fuzzy`; 0 = else. Distinguishing
    * "same name through an OCR lens" (near-certain match evidence)
    * from generic fuzziness lets the EM fit give glyph noise its own
    * m/u probabilities. */
  def confusionLevels(a: Column, b: Column, maxDist: Int = 2,
      fuzzy: Double = 0.88): Column = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    guarded(a, b)(
      when(a === b, 3L)
        .when(graft.functions.confusion_lev_dist(a, b) <= maxDist, 2L)
        .when(jaro_winkler_sim(a, b) >= fuzzy, 1L)
        .otherwise(0L))
  }

  /** Arity 3 phonetic string comparison: 2 = byte-exact, 1 = same
    * American Soundex key ([[Phonetic.soundexKey]]), 0 = else. Library
    * surface: a comparator for caller-built FS comparison vectors; no
    * pipeline stage or gate uses it. */
  def phoneticLevels(a: Column, b: Column): Column =
    guarded(a, b)(
      when(a === b, 2L)
        .when(Phonetic.soundexKey(a) === Phonetic.soundexKey(b), 1L)
        .otherwise(0L))

  private def bandedLevels(a: Column, b: Column, diff: Column,
      bands: Seq[Double]): Column = {
    require(bands.nonEmpty, "at least one band required")
    require(bands.forall(_ > 0) && bands == bands.sorted &&
      bands.distinct == bands,
      s"bands must be positive and strictly increasing, got $bands")
    val top = bands.size + 1
    val exact = when(a === b, top.toLong)
    val chain = bands.zipWithIndex.foldLeft(exact) { case (acc, (w, i)) =>
      acc.when(diff <= w, (top - 1 - i).toLong)
    }
    guarded(a, b)(chain.otherwise(0L))
  }

  /** Arity bands.size + 2 numeric comparison by ABSOLUTE difference:
    * top = exact, then one level per widening band (|a−b| ≤ bandᵢ),
    * 0 = outside all bands. `bands` strictly increasing. Library surface:
    * the absolute-difference sibling of [[numericPctLevels]], for
    * caller-built FS comparison vectors; no pipeline stage or gate uses
    * it. */
  def numericAbsLevels(a: Column, b: Column, bands: Seq[Double]): Column =
    bandedLevels(a, b, abs(a - b), bands)

  /** Arity bands.size + 2 numeric comparison by RELATIVE difference:
    * |a−b| ≤ bandᵢ · max(|a|, |b|) — Splink's percentage-difference
    * levels. Pinned op order: abs(a−b) on the left, band · greatest of
    * the absolutes on the right, one compare per band (the oracle
    * replays the identical IEEE ops). */
  def numericPctLevels(a: Column, b: Column, bands: Seq[Double]): Column = {
    require(bands.nonEmpty, "at least one band required")
    require(bands.forall(_ > 0) && bands == bands.sorted &&
      bands.distinct == bands,
      s"bands must be positive and strictly increasing, got $bands")
    val top = bands.size + 1
    val d = abs(a - b)
    val scale = greatest(abs(a), abs(b))
    val exact = when(a === b, top.toLong)
    val chain = bands.zipWithIndex.foldLeft(exact) { case (acc, (p, i)) =>
      acc.when(d <= lit(p) * scale, (top - 1 - i).toLong)
    }
    guarded(a, b)(chain.otherwise(0L))
  }

  /** Arity dayBands.size + 2 date comparison: top = same day, then one
    * level per widening |datediff| band, 0 = outside. */
  def dateLevels(a: Column, b: Column, dayBands: Seq[Int]): Column =
    bandedLevels(a, b, abs(datediff(a, b)).cast("double"),
      dayBands.map(_.toDouble))

  /** Arity dayBands.size + 3 date comparison with DAY↔MONTH TRANSPOSITION
    * detection — the Febrl/Splink birth-date comparator: 03/07 and 07/03
    * are the single most common date-entry error family (US vs ISO field
    * order), and a plain day-band comparator scores a swapped date as a
    * months-apart disagreement, destroying the strongest evidence on
    * exactly the records most likely to be duplicates. Levels: top =
    * identical date; top−1 = same year AND month(a) = day(b) AND day(a) =
    * month(b) with the dates NOT identical (a swap only exists when day ≤
    * 12 on both sides — the equality encodes that for free, no validity
    * predicate needed); then one level per widening |datediff| band; 0
    * outside. A transposed pair that ALSO sits inside a day band takes
    * the transposition level — the stronger specific evidence wins
    * (March 7 vs July 3 is 118 days apart; the swap explains it, the band
    * doesn't). NULL on either side → NULL gamma. Pure
    * year/month/day/datediff arithmetic — stays in codegen and replays
    * exactly in any engine with calendar extraction. */
  def dateTransposedLevels(a: Column, b: Column,
      dayBands: Seq[Int]): Column = {
    require(dayBands.nonEmpty, "at least one band required")
    require(dayBands.forall(_ > 0) && dayBands == dayBands.sorted &&
      dayBands.distinct == dayBands,
      s"dayBands must be positive and strictly increasing, got $dayBands")
    val top = dayBands.size + 2
    val d = abs(datediff(a, b))
    val exact = when(a === b, top.toLong)
      .when(year(a) === year(b) && month(a) === dayofmonth(b) &&
        dayofmonth(a) === month(b), (top - 1).toLong)
    val chain = dayBands.zipWithIndex.foldLeft(exact) { case (acc, (w, i)) =>
      acc.when(d <= w, (top - 2 - i).toLong)
    }
    guarded(a, b)(chain.otherwise(0L))
  }

  /** Great-circle (haversine) distance in km between two (lat, lon)
    * degree pairs — the scalar under [[geoKmLevels]], exposed for
    * scoring. Pinned operand order (Δ halved before sin, lat cosines
    * multiplied left-to-right, R·2·asin(√·) with R = 6371.0088 km, the
    * IUGG mean radius) so an oracle replaying the identical IEEE ops
    * reproduces it. */
  def haversineKm(latA: Column, lonA: Column,
      latB: Column, lonB: Column): Column = {
    val dLat = radians(latB - latA) / 2.0
    val dLon = radians(lonB - lonA) / 2.0
    val h = sin(dLat) * sin(dLat) +
      cos(radians(latA)) * cos(radians(latB)) * (sin(dLon) * sin(dLon))
    lit(6371.0088) * (lit(2.0) * asin(sqrt(h)))
  }

  /** Arity kmBands.size + 2 geographic comparison (Splink's
    * distance-in-km levels): top = identical coordinates, then one level
    * per widening haversine-distance band (d ≤ kmBandᵢ), 0 = outside all
    * bands. NULL on ANY of the four coordinates → NULL gamma. `kmBands`
    * strictly increasing, in km. Band thresholds should sit far from
    * plausible exact distances — levels are integers, so the gamma is
    * robust to sub-ULP libm drift between engines except exactly AT a
    * boundary. */
  def geoKmLevels(latA: Column, lonA: Column, latB: Column, lonB: Column,
      kmBands: Seq[Double]): Column = {
    require(kmBands.nonEmpty, "at least one band required")
    require(kmBands.forall(_ > 0) && kmBands == kmBands.sorted &&
      kmBands.distinct == kmBands,
      s"kmBands must be positive and strictly increasing, got $kmBands")
    val top = kmBands.size + 1
    val d = haversineKm(latA, lonA, latB, lonB)
    val exact = when(latA === latB && lonA === lonB, top.toLong)
    val chain = kmBands.zipWithIndex.foldLeft(exact) { case (acc, (w, i)) =>
      acc.when(d <= w, (top - 1 - i).toLong)
    }
    when(latA.isNull || lonA.isNull || latB.isNull || lonB.isNull,
      lit(null).cast("long")).otherwise(chain.otherwise(0L))
  }

  /** Arity countBands.size + 1 multi-value comparison (Splink's
    * array-intersection levels — emails, phone numbers, aliases): level
    * by the count of DISTINCT shared elements, top level at
    * ≥ countBands.last shared, …, 0 at fewer than countBands.head.
    * NULL array on either side → NULL gamma (an EMPTY array is evidence
    * of disagreement, an absent one is no evidence — the distinction
    * [[FellegiSunter]] missing-data handling relies on). `countBands`
    * strictly increasing positive ints. */
  def arrayIntersectLevels(a: Column, b: Column,
      countBands: Seq[Int]): Column = {
    require(countBands.nonEmpty, "at least one band required")
    require(countBands.forall(_ > 0) && countBands == countBands.sorted &&
      countBands.distinct == countBands,
      s"countBands must be positive and strictly increasing, got $countBands")
    val shared = size(array_distinct(array_intersect(a, b)))
    // ascending fold wraps each lower band OUTSIDE-in, so the final chain
    // tests the HIGHEST band first — the strongest satisfied level wins
    val chain = countBands.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (c, i)) => when(shared >= c, (i + 1).toLong).otherwise(acc)
    }
    guarded(a, b)(chain)
  }

  /** Time-decayed similarity — temporal record linkage's core move
    * (Li-Dong-Maurino-Srivastava): agreement evidence fades as the two
    * records' timestamps drift apart. RATIONAL decay
    * `sim / (1 + Δt/τ)` rather than exponential — pure field arithmetic
    * (one subtraction, one division, one multiply), so it is bit-exact
    * across engines where exp() is libm-dependent, and it keeps the
    * whole scoring projection inside whole-stage codegen. Δt is taken in
    * MICROSECONDS (unix_micros — exact longs; second-granularity
    * epoch functions truncate sub-second components differently across
    * engines) and divided by τ·10⁶, so the ratio is one exact-operand
    * double division. τ is the half-weight scale: at Δt = τ the
    * similarity is halved (decay(τ) = 1/2), at 3τ quartered. NULL
    * timestamp on either side → NULL (no temporal evidence ≠ maximal
    * decay). */
  def temporalDecay(sim: Column, tsA: Column, tsB: Column,
      tauSeconds: Double): Column = {
    require(tauSeconds > 0, s"tauSeconds must be > 0, got $tauSeconds")
    // cast covers TIMESTAMP_NTZ inputs (identity under the pinned UTC
    // session timezone; unix_micros itself accepts only TIMESTAMP)
    val dt = abs(unix_micros(tsA.cast("timestamp")) -
      unix_micros(tsB.cast("timestamp"))).cast("double")
    sim / (lit(1.0) + dt / lit(tauSeconds * 1e6))
  }

  /** Whitespace-token initials of `x`, uppercased and concatenated —
    * "International Business Machines" → "IBM". Building block for
    * [[acronymLevels]], exposed for blocking keys too. */
  def acronym(x: Column): Column =
    array_join(transform(
      filter(split(trim(x), "\\s+"), t => length(t) > 0),
      t => upper(substring(t, 1, 1))), "")

  /** Arity 3: organization-name acronym comparator — "IBM" vs
    * "International Business Machines" is level-1 agreement that every
    * string-distance kernel scores as a miss (JW ≈ 0.5, Jaccard 0).
    *  - level 2: case-insensitive exact equality (trimmed);
    *  - level 1: one side's alphanumeric compaction (punctuation
    *    stripped, uppercased: "I.B.M." → "IBM") equals the OTHER side's
    *    token initials, the abbreviated side being a single token and
    *    the expanded side ≥ 2 tokens (so two multi-token names can't
    *    back into level 1 via initials, and 1-letter "acronyms" don't
    *    fire);
    *  - level 0: neither. NULL either side → NULL gamma, as everywhere.
    * Pure codegen projection (split/filter/transform/regexp chains). */
  def acronymLevels(a: Column, b: Column): Column = {
    def compact(x: Column): Column =
      upper(regexp_replace(x, "[^A-Za-z0-9]", ""))
    def nTokens(x: Column): Column =
      size(filter(split(trim(x), "\\s+"), t => length(t) > 0))
    val acrOf = (full: Column, short: Column) =>
      nTokens(full) >= 2 && nTokens(short) === 1 &&
        length(acronym(full)) >= 2 && compact(short) === acronym(full)
    guarded(a, b)(
      when(upper(trim(a)) === upper(trim(b)), 2L)
        .when(acrOf(a, b) || acrOf(b, a), 1L)
        .otherwise(0L))
  }
}
