package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Public Column API for the strsim kernels (the Spark-native analogue of
  * `polars_strsim/__init__.py`'s five exported functions, extended to the
  * seven north-star kernels), plus SQL registration.
  *
  * Usage:
  * {{{
  *   import graft.functions._
  *   df.select(jaro_winkler($"name_a", $"name_b"))
  *   // or, after functions.registerAll(spark):
  *   spark.sql("SELECT jaro_winkler(name_a, name_b) FROM pairs")
  * }}}
  *
  * String overloads mirror the reference's str→column coercion
  * (`polars_strsim/utils.py:34-43`): a bare string names a column.
  * Literals broadcast via `lit(...)` (the reference's length-1 Series
  * broadcast, strsim.rs:61-66, is native to relational expressions).
  *
  * Adding a kernel: write its static method (in `graft.strsim.StrSimKernels`,
  * `TextKernels`, or a `*Kernels` object of this package), add one entry
  * to [[Kernel$]] naming it — its SQL name, input and result types,
  * literal parameters with their checks, and null rule — and one Column
  * function below that calls `call`. The entry drives the type check,
  * codegen, interpreted eval and the SQL registration in [[sqlFunctions]];
  * no kernel has an Expression class of its own.
  */
package object functions {

  import Kernel._

  private def col(name: String): Column = org.apache.spark.sql.functions.col(name)
  private def wrap(e: Expression): Column = GraftShims.column(e)
  private def expr(c: Column): Expression = GraftShims.expression(c)
  /** Kernel `k` over its input Columns, then its literal parameters. */
  private def call(k: Kernel, inputs: Any*): Column =
    wrap(k(inputs.map { case c: Column => expr(c); case v => v }: _*))

  def levenshtein_sim(a: Column, b: Column): Column = call(levenshtein, a, b)
  def levenshtein_sim(a: String, b: String): Column = levenshtein_sim(col(a), col(b))

  def jaro_sim(a: Column, b: Column): Column = call(jaro, a, b)
  def jaro_sim(a: String, b: String): Column = jaro_sim(col(a), col(b))

  def jaro_winkler_sim(a: Column, b: Column): Column = call(jaroWinkler, a, b)
  def jaro_winkler_sim(a: String, b: String): Column = jaro_winkler_sim(col(a), col(b))

  def jaccard_sim(a: Column, b: Column): Column = call(jaccard, a, b)
  def jaccard_sim(a: String, b: String): Column = jaccard_sim(col(a), col(b))

  def sorensen_dice_sim(a: Column, b: Column): Column = call(sorensenDice, a, b)
  def sorensen_dice_sim(a: String, b: String): Column = sorensen_dice_sim(col(a), col(b))

  def damerau_levenshtein_sim(a: Column, b: Column): Column = call(damerauLevenshtein, a, b)
  def damerau_levenshtein_sim(a: String, b: String): Column =
    damerau_levenshtein_sim(col(a), col(b))

  def hamming_sim(a: Column, b: Column): Column = call(hamming, a, b)
  def hamming_sim(a: String, b: String): Column = hamming_sim(col(a), col(b))

  /** Overlap (Szymkiewicz-Simpson) coefficient over code-point bags:
    * Σmin / min(|a|,|b|) — the containment scorer of the Jaccard family. */
  def overlap_sim(a: Column, b: Column): Column = call(overlap, a, b)
  def overlap_sim(a: String, b: String): Column = overlap_sim(col(a), col(b))

  /** Bag-cosine similarity over per-code-point counts (string kernel; the
    * embedding-vector cosine is [[cosine_sim]]). */
  def cosine_bag_sim(a: Column, b: Column): Column = call(cosineBag, a, b)
  def cosine_bag_sim(a: String, b: String): Column = cosine_bag_sim(col(a), col(b))

  /** Normalized optimal-string-alignment (restricted Damerau-Levenshtein)
    * similarity: transposition-aware at linear memory — never NULL, unlike
    * [[damerau_levenshtein_sim]]'s quadratic-cap policy. */
  def osa_sim(a: Column, b: Column): Column = call(osa, a, b)
  def osa_sim(a: String, b: String): Column = osa_sim(col(a), col(b))

  /** Normalized LCS similarity: 2·|LCS|/(|a|+|b|) over code points —
    * order-preserving overlap that charges nothing for unmatched
    * interleaved material (middle names, titles). */
  def lcs_sim(a: Column, b: Column): Column = call(lcs, a, b)
  def lcs_sim(a: String, b: String): Column = lcs_sim(col(a), col(b))

  /** Needleman-Wunsch global-alignment similarity (match +1, mismatch −1,
    * gap −1; 0.5 + S/(2·max len)) — rewards matches, not only charging
    * edits: long shared runs dominate scattered mismatches. */
  def needleman_wunsch_sim(a: Column, b: Column): Column = call(needlemanWunsch, a, b)
  def needleman_wunsch_sim(a: String, b: String): Column =
    needleman_wunsch_sim(col(a), col(b))

  /** Smith-Waterman local-alignment similarity (best local window over
    * min(|a|,|b|)) — 1.0 on exact substring containment; the scorer for
    * one-side-truncated fields. */
  def smith_waterman_sim(a: Column, b: Column): Column = call(smithWaterman, a, b)
  def smith_waterman_sim(a: String, b: String): Column =
    smith_waterman_sim(col(a), col(b))

  /** Normalized q-gram profile similarity (Ukkonen): 1 − Σ|Δcount|/(nA+nB)
    * over code-point q-grams, q a 1..3 literal — the cheap edit-distance
    * lower-bound pre-filter (lev ≥ d/(2q)). */
  def qgram_sim(a: Column, b: Column, q: Int): Column = call(qgram, a, b, q)
  def qgram_sim(a: String, b: String, q: Int): Column =
    qgram_sim(col(a), col(b), q)

  /** Normalized Editex similarity (Zobel-Dart phonetic edit distance:
    * letter-group substitutions, H/W silent-context and free-double
    * deletions; 1 − dist/(2·max len)) — the edit-distance view of
    * phonetic matching, where [[nysiis_key]]/Soundex give only the
    * blocking-key view. */
  def editex_sim(a: Column, b: Column): Column = call(editex, a, b)
  def editex_sim(a: String, b: String): Column = editex_sim(col(a), col(b))

  /** Longest-common-substring similarity: |longest contiguous shared
    * run|/max(|a|,|b|) — strict under proper containment where
    * [[smith_waterman_sim]] saturates at 1.0. */
  def lcsstr_sim(a: Column, b: Column): Column = call(lcsstr, a, b)
  def lcsstr_sim(a: String, b: String): Column = lcsstr_sim(col(a), col(b))

  /** Affine-gap (Gotoh) global alignment similarity: match +1, mismatch
    * −1, gap of length L costs 1 + 0.5·(L−1) — one long gap beats many
    * scattered ones, unlike the unit-gap [[needleman_wunsch_sim]]. */
  def affine_gap_sim(a: Column, b: Column): Column = call(affineGap, a, b)
  def affine_gap_sim(a: String, b: String): Column = affine_gap_sim(col(a), col(b))

  /** Bag similarity over code-point multisets: Σmin/max(|a|,|b|). Bag
    * distance lower-bounds Levenshtein distance, so `bag_sim(a,b) >= θ`
    * is a sound (and the cheapest) admission filter in front of
    * `levenshtein_sim(a,b) >= θ` — below [[qgram_sim]] in the pre-filter
    * stack. */
  def bag_sim(a: Column, b: Column): Column = call(bag, a, b)
  def bag_sim(a: String, b: String): Column = bag_sim(col(a), col(b))

  /** Ratcliff-Obershelp (gestalt) similarity — Python difflib's
    * SequenceMatcher.ratio (without junk heuristics): 2·M/(|a|+|b|) over
    * recursively matched longest-common-substring blocks. */
  def ratcliff_obershelp_sim(a: Column, b: Column): Column = call(ratcliffObershelp, a, b)
  def ratcliff_obershelp_sim(a: String, b: String): Column =
    ratcliff_obershelp_sim(col(a), col(b))

  /** Partial Ratcliff-Obershelp (thefuzz's partial_ratio, exhaustive
    * best-window variant): max gestalt ratio between the shorter string
    * and any same-length code-point window of the longer — 1.0 on
    * verbatim containment ("ibm" in "ibm corporation"). */
  def partial_ratcliff_sim(a: Column, b: Column): Column = call(partialRatcliff, a, b)
  def partial_ratcliff_sim(a: String, b: String): Column =
    partial_ratcliff_sim(col(a), col(b))

  /** Confusion-weighted edit similarity (OCR/web-noise comparator):
    * substitutions between visually-confusable characters (O↔0, l↔1,
    * S↔5, …) cost half a regular edit; see
    * [[graft.strsim.StrSimKernels.ocrConfusions]]. */
  def confusion_lev_sim(a: Column, b: Column): Column = call(confusionLevSim, a, b)
  def confusion_lev_sim(a: String, b: String): Column =
    confusion_lev_sim(col(a), col(b))

  /** Raw confusion-weighted edit distance (integer; 2× Levenshtein when
    * no confusable pair participates). */
  def confusion_lev_dist(a: Column, b: Column): Column = call(confusionLevDist, a, b)
  def confusion_lev_dist(a: String, b: String): Column =
    confusion_lev_dist(col(a), col(b))

  /** Token-level Jaccard over distinct whitespace tokens. */
  def token_jaccard_sim(a: Column, b: Column): Column =
    wrap(tokenJaccardExpr(expr(a), expr(b)))
  def token_jaccard_sim(a: String, b: String): Column =
    token_jaccard_sim(col(a), col(b))

  /** Token-level overlap (containment) over distinct whitespace tokens. */
  def token_overlap_sim(a: Column, b: Column): Column =
    wrap(tokenOverlapExpr(expr(a), expr(b)))
  def token_overlap_sim(a: String, b: String): Column =
    token_overlap_sim(col(a), col(b))

  /** Tversky index over code-point bags with literal weights α (a-only
    * mass) and β (b-only mass): α=β=1 is Jaccard, α=β=0.5 is Dice. */
  def tversky_sim(a: Column, b: Column, alpha: Double, beta: Double): Column =
    call(tversky, a, b, alpha, beta)

  // Token-ratio compositions are built at the CATALYST level (not the
  // Column functions API): Column-API nodes are UnresolvedFunction wrappers
  // in Spark 4, which don't type-check when embedded in a registered SQL
  // function's expression tree. Building the raw expressions once lets the
  // Column surface and the SQL registration share one definition.
  private def tokenSortRatioExpr(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, ArraySort,
      Literal, StringSplit, StringTrim}
    def key(e: Expression): Expression = new ArrayJoin(
      new ArraySort(new StringSplit(new StringTrim(e), Literal("\\s+"))),
      Literal(" "))
    levenshtein(key(a), key(b))
  }

  private def tokenSetRatioExpr(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct,
      ArrayExcept, ArrayIntersect, ArrayJoin, ArraySort, ConcatWs, Greatest,
      If, IsNull, Literal, Or, StringSplit, StringTrim}
    import org.apache.spark.sql.types.DoubleType
    def toks(e: Expression): Expression =
      new ArraySort(ArrayDistinct(new StringSplit(new StringTrim(e),
        Literal("\\s+"))))
    def joined(e: Expression): Expression = new ArrayJoin(e, Literal(" "))
    val ta = toks(a)
    val tb = toks(b)
    val s0 = joined(new ArraySort(ArrayIntersect(ta, tb)))
    val da = joined(new ArraySort(ArrayExcept(ta, tb)))
    val db = joined(new ArraySort(ArrayExcept(tb, ta)))
    val s1 = new StringTrim(ConcatWs(Seq(Literal(" "), s0, da)))
    val s2 = new StringTrim(ConcatWs(Seq(Literal(" "), s0, db)))
    If(Or(IsNull(a), IsNull(b)), Literal.create(null, DoubleType),
      Greatest(Seq(levenshtein(s0, s1), levenshtein(s0, s2),
        levenshtein(s1, s2))))
  }

  /** Token-level Jaccard: |ta ∩ tb| / |ta ∪ tb| over DISTINCT whitespace
    * tokens. Note the [""]-token artifact: split("") = [""], so two
    * empty/whitespace-only strings share the "" token → 1.0, and
    * ""-vs-nonempty → 0.0 — exactly the pinned empty contract, for free. */
  private def tokenJaccardExpr(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct,
      ArrayIntersect, ArrayUnion, Cast, Divide, If, IsNull, Literal, Or,
      Size, StringSplit, StringTrim}
    import org.apache.spark.sql.types.DoubleType
    def toks(e: Expression): Expression =
      ArrayDistinct(new StringSplit(new StringTrim(e), Literal("\\s+")))
    val ta = toks(a)
    val tb = toks(b)
    If(Or(IsNull(a), IsNull(b)), Literal.create(null, DoubleType),
      Divide(Cast(Size(ArrayIntersect(ta, tb)), DoubleType),
        Cast(Size(ArrayUnion(ta, tb)), DoubleType)))
  }

  /** Token-level overlap (containment): |ta ∩ tb| / min(|ta|, |tb|) over
    * distinct whitespace tokens — 1.0 when either token set contains the
    * other. Same [""]-artifact empty contract as [[tokenJaccardExpr]]. */
  private def tokenOverlapExpr(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct,
      ArrayIntersect, Cast, Divide, If, IsNull, Least, Literal, Or, Size,
      StringSplit, StringTrim}
    import org.apache.spark.sql.types.DoubleType
    def toks(e: Expression): Expression =
      ArrayDistinct(new StringSplit(new StringTrim(e), Literal("\\s+")))
    val ta = toks(a)
    val tb = toks(b)
    If(Or(IsNull(a), IsNull(b)), Literal.create(null, DoubleType),
      Divide(Cast(Size(ArrayIntersect(ta, tb)), DoubleType),
        Cast(Least(Seq(Size(ta), Size(tb))), DoubleType)))
  }

  /** Token-sort ratio (the fuzzywuzzy classic): Levenshtein similarity of
    * the two strings after whitespace tokenization + lexicographic token
    * sort — word-order-invariant edit similarity ("smith john" ≡ "john
    * smith"). Pure composition of stock codegen expressions (split /
    * array_sort / array_join) under [[levenshtein_sim]]: one Project, no
    * new kernel. Empty↔empty → 1.0; null propagates. */
  def token_sort_ratio(a: Column, b: Column): Column =
    wrap(tokenSortRatioExpr(expr(a), expr(b)))
  def token_sort_ratio(a: String, b: String): Column =
    token_sort_ratio(col(a), col(b))

  /** Token-set ratio (fuzzywuzzy): split both sides into DISTINCT sorted
    * whitespace tokens, build s0 = sorted(a ∩ b), s1 = s0 + sorted(a − b),
    * s2 = s0 + sorted(b − a) (space-joined, trimmed), and return
    * max(lev(s0,s1), lev(s0,s2), lev(s1,s2)) — robust to one side carrying
    * extra tokens ("john smith" vs "smith, john, esq." scores on the
    * shared core). Stock set-op expressions only. Null on either side →
    * null (guarded explicitly: ConcatWs would otherwise swallow the null
    * and leak a 0.0). */
  def token_set_ratio(a: Column, b: Column): Column =
    wrap(tokenSetRatioExpr(expr(a), expr(b)))
  def token_set_ratio(a: String, b: String): Column =
    token_set_ratio(col(a), col(b))

  /** Monge-Elkan token similarity with Jaro-Winkler inner kernel
    * (asymmetric; mean over a's tokens of the best JW match in b). */
  def monge_elkan_jw(a: Column, b: Column): Column = call(mongeElkanJw, a, b)
  def monge_elkan_jw(a: String, b: String): Column = monge_elkan_jw(col(a), col(b))

  /** Exact code-point Levenshtein distance when ≤ k, else k+1 (banded
    * O(k·n) DP — the edit-distance pre-filter tier). */
  def levenshtein_capped(a: Column, b: Column, k: Int): Column = call(levenshteinCapped, a, b, k)

  /** `true` iff code-point Levenshtein distance ≤ k (banded kernel). */
  def levenshtein_within(a: Column, b: Column, k: Int): Column = call(levenshteinWithin, a, b, k)

  /** Bag distance (integer face of [[bag_sim]]): max(|a|,|b|) − Σmin over
    * code-point multisets — a Levenshtein lower bound at sorted-merge
    * cost. */
  def bag_dist(a: Column, b: Column): Column = call(bagDist, a, b)
  def bag_dist(a: String, b: String): Column = bag_dist(col(a), col(b))

  /** `true` iff bag distance ≤ k — the tier-0 admission filter in front
    * of [[levenshtein_within]] (same k): bag distance lower-bounds edit
    * distance, so a bag rejection is a sound Levenshtein rejection and
    * the banded DP only runs on bag survivors. */
  def bag_within(a: Column, b: Column, k: Int): Column = call(bagWithin, a, b, k)

  /** 64-bit SimHash over whitespace tokens (near-dup signature). */
  def simhash64(c: Column): Column = call(simHash64, c)

  /** 60-bit sha256-family SimHash (SQL-reproducible variant). */
  def simhash60_sha(c: Column): Column = call(simHashSha60, c)

  /** Min rolling-hash fingerprint over byte k-grams (w-shingling). */
  def min_kgram_hash(c: Column, k: Int): Column = call(minKGramHash, c, k)

  /** b-bit MinHash packing (Li & König 2010): keep the low b bits of each
    * signature lane, packed 64/b lanes per long — the signature (and every
    * shuffle that moves it) shrinks 64/b ×. Input: a [[minhash_sig]] /
    * [[minhash_sig_oph]] array (either hash family; picked by input type).
    * b ∈ {4, 8, 16, 32}; lane count must fill whole words. */
  def bbit_sig(sig: Column, b: Int): Column = call(bbitSig, sig, b)

  /** Count of agreeing b-bit lanes between two [[bbit_sig]] outputs. */
  def bbit_match_count(a: Column, bCol: Column, b: Int): Column =
    call(bbitMatchCount, a, bCol, b)

  /** Li-König unbiased Jaccard estimate from packed b-bit signatures:
    * (f − 2^-b)/(1 − 2^-b) with f the agreeing-lane fraction. Unclamped —
    * below-chance samples estimate negative by design. */
  def bbit_jaccard_est(a: Column, bCol: Column, b: Int): Column =
    call(bbitJaccardEst, a, bCol, b)

  /** Unicode normalization to a plan-time form (NFC/NFD/NFKC/NFKD) — run
    * it FIRST in any linkage pipeline: every downstream kernel, key, and
    * signature compares raw code points, so é (composed) and e+◌́
    * (decomposed) only match after canonicalization. */
  def unicode_norm(c: Column, form: String): Column =
    call(unicodeNorm, c, form)

  /** Accent strip (NFD → drop combining marks → NFC): Müller → Muller.
    * Matches DuckDB/ICU strip_accents on the Latin palette;
    * non-decomposable letters (ł ø ß æ) are kept. */
  def strip_accents(c: Column): Column = call(stripAccents, c)
  def strip_accents(c: String): Column = strip_accents(col(c))

  /** Pinned match-normalization chain for name/title fields — the
    * standard pre-blocking standardization stage:
    * NFC → strip accents → lowercase → non-alphanumeric runs (anything
    * outside \p{L}\p{Nd}) to one space → trim. One Project, fully inside
    * whole-stage codegen; composed from [[unicode_norm]],
    * [[strip_accents]], and stock Catalyst string expressions so the
    * Column surface and SQL registration share one definition. */
  def normalize_match(c: Column): Column = wrap(normalizeMatchExpr(expr(c)))
  def normalize_match(c: String): Column = normalize_match(col(c))

  private def normalizeMatchExpr(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower,
      RegExpReplace, StringTrim}
    new StringTrim(RegExpReplace(
      Lower(stripAccents(unicodeNorm(e, "NFC"))),
      Literal("[^\\p{L}\\p{Nd}]+"), Literal(" ")))
  }

  /** Fingerprint blocking key (OpenRefine's fingerprint keyer — the
    * method-of-first-resort for messy name/title clustering): the
    * [[normalize_match]] chain, then DISTINCT whitespace tokens sorted
    * and space-joined — word order, duplication, case, accents, and
    * punctuation all collapse. One catalyst definition for Column + SQL. */
  def fingerprint_key(c: Column): Column = wrap(fingerprintExpr(expr(c)))
  def fingerprint_key(c: String): Column = fingerprint_key(col(c))

  private def fingerprintExpr(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct,
      ArrayJoin, ArraySort, Literal, StringSplit}
    new ArrayJoin(new ArraySort(ArrayDistinct(
      new StringSplit(normalizeMatchExpr(e), Literal(" ")))), Literal(" "))
  }

  /** N-gram fingerprint key (OpenRefine's ngram-fingerprint keyer): the
    * [[normalize_match]] chain with spaces removed, then distinct
    * code-point n-grams in binary order, concatenated — catches
    * within-token typos and concatenation variants `fingerprint_key`'s
    * token sort cannot. n ∈ 1..8. */
  def ngram_fingerprint_key(c: Column, n: Int): Column =
    wrap(ngramFingerprintExpr(expr(c), n))

  private def ngramFingerprintExpr(e: Expression, n: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
    ngramFingerprint(RegExpReplace(normalizeMatchExpr(e), Literal(" "), Literal("")), n)
  }

  /** NYSIIS phonetic key (pinned variant; see TextKernels.nysiis). */
  def nysiis_key(c: Column): Column = call(nysiis, c)
  def nysiis_key(c: String): Column = nysiis_key(col(c))

  /** Cologne phonetics (Kölner Phonetik) blocking key — variable-length
    * digit code, the German-tuned third phonetic family. */
  def cologne_key(c: Column): Column = call(cologne, c)
  def cologne_key(c: String): Column = cologne_key(col(c))

  /** Original Metaphone blocking key (pinned positional variant; no
    * truncation) — fifth phonetic family. */
  def metaphone_key(c: Column): Column = call(metaphone, c)
  def metaphone_key(c: String): Column = metaphone_key(col(c))

  /** Match Rating Approach codex — fourth phonetic key; compare with
    * [[mra_similarity]]/[[mra_match]], not key equality. */
  def mra_codex(c: Column): Column = call(mraCodex, c)
  def mra_codex(c: String): Column = mra_codex(col(c))

  /** MRA comparison rating 0..6; NULL when MRA declares "no comparison"
    * (codex length gap >= 3). */
  def mra_similarity(a: Column, b: Column): Column = call(mraSimilarity, a, b)
  def mra_similarity(a: String, b: String): Column =
    mra_similarity(col(a), col(b))

  /** MRA decision: rating >= the combined-codex-length minimum; NULL =
    * "no comparison". */
  def mra_match(a: Column, b: Column): Column = call(mraMatch, a, b)
  def mra_match(a: String, b: String): Column = mra_match(col(a), col(b))

  /** Gopher-style repetition counters (array<long> of 6 — line instances,
    * dup line instances, dup line chars, total line chars, top bigram
    * coverage, total word chars); fractions derive by integer division. */
  def repetition_counters(c: Column): Column = call(repetitionCounters, c)

  /** Fused codegen cosine similarity over array<float> columns. */
  def cosine_sim(a: Column, b: Column): Column = call(cosine, a, b)

  /** Fused left-fold dot product (the dot inside cosine_sim). */
  def vec_dot(a: Column, b: Column): Column = call(vecDot, a, b)

  /** Fused vector norm (the norm inside cosine_sim): precompute per
    * vector, then `vec_dot(a,b) / (norm_a * norm_b)` == cosine_sim(a,b)
    * bit-for-bit at a third of the per-pair flops. */
  def vec_norm(v: Column): Column = call(vecNorm, v)

  /** Packed sign bits of one LSH band's hyperplane projections (fused).
    * The plane matrix is converted to immutable Seqs so structurally equal
    * calls build structurally equal expressions (plan canonicalization,
    * subexpression elimination, and exchange reuse all key on equals). */
  def hyperplane_sig(v: Column, planes: Array[Array[Double]]): Column =
    call(hyperplaneSig, v, planes.toSeq.map(_.toSeq))

  /** One-pass MinHash signature over token 2-shingles of an array<string>
    * column; family ∈ {xxhash64 (production), sha256 (oracle-checkable)}. */
  def minhash_sig(tokens: Column, numHashes: Int, family: String = "xxhash64"): Column =
    call(minhashSig, tokens, numHashes, family)

  /** One-pass MinHash signature over code-point k-gram shingles of a
    * string column. */
  def minhash_sig_chars(s: Column, shingleK: Int, numHashes: Int,
      family: String = "xxhash64"): Column =
    call(minhashSigChars, s, shingleK, numHashes, family)

  /** One-permutation MinHash signature (16 bins, rotation-densified) over
    * token 2-shingles — O(m) per document vs O(k·m) for [[minhash_sig]];
    * family ∈ {xxhash64 (production), sha256 (oracle-checkable)}. */
  def minhash_sig_oph(tokens: Column, family: String = "xxhash64"): Column =
    call(minhashSigOph, tokens, family)

  /** CLK Bloom-filter PPRL encoder (Schnell-Bachteler-Reiher), set-bit
    * positions form: m-bit filter, g double-hashed sha256 positions per
    * padded code-point bigram. */
  def clk_bits(s: Column, m: Int, g: Int, salt: String = ""): Column =
    call(clkBits, s, m, g, salt)

  /** CLK Bloom-filter PPRL encoder, packed form (m/64 longs) — compare
    * with [[bloom_dice]]. */
  def clk_sig(s: Column, m: Int, g: Int, salt: String = ""): Column =
    call(clkSig, s, m, g, salt)

  /** Dice coefficient of two packed CLK filters (popcount arithmetic). */
  def bloom_dice(a: Column, b: Column): Column =
    call(bloomDice, a, b)

  /** Extract a foldable non-negative integer literal argument, or raise a
    * CLEAR analysis-time error (a non-foldable column/expression would
    * otherwise surface as an obscure eval/cast exception at plan time). */
  private def litInt(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable) throw nonFoldable(fn, arg, "a non-negative INT literal")
    e.eval(null) match {
      case n: Number if n.longValue() >= 0 && n.longValue() == n.intValue() => n.intValue()
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a non-negative integer literal, got $v")
    }
  }

  private def litStr(e: Expression, fn: String, arg: String): String = {
    if (!e.foldable) throw nonFoldable(fn, arg, "a STRING literal")
    String.valueOf(e.eval(null))
  }

  private def litDouble(e: Expression, fn: String, arg: String): Double = {
    if (!e.foldable) throw nonFoldable(fn, arg, "a non-negative DOUBLE literal")
    e.eval(null) match {
      // SQL `0.25` parses as DECIMAL(2,2), not DOUBLE — accept both
      case d: org.apache.spark.sql.types.Decimal if d.toDouble >= 0 => d.toDouble
      case n: Number if n.doubleValue() >= 0 => n.doubleValue()
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a non-negative numeric literal, got $v")
    }
  }

  private def nonFoldable(fn: String, arg: String, tpe: String) =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fn`", "paramName" -> s"`$arg`", "paramType" -> tpe))

  /** Checks a SQL call's argument count before `build` reads it. */
  private def arity(name: String, counts: Int*)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { es =>
      if (!counts.contains(es.length)) throw GraftShims.wrongNumArgs(name, counts, es.length)
      build(es)
    }

  /** A kernel's SQL builder: its inputs, then its literal parameters read
    * from the remaining arguments (each must be foldable); an omitted
    * trailing parameter takes its default. */
  private def kernelCall(k: Kernel): (String, Seq[Expression] => Expression) = {
    val required = k.params.count(_.default.isEmpty)
    arity(k.name, k.arity + required to k.arity + k.params.size: _*) { es =>
      val (inputs, lits) = es.splitAt(k.arity)
      k(inputs ++ k.params.zipWithIndex.map { case (p, i) =>
        lits.lift(i).fold(p.default.get)(e => p.tpe match {
          case DoubleType => litDouble(e, k.name, p.name)
          case StringType => litStr(e, k.name, p.name)
          case _ => litInt(e, k.name, p.name)
        })
      }: _*)
    }
  }

  /** SQL function names → expression builders; each rejects a wrong
    * argument count. One convention everywhere: every similarity kernel
    * is `<name>_sim` (`levenshtein` alone would shadow Spark's built-in
    * DISTANCE of the same name, and a mixed bare/suffixed surface invites
    * silent semantic mixups — the suffix states these return a [0,1]
    * similarity, not a distance). Every kernel registers from its
    * [[Kernel]] entry, except the two with `sql = false`:
    * `ngram_fingerprint` (SQL composes it as `ngram_fingerprint_key`) and
    * `hyperplane_sig` (SQL has no literal for its plane matrix). */
  val sqlFunctions: Map[String, Seq[Expression] => Expression] = (
    Kernel.all.filter(_.sql).map(kernelCall) ++ Seq(
      // composed (not bespoke) kernels — SQL and Column paths share the one
      // catalyst-level composition
      arity("token_sort_ratio", 2)(es => tokenSortRatioExpr(es(0), es(1))),
      arity("token_set_ratio", 2)(es => tokenSetRatioExpr(es(0), es(1))),
      arity("token_jaccard_sim", 2)(es => tokenJaccardExpr(es(0), es(1))),
      arity("token_overlap_sim", 2)(es => tokenOverlapExpr(es(0), es(1))),
      arity("normalize_match", 1)(es => normalizeMatchExpr(es(0))),
      arity("fingerprint_key", 1)(es => fingerprintExpr(es(0))),
      // n must be a foldable literal in 1..8: ngram_fingerprint_key(name, 2)
      arity("ngram_fingerprint_key", 2)(es => ngramFingerprintExpr(es(0),
        litInt(es(1), "ngram_fingerprint_key", "n"))),
    )).toMap

  /** Register all kernels with the session's FunctionRegistry for SQL use. */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      GraftShims.registerFunction(spark, name, builder)
    }
}
