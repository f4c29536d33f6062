package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.strsim.StrSimKernels

/** Catalyst expressions for the seven strsim kernels.
  *
  * Each is a deterministic, null-intolerant scalar `BinaryExpression` whose
  * `doGenCode` emits ONE static call into [[graft.strsim.StrSimKernels]] —
  * so the kernel runs inside whole-stage codegen with no boxing, no virtual
  * dispatch, and no row-at-a-time UDF overhead. This is the Spark-native
  * equivalent of the reference's elementwise plugin declaration
  * (`/root/reference/polars_strsim/__init__.py:15` `is_elementwise=True`):
  * Catalyst is free to push filters through it, prune columns around it,
  * and constant-fold it when both children are literals.
  */
abstract class StrSimExpression extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  /** Simple name of the static kernel method in StrSimKernels. */
  protected def kernelMethod: String
  protected def kernel(a: UTF8String, b: UTF8String): Double

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.strsim.StrSimKernels.$kernelMethod($a, $b)")
}

/** Normalized Levenshtein similarity (reference strsim.rs:109-162). */
case class LevenshteinSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "levenshtein_sim"
  override protected def kernelMethod: String = "levenshtein"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.levenshtein(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaro similarity (reference strsim.rs:164-245). */
case class JaroSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "jaro_sim"
  override protected def kernelMethod: String = "jaro"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.jaro(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaro-Winkler similarity (reference strsim.rs:247-272). */
case class JaroWinklerSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "jaro_winkler_sim"
  override protected def kernelMethod: String = "jaroWinkler"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.jaroWinkler(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Multiset (bag-of-code-points) Jaccard similarity (strsim.rs:274-308). */
case class JaccardSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "jaccard_sim"
  override protected def kernelMethod: String = "jaccard"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.jaccard(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Multiset Sørensen-Dice similarity (strsim.rs:310-345). */
case class SorensenDiceSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "sorensen_dice_sim"
  override protected def kernelMethod: String = "sorensenDice"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.sorensenDice(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized unrestricted Damerau-Levenshtein similarity (north-star
  * addition; distance matches DuckDB `damerau_levenshtein`).
  *
  * Long-input policy: when the affix-trimmed DP core would exceed the
  * kernel's quadratic-memory cap the kernel returns NaN and this expression
  * returns NULL (never throws — a data-dependent exception would kill a
  * 10^12-pair job on one pathological document). Callers wanting a score
  * anyway should fall back to `levenshtein_sim` via `coalesce`. */
case class DamerauLevenshteinSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "damerau_levenshtein_sim"
  override protected def kernelMethod: String = "damerauLevenshtein"
  override def nullable: Boolean = true
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.damerauLevenshtein(a, b)
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = StrSimKernels.damerauLevenshtein(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    if (java.lang.Double.isNaN(v)) null else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.strsim.StrSimKernels.damerauLevenshtein($a, $b);
         |if (java.lang.Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized Hamming similarity (north-star addition; equal-length
  * distances match DuckDB `hamming`). */
case class HammingSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "hamming_sim"
  override protected def kernelMethod: String = "hamming"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.hamming(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Overlap (Szymkiewicz-Simpson) coefficient over code-point bags
  * ([[StrSimKernels.overlap]]): Σmin / min(|a|,|b|) — the containment
  * scorer of the Jaccard family. */
case class OverlapSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "overlap_sim"
  override protected def kernelMethod: String = "overlap"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.overlap(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Bag-cosine similarity over per-code-point counts
  * ([[StrSimKernels.cosineBag]]). Named `_bag_` to keep it distinct from
  * [[CosineSim]], the array<float> embedding cosine. */
case class CosineBagSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "cosine_bag_sim"
  override protected def kernelMethod: String = "cosineBag"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.cosineBag(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized optimal-string-alignment (restricted Damerau-Levenshtein)
  * similarity ([[StrSimKernels.osa]]): the linear-memory transposition-aware
  * edit similarity — no quadratic-matrix cap, so unlike
  * [[DamerauLevenshteinSim]] it never returns NULL. */
case class OsaSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "osa_sim"
  override protected def kernelMethod: String = "osa"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.osa(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized longest-common-subsequence similarity
  * ([[StrSimKernels.lcs]]): 2·|LCS|/(|a|+|b|) — order-preserving overlap
  * that charges nothing for unmatched interleaved material. */
case class LcsSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "lcs_sim"
  override protected def kernelMethod: String = "lcs"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.lcs(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized Needleman-Wunsch global-alignment similarity
  * ([[StrSimKernels.needlemanWunsch]]): match +1 / mismatch −1 / gap −1,
  * mapped to [0,1] by 0.5 + S/(2·max len). */
case class NeedlemanWunschSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "needleman_wunsch_sim"
  override protected def kernelMethod: String = "needlemanWunsch"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.needlemanWunsch(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized Smith-Waterman local-alignment similarity
  * ([[StrSimKernels.smithWaterman]]): best local window score over
  * min(|a|,|b|) — the alignment view of substring matching. */
case class SmithWatermanSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "smith_waterman_sim"
  override protected def kernelMethod: String = "smithWaterman"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.smithWaterman(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized Editex similarity ([[StrSimKernels.editex]]): the
  * phonetic-aware edit distance (Zobel-Dart letter groups, H/W
  * silent-context and free-double deletions), mapped to [0,1] by
  * 1 − dist/(2·max len). The pinned variant is documented on the kernel. */
case class EditexSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "editex_sim"
  override protected def kernelMethod: String = "editex"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.editex(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized longest-common-SUBSTRING similarity
  * ([[StrSimKernels.lcsstr]]): |longest contiguous shared run| / max len —
  * the contiguous counterpart of [[LcsSim]], strict under proper
  * containment where [[SmithWatermanSim]] saturates. */
case class LcsStrSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "lcsstr_sim"
  override protected def kernelMethod: String = "lcsstr"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.lcsstr(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized affine-gap (Gotoh) global alignment similarity
  * ([[StrSimKernels.affineGap]]): match +1 / mismatch −1, a gap of length
  * L costs 1 + 0.5·(L−1) — the alignment scorer where one long gap (a
  * dropped middle name) costs less than scattered single gaps, unlike the
  * unit-gap [[NeedlemanWunschSim]]. */
case class AffineGapSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "affine_gap_sim"
  override protected def kernelMethod: String = "affineGap"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.affineGap(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Bag similarity over code-point multisets ([[StrSimKernels.bag]]):
  * Σmin/max(|a|,|b|), i.e. 1 − bagdist/max where bagdist is the
  * Bartolini-Ciaccia-Patella bag distance — a LOWER bound on Levenshtein
  * distance, so `bag_sim ≥ θ` is a sound admission filter in front of
  * `levenshtein_sim ≥ θ` (the cheapest tier of the edit pre-filter stack:
  * one scratch sort-merge, no DP, no gram packing). */
case class BagSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "bag_sim"
  override protected def kernelMethod: String = "bag"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.bag(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Ratcliff-Obershelp (gestalt) similarity — Python
  * difflib.SequenceMatcher.ratio without junk heuristics
  * ([[StrSimKernels.ratcliffObershelp]]): 2·M/(|a|+|b|) with M the total
  * matched length from recursive longest-common-substring splitting,
  * tie-broken earliest-in-a then earliest-in-b like difflib. */
case class RatcliffObershelpSim(left: Expression, right: Expression)
  extends StrSimExpression {
  override def prettyName: String = "ratcliff_obershelp_sim"
  override protected def kernelMethod: String = "ratcliffObershelp"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.ratcliffObershelp(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Partial Ratcliff-Obershelp — thefuzz's `partial_ratio` pinned to the
  * exhaustive best-window definition ([[StrSimKernels.partialRatcliff]]):
  * max gestalt ratio between the shorter string and any same-length
  * code-point window of the longer. The containment-style member of the
  * gestalt family — 1.0 whenever the shorter string appears verbatim
  * inside the longer. */
case class PartialRatcliffSim(left: Expression, right: Expression)
  extends StrSimExpression {
  override def prettyName: String = "partial_ratcliff_sim"
  override protected def kernelMethod: String = "partialRatcliff"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.partialRatcliff(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Tversky index over code-point bags with compile-time weights α (a-only
  * mass) and β (b-only mass) — [[StrSimKernels.tversky]]. α and β must be
  * foldable non-negative finite literals so codegen bakes them into the
  * call site (and so the generated Java source round-trips the exact IEEE
  * values via `Double.toString`). */
case class TverskySim(left: Expression, right: Expression, alpha: Double, beta: Double)
  extends StrSimExpression {
  require(alpha >= 0 && beta >= 0 &&
    !alpha.isNaN && !beta.isNaN && !alpha.isInfinite && !beta.isInfinite,
    s"tversky_sim requires finite alpha, beta >= 0, got ($alpha, $beta)")
  override def prettyName: String = "tversky_sim"
  override protected def kernelMethod: String = "tversky"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.tversky(a, b, alpha, beta)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.strsim.StrSimKernels.tversky($a, $b, ${alpha}D, ${beta}D)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Normalized q-gram profile similarity with compile-time gram size `q`
  * ([[StrSimKernels.qgram]]): 1 − Σ|countA(g) − countB(g)|/(nA+nB) — the
  * Ukkonen edit-distance lower-bound filter (lev ≥ d/(2q)). q must be a
  * foldable 1..3 literal (each gram packs into one long) so codegen bakes
  * it into the call site. */
case class QgramSim(left: Expression, right: Expression, q: Int)
  extends StrSimExpression {
  require(q >= 1 && q <= 3, s"qgram_sim requires q in 1..3, got $q")
  override def prettyName: String = "qgram_sim"
  override protected def kernelMethod: String = "qgram"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.qgram(a, b, q)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.strsim.StrSimKernels.qgram($a, $b, $q)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Monge-Elkan similarity with Jaro-Winkler as the inner kernel
  * ([[StrSimKernels.mongeElkanJaroWinkler]]): the hybrid token/char scorer
  * for multi-token entity names, robust to token reordering. Asymmetric by
  * definition — symmetrize with (me(a,b)+me(b,a))/2 where needed. */
case class MongeElkanJw(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "monge_elkan_jw"
  override protected def kernelMethod: String = "mongeElkanJaroWinkler"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.mongeElkanJaroWinkler(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Confusion-weighted edit SIMILARITY (OCR/web-noise comparator):
  * 1 − dist/(2·max(n,m)) with substitution cost 0/1/2 (identical /
  * listed visually-confusable pair / other) and indel cost 2 — the
  * UNIMATCH/strcmp95 "similar character" idea as a proper weighted DP.
  * Table: [[graft.strsim.StrSimKernels.ocrConfusions]] (single source
  * of truth, the SQL oracle folds the same list). */
case class ConfusionLevSim(left: Expression, right: Expression) extends StrSimExpression {
  override def prettyName: String = "confusion_lev_sim"
  override protected def kernelMethod: String = "confusionLevSim"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    StrSimKernels.confusionLevSim(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Raw confusion-weighted edit DISTANCE (integer-exact; 2× Levenshtein
  * when no confusable pair is touched). */
case class ConfusionLevDist(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "confusion_lev_dist"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StrSimKernels.confusionLevDist(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.strsim.StrSimKernels.confusionLevDist($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Levenshtein distance capped at a compile-time `k`
  * ([[StrSimKernels.levenshteinCapped]]): the exact code-point distance
  * when ≤ k, else k+1. Banded O(k·n) DP — the scale-tier edit-distance
  * pre-filter for candidate pruning at 10^12 pairs (full quadratic scoring
  * only runs on survivors). `k` must be a foldable non-negative literal so
  * codegen bakes it into the call site. */
case class LevenshteinCapped(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with Serializable {
  require(k >= 0, s"levenshtein_capped requires k >= 0, got $k")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "levenshtein_capped"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StrSimKernels.levenshteinCapped(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.strsim.StrSimKernels.levenshteinCapped($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Bag distance over code-point multisets ([[StrSimKernels.bagDist]]):
  * max(|a|,|b|) − Σmin — the integer face of [[BagSim]]. Lower-bounds
  * Levenshtein distance at sorted-merge cost (no DP). */
case class BagDist(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "bag_dist"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StrSimKernels.bagDist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.strsim.StrSimKernels.bagDist($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `true` iff the bag distance is ≤ k — the boolean face of [[BagDist]]
  * and the TIER-0 admission filter of the edit pre-filter stack: since
  * bag distance lower-bounds Levenshtein distance, `NOT bag_within(k)`
  * refutes `levenshtein_within(k)` at sorted-merge cost, so the banded
  * DP (tier 1) only runs on bag survivors. */
case class BagWithin(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with Serializable {
  require(k >= 0, s"bag_within requires k >= 0, got $k")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bag_within"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StrSimKernels.bagDist(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]) <= k
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"(graft.strsim.StrSimKernels.bagDist($a, $b) <= $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `true` iff the code-point Levenshtein distance is ≤ k (banded kernel,
  * never the full DP). The boolean face of [[LevenshteinCapped]]. */
case class LevenshteinWithin(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with Serializable {
  require(k >= 0, s"levenshtein_within requires k >= 0, got $k")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "levenshtein_within"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StrSimKernels.levenshteinCapped(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k) <= k
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"(graft.strsim.StrSimKernels.levenshteinCapped($a, $b, $k) <= $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
