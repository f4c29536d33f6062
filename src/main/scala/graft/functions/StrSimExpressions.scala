package graft.functions

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.strsim.{StrSimKernels, TextKernels}

/** A test on a kernel's raw result, spelled once for codegen (`code`) and
  * once for interpreted eval (`apply`). */
sealed abstract class RawTest extends Serializable {
  def code(v: String): String
  def apply(v: Any): Boolean
}

object RawTest {
  /** Damerau-Levenshtein's long-input sentinel. */
  case object IsNaN extends RawTest {
    def code(v: String): String = s"java.lang.Double.isNaN($v)"
    def apply(v: Any): Boolean = v.asInstanceOf[Double].isNaN
  }
  /** MRA's "no comparison" sentinel (−1). */
  case object Negative extends RawTest {
    def code(v: String): String = s"$v < 0"
    def apply(v: Any): Boolean = v.asInstanceOf[Int] < 0
  }
  /** MRA's match flag. */
  case object IsOne extends RawTest {
    def code(v: String): String = s"$v == 1"
    def apply(v: Any): Boolean = v.asInstanceOf[Int] == 1
  }
}

/** One string-pair kernel bound to Catalyst, declared once in
  * [[StrPairKernel$]]: its SQL name, the static method it calls (`owner`
  * is `StrSimKernels` or `TextKernels`), that method's return type, its
  * literal parameters with their check, and the rule that turns the raw
  * result into the SQL value. Codegen emits the call from `owner` and
  * `method`; interpreted eval invokes the same method through a handle
  * looked up from the same two names, so the two paths cannot disagree.
  * One instance exists per name: a deserialized binding resolves to it. */
final class StrPairKernel private (
    val name: String,
    val owner: Class[_],
    val method: String,
    val raw: DataType,
    val params: Seq[(String, DataType)],
    expects: String,
    valid: Seq[Any] => Boolean,
    val nullIf: Option[RawTest],
    val isTrue: Option[RawTest]) extends Serializable {

  /** SQL result type: the raw type, or boolean when `isTrue` maps it. */
  def dataType: DataType = if (isTrue.isDefined) BooleanType else raw

  def apply(left: Expression, right: Expression, args: Any*): StrPairExpression =
    StrPairExpression(this, left, right, args)

  private[functions] def check(args: Seq[Any]): Unit =
    require(args.length == params.length && valid(args), s"$name requires $expects, got " +
      (if (args.length == 1) args.head else args.mkString("(", ", ", ")")))

  /** The Java source of the one static call. */
  private[functions] def call(a: String, b: String, args: Seq[Any]): String =
    (Seq(a, b) ++ args.map { case d: Double => s"${d}D"; case v => v.toString })
      .mkString(s"${owner.getName}.$method(", ", ", ")")

  @transient private lazy val handle: MethodHandle =
    MethodHandles.publicLookup().findStatic(owner, method, MethodType.methodType(
      CodeGenerator.javaClass(raw),
      (Seq(classOf[UTF8String], classOf[UTF8String]) ++
        params.map(p => CodeGenerator.javaClass(p._2))).toArray))

  private[functions] def invoke(a: Any, b: Any, args: Seq[Any]): Any =
    handle.invokeWithArguments((Seq(a, b) ++ args).map(_.asInstanceOf[AnyRef]): _*)

  private def readResolve(): AnyRef = StrPairKernel.byName(name)
  override def toString: String = name
}

/** Every string-pair kernel, one entry each. Adding one: a `bind` entry
  * here naming its static method, plus its Column function in
  * [[graft.functions]]; `sqlFunctions` registers it from this list. */
object StrPairKernel {
  private val registry = mutable.LinkedHashMap.empty[String, StrPairKernel]
  private def mirror(module: AnyRef): Class[_] =
    Class.forName(module.getClass.getName.stripSuffix("$"), true, module.getClass.getClassLoader)
  private val StrSim = mirror(StrSimKernels)
  private val Text = mirror(TextKernels)

  private def bind(name: String, method: String, owner: Class[_] = StrSim,
      raw: DataType = DoubleType, params: Seq[(String, DataType)] = Nil,
      expects: String = "no literal parameters", valid: Seq[Any] => Boolean = _.isEmpty,
      nullIf: Option[RawTest] = None, isTrue: Option[RawTest] = None): StrPairKernel = {
    require(!registry.contains(name), s"$name is bound twice")
    require(isTrue.isEmpty || nullIf.isDefined, s"$name: isTrue needs a nullIf rule")
    val k = new StrPairKernel(name, owner, method, raw, params, expects, valid, nullIf, isTrue)
    registry(name) = k
    k
  }

  /** `k` must be a foldable non-negative literal; codegen bakes it into the
    * call site. */
  private def withK(name: String, method: String, raw: DataType): StrPairKernel =
    bind(name, method, raw = raw, params = Seq("k" -> IntegerType), expects = "k >= 0",
      valid = { case Seq(k: Int) => k >= 0; case _ => false })

  def all: Seq[StrPairKernel] = registry.values.toSeq
  def byName(name: String): StrPairKernel = registry(name)

  /** Normalized Levenshtein similarity (reference strsim.rs:109-162). */
  val levenshtein = bind("levenshtein_sim", "levenshtein")
  /** Jaro similarity (reference strsim.rs:164-245). */
  val jaro = bind("jaro_sim", "jaro")
  /** Jaro-Winkler similarity (reference strsim.rs:247-272). */
  val jaroWinkler = bind("jaro_winkler_sim", "jaroWinkler")
  /** Multiset (bag-of-code-points) Jaccard similarity (strsim.rs:274-308). */
  val jaccard = bind("jaccard_sim", "jaccard")
  /** Multiset Sørensen-Dice similarity (strsim.rs:310-345). */
  val sorensenDice = bind("sorensen_dice_sim", "sorensenDice")
  /** Normalized unrestricted Damerau-Levenshtein similarity (distance
    * matches DuckDB `damerau_levenshtein`). Long-input policy: when the
    * affix-trimmed DP core would exceed the kernel's quadratic-memory cap
    * the kernel returns NaN and the expression returns NULL (never throws —
    * a data-dependent exception would kill a 10^12-pair job on one
    * pathological document). Fall back to `levenshtein_sim` via
    * `coalesce` for a score anyway. */
  val damerauLevenshtein = bind("damerau_levenshtein_sim", "damerauLevenshtein",
    nullIf = Some(RawTest.IsNaN))
  /** Normalized Hamming similarity (equal-length distances match DuckDB
    * `hamming`). */
  val hamming = bind("hamming_sim", "hamming")
  /** Overlap (Szymkiewicz-Simpson) coefficient over code-point bags:
    * Σmin / min(|a|,|b|). */
  val overlap = bind("overlap_sim", "overlap")
  /** Bag-cosine similarity over per-code-point counts; `_bag_` keeps it
    * apart from the array<float> embedding cosine [[CosineSim]]. */
  val cosineBag = bind("cosine_bag_sim", "cosineBag")
  /** Normalized optimal-string-alignment similarity: linear memory, so
    * unlike `damerau_levenshtein_sim` it never returns NULL. */
  val osa = bind("osa_sim", "osa")
  /** Normalized longest-common-subsequence similarity 2·|LCS|/(|a|+|b|). */
  val lcs = bind("lcs_sim", "lcs")
  /** Normalized Needleman-Wunsch global alignment (match +1 / mismatch −1 /
    * gap −1, mapped by 0.5 + S/(2·max len)). */
  val needlemanWunsch = bind("needleman_wunsch_sim", "needlemanWunsch")
  /** Normalized Smith-Waterman local alignment: best local window score
    * over min(|a|,|b|). */
  val smithWaterman = bind("smith_waterman_sim", "smithWaterman")
  /** Normalized Editex similarity 1 − dist/(2·max len); the pinned variant
    * is documented on the kernel. */
  val editex = bind("editex_sim", "editex")
  /** Normalized longest-common-SUBSTRING similarity |run| / max len —
    * strict under proper containment, where Smith-Waterman saturates. */
  val lcsstr = bind("lcsstr_sim", "lcsstr")
  /** Normalized affine-gap (Gotoh) global alignment: a gap of length L
    * costs 1 + 0.5·(L−1). */
  val affineGap = bind("affine_gap_sim", "affineGap")
  /** Bag similarity Σmin/max(|a|,|b|) = 1 − bagdist/max: a sound admission
    * filter in front of `levenshtein_sim ≥ θ`. */
  val bag = bind("bag_sim", "bag")
  /** Ratcliff-Obershelp (gestalt) similarity — difflib's
    * SequenceMatcher.ratio without junk heuristics. */
  val ratcliffObershelp = bind("ratcliff_obershelp_sim", "ratcliffObershelp")
  /** Partial Ratcliff-Obershelp (thefuzz's `partial_ratio`, exhaustive
    * best-window variant): 1.0 whenever the shorter string appears
    * verbatim inside the longer. */
  val partialRatcliff = bind("partial_ratcliff_sim", "partialRatcliff")
  /** Tversky index over code-point bags. α (a-only mass) and β (b-only
    * mass) must be foldable non-negative finite literals, baked into the
    * call site (`Double.toString` round-trips the exact IEEE values):
    * `tversky_sim(a, b, 0.25, 0.75)`. */
  val tversky = bind("tversky_sim", "tversky",
    params = Seq("alpha" -> DoubleType, "beta" -> DoubleType),
    expects = "finite alpha, beta >= 0",
    valid = {
      case Seq(a: Double, b: Double) => a >= 0 && b >= 0 && !a.isInfinite && !b.isInfinite
      case _ => false
    })
  /** Normalized q-gram profile similarity 1 − Σ|Δcount|/(nA+nB) — the
    * Ukkonen edit-distance lower-bound filter. `q` must be a foldable 1..3
    * literal (each gram packs into one long): `qgram_sim(a, b, 2)`. */
  val qgram = bind("qgram_sim", "qgram", params = Seq("q" -> IntegerType),
    expects = "q in 1..3", valid = { case Seq(q: Int) => q >= 1 && q <= 3; case _ => false })
  /** Monge-Elkan with Jaro-Winkler as the inner kernel; asymmetric by
    * definition. */
  val mongeElkanJw = bind("monge_elkan_jw", "mongeElkanJaroWinkler")
  /** Confusion-weighted edit similarity 1 − dist/(2·max(n,m)): substitution
    * cost 0/1/2 (identical / visually-confusable pair / other), indel 2.
    * Table: [[graft.strsim.StrSimKernels.ocrConfusions]]. */
  val confusionLevSim = bind("confusion_lev_sim", "confusionLevSim")
  /** Raw confusion-weighted edit distance (integer-exact; 2× Levenshtein
    * when no confusable pair is touched). */
  val confusionLevDist = bind("confusion_lev_dist", "confusionLevDist", raw = LongType)
  /** Levenshtein distance capped at `k`: exact when ≤ k, else k+1, on the
    * banded O(k·n) DP — the scale-tier edit-distance pre-filter:
    * `levenshtein_capped(a, b, 2)`. */
  val levenshteinCapped = withK("levenshtein_capped", "levenshteinCapped", IntegerType)
  /** Bag distance max(|a|,|b|) − Σmin, the integer face of `bag_sim`. */
  val bagDist = bind("bag_dist", "bagDist", raw = IntegerType)
  /** `true` iff the bag distance is ≤ k — the tier-0 admission filter: bag
    * distance lower-bounds Levenshtein distance, so the banded DP only runs
    * on bag survivors. */
  val bagWithin = withK("bag_within", "bagWithin", BooleanType)
  /** `true` iff the Levenshtein distance is ≤ k (banded kernel). */
  val levenshteinWithin = withK("levenshtein_within", "levenshteinWithin", BooleanType)
  /** MRA comparison rating 0..6; NULL = the published "no comparison"
    * gate (codex length gap >= 3). */
  val mraSimilarity = bind("mra_similarity", "mraSimilarity", owner = Text,
    raw = IntegerType, nullIf = Some(RawTest.Negative))
  /** MRA match decision: rating >= the combined-codex-length minimum;
    * NULL = "no comparison". */
  val mraMatch = bind("mra_match", "mraMatch", owner = Text, raw = IntegerType,
    nullIf = Some(RawTest.Negative), isTrue = Some(RawTest.IsOne))
}

/** The one Catalyst expression of every string-pair kernel: deterministic,
  * null-intolerant, `(string, string)` in. `doGenCode` emits ONE static
  * call into the kernel's owner, so the kernel runs inside whole-stage
  * codegen with no boxing, no virtual dispatch, and no row-at-a-time UDF
  * overhead. This is the Spark-native equivalent of the reference's
  * elementwise plugin declaration (`polars_strsim/__init__.py:15`
  * `is_elementwise=True`): Catalyst is free to push filters through it,
  * prune columns around it, and constant-fold it when both children are
  * literals. `kernel` sits in the first parameter list, so two kernels
  * over the same children are not semantically equal. */
case class StrPairExpression(kernel: StrPairKernel, left: Expression,
    right: Expression, args: Seq[Any] = Nil) extends BinaryExpression with Serializable {
  kernel.check(args)
  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullIf.isDefined || super.nullable
  override def nullIntolerant: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(left, right) ++ args

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = kernel.invoke(a, b, args)
    if (kernel.nullIf.exists(_(v))) null else kernel.isTrue.fold(v)(_(v))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    kernel.nullIf match {
      case None => defineCodeGen(ctx, ev, kernel.call(_, _, args))
      case Some(isNull) => nullSafeCodeGen(ctx, ev, (a, b) => kernel.isTrue match {
        case None =>
          s"""
             |${ev.value} = ${kernel.call(a, b, args)};
             |if (${isNull.code(ev.value.toString)}) { ${ev.isNull} = true; }
           """.stripMargin
        case Some(isTrue) =>
          val r = ctx.freshName("raw")
          s"""
             |${CodeGenerator.javaType(kernel.raw)} $r = ${kernel.call(a, b, args)};
             |if (${isNull.code(r)}) { ${ev.isNull} = true; } else { ${ev.value} = (${isTrue.code(r)}); }
           """.stripMargin
      })
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
