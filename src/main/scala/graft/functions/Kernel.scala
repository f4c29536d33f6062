package graft.functions

import java.lang.invoke.{MethodHandle, MethodHandles}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}

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
  /** A signature kernel's "no signature" result (a token-less document). */
  case object IsNull extends RawTest {
    def code(v: String): String = s"$v == null"
    def apply(v: Any): Boolean = v == null
  }
}

/** How a literal parameter reaches the static call. Codegen and
  * interpreted eval pass the same lowered value. */
sealed abstract class Pass extends Serializable

object Pass {
  /** Baked into the call site as a Java literal (`Double.toString`
    * round-trips the exact IEEE value). */
  case object Inline extends Pass
  /** The static field of `cls` named by the value
    * (`java.text.Normalizer.Form.NFC`). */
  final case class Static(cls: Class[_]) extends Pass
  /** A codegen reference object built from the value once per
    * expression (the CLK salt bytes, the plane matrix). */
  final case class Ref(name: String, cls: Class[_], lower: Any => AnyRef) extends Pass
  /** Not passed: the value picks the [[Variant]] of that family. */
  case object Family extends Pass
}

/** One literal parameter: its name, its SQL type, the check its value
  * must pass (`rule` states it in words), how it reaches the call, and its
  * default when SQL omits it. */
final case class Param(name: String, tpe: DataType, rule: String, ok: Any => Boolean,
    pass: Pass = Pass.Inline, default: Option[Any] = None) {
  /** The Java class of the value the call receives. */
  private[functions] def javaClass: Class[_] = pass match {
    case Pass.Static(cls) => cls
    case Pass.Ref(_, cls, _) => cls
    case _ => CodeGenerator.javaClass(tpe)
  }
  /** The value the call receives for the literal `v`. */
  private[functions] def lower(v: Any): AnyRef = pass match {
    case Pass.Static(cls) => cls.getField(v.toString).get(null)
    case Pass.Ref(_, _, lower) => lower(v)
    case _ => v.asInstanceOf[AnyRef]
  }
  /** The Java source of `lowered`, the value of the literal `v`. */
  private[functions] def source(ctx: CodegenContext, v: Any, lowered: AnyRef): String =
    (pass, v) match {
      case (Pass.Static(cls), _) => s"${cls.getCanonicalName}.$v"
      case (Pass.Ref(ref, cls, _), _) => ctx.addReferenceObj(ref, lowered, cls.getCanonicalName)
      case (_, d: Double) => s"${d}D"
      case _ => v.toString
    }
}

/** One static method a kernel may call: its input types (an array input
  * matches whatever its element nullability), its result type, and the
  * hash family that picks it, if any. */
final case class Variant(method: String, inputs: Seq[DataType], raw: DataType,
    family: String = "") {
  def accepts(types: Seq[DataType]): Boolean = inputs.size == types.size &&
    inputs.zip(types).forall {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }
}

/** One kernel bound to Catalyst, declared once in [[Kernel$]]: its SQL
  * name, the static methods it may call in `owner` (one, or one per hash
  * family or input type), its literal parameters with their checks, and
  * its null rule: `nullIf` turns a raw result into SQL NULL and makes the
  * expression nullable, and `isTrue` maps the raw result to a boolean.
  * Codegen emits the call from `owner` and the method's name;
  * interpreted eval invokes the same method through a handle looked up
  * from the same names, so the two paths cannot disagree. `sql = false`
  * keeps a kernel out of the SQL registry. One instance exists per name:
  * a deserialized binding resolves to it. */
final class Kernel private (
    val name: String,
    val owner: Class[_],
    val variants: Seq[Variant],
    val params: Seq[Param],
    val nullIf: Option[RawTest],
    val isTrue: Option[RawTest],
    val sql: Boolean) extends Serializable {

  /** The number of input expressions. */
  def arity: Int = variants.head.inputs.size

  /** This kernel over its `arity` input expressions, then its literal
    * parameters. */
  def apply(inputs: Any*): KernelExpression = {
    val (children, args) = inputs.splitAt(arity)
    require(children.size == arity && children.forall(_.isInstanceOf[Expression]),
      s"$name takes $arity input expressions, got ${children.mkString(", ")}")
    KernelExpression(this, children.map(_.asInstanceOf[Expression]), args)
  }

  private[functions] def check(args: Seq[Any]): Unit = {
    require(args.length == params.length,
      s"$name takes ${params.length} literal parameters, got ${args.length}")
    params.zip(args).foreach { case (p, v) =>
      require(p.ok(v), s"$name: ${p.name} must be ${p.rule}, got " +
        (v match { case s: String => s"'$s'"; case _ => v }))
    }
  }

  private val familyAt = params.indexWhere(_.pass == Pass.Family)

  private def eligible(args: Seq[Any]): Seq[Variant] =
    if (familyAt < 0) variants else variants.filter(_.family == args(familyAt))

  /** The variant the literal arguments and input types pick; the first
    * eligible one when no input type matches (the type check reports it). */
  private[functions] def variant(args: Seq[Any], types: Seq[DataType]): Variant = {
    val vs = eligible(args)
    vs.find(_.accepts(types)).getOrElse(vs.head)
  }

  private[functions] def typeCheck(args: Seq[Any], types: Seq[DataType]): TypeCheckResult = {
    def shown(ts: Seq[DataType]) = ts.map(_.catalogString).mkString("(", ", ", ")")
    val vs = eligible(args)
    if (vs.exists(_.accepts(types))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires " +
      vs.map(v => shown(v.inputs)).distinct.mkString(" or ") + s" arguments, got ${shown(types)}")
  }

  /** The parameters the call receives after its inputs, with their places. */
  private val passed = params.zipWithIndex.filter(_._1.pass != Pass.Family)

  /** The values the call receives after its inputs. */
  private[functions] def lower(args: Seq[Any]): Seq[AnyRef] =
    passed.map { case (p, i) => p.lower(args(i)) }

  /** The Java source of each lowered value. */
  private[functions] def source(ctx: CodegenContext, args: Seq[Any],
      lowered: Seq[AnyRef]): Seq[String] =
    passed.zip(lowered).map { case ((p, i), v) => p.source(ctx, args(i), v) }

  /** The Java source of the one static call. */
  private[functions] def call(v: Variant, values: Seq[String]): String =
    values.mkString(s"${owner.getName}.${v.method}(", ", ", ")")

  @transient private lazy val handles: Map[Variant, MethodHandle] = variants.map { v =>
    val classes = v.inputs.map(CodeGenerator.javaClass) ++ passed.map(_._1.javaClass)
    v -> MethodHandles.publicLookup().unreflect(owner.getMethod(v.method, classes: _*))
  }.toMap

  private[functions] def invoke(v: Variant, values: Seq[AnyRef]): Any =
    handles(v).invokeWithArguments(values: _*)

  private def readResolve(): AnyRef = Kernel.byName(name)
  override def toString: String = name
}

/** Every kernel, one entry each. Adding one: a `bind` entry here naming
  * its static method, plus its Column function in [[graft.functions]];
  * `sqlFunctions` registers it from this list. */
object Kernel {
  private val registry = mutable.LinkedHashMap.empty[String, Kernel]
  private def mirror(module: AnyRef): Class[_] =
    Class.forName(module.getClass.getName.stripSuffix("$"), true, module.getClass.getClassLoader)
  private val StrSim = mirror(StrSimKernels)
  private val Text = mirror(TextKernels)
  private val MinHash = mirror(MinHashKernels)
  private val Bloom = mirror(BloomKernels)
  private val Vectors = mirror(VectorKernels)

  private def bind(name: String, owner: Class[_], variants: Seq[Variant],
      params: Seq[Param] = Nil, nullIf: Option[RawTest] = None,
      isTrue: Option[RawTest] = None, sql: Boolean = true): Kernel = {
    require(!registry.contains(name), s"$name is bound twice")
    require(isTrue.isEmpty || nullIf.isDefined, s"$name: isTrue needs a nullIf rule")
    val k = new Kernel(name, owner, variants, params, nullIf, isTrue, sql)
    registry(name) = k
    k
  }

  def all: Seq[Kernel] = registry.values.toSeq
  def byName(name: String): Kernel = registry(name)

  private val Str: DataType = StringType
  private def arrayOf(t: DataType): DataType = ArrayType(t, containsNull = false)
  private val Strs = arrayOf(StringType)
  private val Longs = arrayOf(LongType)
  private val Floats = arrayOf(FloatType)

  private def int(name: String, rule: String)(ok: Int => Boolean): Param =
    Param(name, IntegerType, rule, { case v: Int => ok(v); case _ => false })
  private def double(name: String, rule: String)(ok: Double => Boolean): Param =
    Param(name, DoubleType, rule, { case v: Double => ok(v); case _ => false })
  private def inRange(name: String, lo: Int, hi: Int): Param =
    int(name, s"in $lo..$hi")(v => v >= lo && v <= hi)

  /** A string-pair kernel: `(string, string)` in. */
  private def pair(name: String, method: String, owner: Class[_] = StrSim,
      raw: DataType = DoubleType, params: Seq[Param] = Nil,
      nullIf: Option[RawTest] = None, isTrue: Option[RawTest] = None): Kernel =
    bind(name, owner, Seq(Variant(method, Seq(Str, Str), raw)), params, nullIf, isTrue)

  /** `k` must be a foldable non-negative literal; codegen bakes it into the
    * call site. */
  private def withK(name: String, method: String, raw: DataType): Kernel =
    pair(name, method, raw = raw, params = Seq(int("k", ">= 0")(_ >= 0)))

  /** Normalized Levenshtein similarity (reference strsim.rs:109-162). */
  val levenshtein = pair("levenshtein_sim", "levenshtein")
  /** Jaro similarity (reference strsim.rs:164-245). */
  val jaro = pair("jaro_sim", "jaro")
  /** Jaro-Winkler similarity (reference strsim.rs:247-272). */
  val jaroWinkler = pair("jaro_winkler_sim", "jaroWinkler")
  /** Multiset (bag-of-code-points) Jaccard similarity (strsim.rs:274-308). */
  val jaccard = pair("jaccard_sim", "jaccard")
  /** Multiset Sørensen-Dice similarity (strsim.rs:310-345). */
  val sorensenDice = pair("sorensen_dice_sim", "sorensenDice")
  /** Normalized unrestricted Damerau-Levenshtein similarity (distance
    * matches DuckDB `damerau_levenshtein`). Long-input policy: when the
    * affix-trimmed DP core would exceed the kernel's quadratic-memory cap
    * the kernel returns NaN and the expression returns NULL (never throws —
    * a data-dependent exception would kill a 10^12-pair job on one
    * pathological document). Fall back to `levenshtein_sim` via
    * `coalesce` for a score anyway. */
  val damerauLevenshtein = pair("damerau_levenshtein_sim", "damerauLevenshtein",
    nullIf = Some(RawTest.IsNaN))
  /** Normalized Hamming similarity (equal-length distances match DuckDB
    * `hamming`). */
  val hamming = pair("hamming_sim", "hamming")
  /** Overlap (Szymkiewicz-Simpson) coefficient over code-point bags:
    * Σmin / min(|a|,|b|). */
  val overlap = pair("overlap_sim", "overlap")
  /** Bag-cosine similarity over per-code-point counts; `_bag_` keeps it
    * apart from the array<float> embedding cosine [[cosine]]. */
  val cosineBag = pair("cosine_bag_sim", "cosineBag")
  /** Normalized optimal-string-alignment similarity: linear memory, so
    * unlike `damerau_levenshtein_sim` it never returns NULL. */
  val osa = pair("osa_sim", "osa")
  /** Normalized longest-common-subsequence similarity 2·|LCS|/(|a|+|b|). */
  val lcs = pair("lcs_sim", "lcs")
  /** Normalized Needleman-Wunsch global alignment (match +1 / mismatch −1 /
    * gap −1, mapped by 0.5 + S/(2·max len)). */
  val needlemanWunsch = pair("needleman_wunsch_sim", "needlemanWunsch")
  /** Normalized Smith-Waterman local alignment: best local window score
    * over min(|a|,|b|). */
  val smithWaterman = pair("smith_waterman_sim", "smithWaterman")
  /** Normalized Editex similarity 1 − dist/(2·max len); the pinned variant
    * is documented on the kernel. */
  val editex = pair("editex_sim", "editex")
  /** Normalized longest-common-SUBSTRING similarity |run| / max len —
    * strict under proper containment, where Smith-Waterman saturates. */
  val lcsstr = pair("lcsstr_sim", "lcsstr")
  /** Normalized affine-gap (Gotoh) global alignment: a gap of length L
    * costs 1 + 0.5·(L−1). */
  val affineGap = pair("affine_gap_sim", "affineGap")
  /** Bag similarity Σmin/max(|a|,|b|) = 1 − bagdist/max: a sound admission
    * filter in front of `levenshtein_sim ≥ θ`. */
  val bag = pair("bag_sim", "bag")
  /** Ratcliff-Obershelp (gestalt) similarity — difflib's
    * SequenceMatcher.ratio without junk heuristics. */
  val ratcliffObershelp = pair("ratcliff_obershelp_sim", "ratcliffObershelp")
  /** Partial Ratcliff-Obershelp (thefuzz's `partial_ratio`, exhaustive
    * best-window variant): 1.0 whenever the shorter string appears
    * verbatim inside the longer. */
  val partialRatcliff = pair("partial_ratcliff_sim", "partialRatcliff")
  /** Tversky index over code-point bags. α (a-only mass) and β (b-only
    * mass) must be foldable non-negative finite literals, baked into the
    * call site: `tversky_sim(a, b, 0.25, 0.75)`. */
  val tversky = pair("tversky_sim", "tversky", params = Seq("alpha", "beta").map(p =>
    double(p, "finite and >= 0")(v => v >= 0 && !v.isInfinite)))
  /** Normalized q-gram profile similarity 1 − Σ|Δcount|/(nA+nB) — the
    * Ukkonen edit-distance lower-bound filter. `q` must be a foldable 1..3
    * literal (each gram packs into one long): `qgram_sim(a, b, 2)`. */
  val qgram = pair("qgram_sim", "qgram", params = Seq(inRange("q", 1, 3)))
  /** Monge-Elkan with Jaro-Winkler as the inner kernel; asymmetric by
    * definition. */
  val mongeElkanJw = pair("monge_elkan_jw", "mongeElkanJaroWinkler")
  /** Confusion-weighted edit similarity 1 − dist/(2·max(n,m)): substitution
    * cost 0/1/2 (identical / visually-confusable pair / other), indel 2.
    * Table: [[graft.strsim.StrSimKernels.ocrConfusions]]. */
  val confusionLevSim = pair("confusion_lev_sim", "confusionLevSim")
  /** Raw confusion-weighted edit distance (integer-exact; 2× Levenshtein
    * when no confusable pair is touched). */
  val confusionLevDist = pair("confusion_lev_dist", "confusionLevDist", raw = LongType)
  /** Levenshtein distance capped at `k`: exact when ≤ k, else k+1, on the
    * banded O(k·n) DP — the scale-tier edit-distance pre-filter:
    * `levenshtein_capped(a, b, 2)`. */
  val levenshteinCapped = withK("levenshtein_capped", "levenshteinCapped", IntegerType)
  /** Bag distance max(|a|,|b|) − Σmin, the integer face of `bag_sim`. */
  val bagDist = pair("bag_dist", "bagDist", raw = IntegerType)
  /** `true` iff the bag distance is ≤ k — the tier-0 admission filter: bag
    * distance lower-bounds Levenshtein distance, so the banded DP only runs
    * on bag survivors. */
  val bagWithin = withK("bag_within", "bagWithin", BooleanType)
  /** `true` iff the Levenshtein distance is ≤ k (banded kernel). */
  val levenshteinWithin = withK("levenshtein_within", "levenshteinWithin", BooleanType)
  /** MRA comparison rating 0..6; NULL = the published "no comparison"
    * gate (codex length gap >= 3). */
  val mraSimilarity = pair("mra_similarity", "mraSimilarity", owner = Text,
    raw = IntegerType, nullIf = Some(RawTest.Negative))
  /** MRA match decision: rating >= the combined-codex-length minimum;
    * NULL = "no comparison". */
  val mraMatch = pair("mra_match", "mraMatch", owner = Text, raw = IntegerType,
    nullIf = Some(RawTest.Negative), isTrue = Some(RawTest.IsOne))

  /** A one-string text kernel. */
  private def text(name: String, method: String, raw: DataType = Str,
      params: Seq[Param] = Nil, sql: Boolean = true): Kernel =
    bind(name, Text, Seq(Variant(method, Seq(Str), raw)), params, sql = sql)

  /** 64-bit SimHash over whitespace tokens (near-dup signature). */
  val simHash64 = text("simhash64", "simhash64", LongType)
  /** 60-bit sha256-family SimHash (per-token hash = top 60 bits of
    * sha256(token)) — the ANSI-SQL-reproducible variant the driver gate
    * hash-checks; see [[graft.strsim.TextKernels.simhash60Sha]]. */
  val simHashSha60 = text("simhash60_sha", "simhash60Sha", LongType)
  /** Gopher-style repetition counters (array<long> of 6, see
    * [[graft.strsim.TextKernels.repetitionCounters]]): raw integer counters
    * behind duplicate-line / duplicate-line-char / top-bigram-coverage
    * fractions. One fused pass per document inside whole-stage codegen. */
  val repetitionCounters = text("repetition_counters", "repetitionCounters", Longs)
  /** NYSIIS phonetic key ([[graft.strsim.TextKernels.nysiis]]) — the second
    * classic phonetic blocking key next to Soundex; full consonant skeleton,
    * truncated to the classic 6 chars. */
  val nysiis = text("nysiis_key", "nysiis")
  /** Cologne phonetics key ([[graft.strsim.TextKernels.cologne]]) — third
    * phonetic blocking family (Postel 1969), variable-length digit code
    * tuned for German names. */
  val cologne = text("cologne_key", "cologne")
  /** Original Metaphone key ([[graft.strsim.TextKernels.metaphone]]) —
    * fifth phonetic family; pinned positional variant documented on the
    * kernel (no truncation). */
  val metaphone = text("metaphone_key", "metaphone")
  /** Match Rating Approach codex ([[graft.strsim.TextKernels.mraCodex]]) —
    * fourth phonetic key; pair with [[mraSimilarity]] / [[mraMatch]], not
    * plain key equality. */
  val mraCodex = text("mra_codex", "mraCodex")
  /** Min rolling-hash document fingerprint over byte k-grams. */
  val minKGramHash = text("min_kgram_hash", "minKGramHash", LongType,
    Seq(int("k", "> 0")(_ > 0)))
  /** Unicode normalization to a plan-time form (NFC / NFD / NFKC / NFKD) —
    * the canonicalization stage in front of any byte-comparing operator:
    * two visually identical names with different code-point sequences
    * (é vs e+◌́) must produce the same block keys, signatures, and kernel
    * scores. `form` reaches the call as a static `Normalizer.Form` field. */
  val unicodeNorm = text("unicode_norm", "unicodeNorm", params = Seq(Param("form", StringType,
    "one of NFC/NFD/NFKC/NFKD", Set[Any]("NFC", "NFD", "NFKC", "NFKD"),
    Pass.Static(classOf[java.text.Normalizer.Form]))))
  /** Accent strip ([[graft.strsim.TextKernels.stripAccents]]): NFD, drop
    * combining marks, NFC — matches DuckDB/ICU `strip_accents` on the Latin
    * palette; non-decomposable letters (ł ø ß æ) are kept. */
  val stripAccents = text("strip_accents", "stripAccents")
  /** N-gram fingerprint core ([[graft.strsim.TextKernels.ngramFingerprint]]):
    * distinct code-point n-grams in binary order, concatenated. SQL reaches
    * it through `ngram_fingerprint_key`, which composes it under
    * [[graft.functions.normalize_match]] and also strips spaces — the
    * OpenRefine ngram-fingerprint keyer. */
  val ngramFingerprint = text("ngram_fingerprint", "ngramFingerprint",
    params = Seq(inRange("n", 1, 8)), sql = false)

  /** The xxhash64 (production) and sha256 (oracle-checkable) kernels of
    * one MinHash signature; the `family` parameter picks one. */
  private def byFamily(inputs: Seq[DataType], xx: String, sha: String): Seq[Variant] =
    Seq(Variant(xx, inputs, Longs, "xxhash64"), Variant(sha, inputs, Strs, "sha256"))
  private def family(vs: Seq[Variant]): Param = {
    val names = vs.map(_.family)
    Param("family", StringType, names.mkString(" or "), (v: Any) => names.contains(v),
      Pass.Family, Some(names.head))
  }
  private val numHashes = inRange("numHashes", 1, MinHashKernels.MaxLanes)

  /** minhash_sig(tokens array<string>, k, family) → array of k lane minima
    * over token 2-shingles. Null elements are skipped; a token-less input
    * (empty array or all-null elements) yields NULL — not a shared sentinel
    * signature that would band-collide every empty document (see
    * [[MinHashKernels.sigTokensXx]]) — so the expression is nullable even
    * over a non-null child. */
  val minhashSig = {
    val vs = byFamily(Seq(Strs), "sigTokensXx", "sigTokensSha")
    bind("minhash_sig", MinHash, vs, Seq(numHashes, family(vs)), nullIf = Some(RawTest.IsNull))
  }
  /** minhash_sig_chars(s string, shingleK, k, family) → array of k lane
    * minima over code-point k-gram shingles (whole string when shorter). */
  val minhashSigChars = {
    val vs = byFamily(Seq(Str), "sigCharsXx", "sigCharsSha")
    bind("minhash_sig_chars", MinHash, vs,
      Seq(int("shingleK", "> 0")(_ > 0), numHashes, family(vs)))
  }
  /** minhash_sig_oph(tokens array<string>, family) → 16-bin one-permutation
    * MinHash signature with rotation densification
    * ([[MinHashKernels.sigTokensShaOph]] /
    * [[MinHashKernels.sigTokensXxOph]]): O(m) per document vs O(k·m) for
    * [[minhashSig]] — the scale path for long documents, where the classic
    * signature's k lane hashes per shingle dominate the fingerprint pass.
    * Same null semantics as [[minhashSig]]. */
  val minhashSigOph = {
    val vs = byFamily(Seq(Strs), "sigTokensXxOph", "sigTokensShaOph")
    bind("minhash_sig_oph", MinHash, vs, Seq(family(vs)), nullIf = Some(RawTest.IsNull))
  }

  /** b must divide 64 (lanes never straddle words) and be a whole number
    * of hex chars (so the sha-family lane parses from digest chars). */
  private val bits = int("b", "one of 4/8/16/32")(Set(4, 8, 16, 32))

  /** b-bit MinHash packing ([[MinHashKernels.bbitPackXx]] /
    * [[MinHashKernels.bbitPackSha]], Li & König 2010): keep only the low b
    * bits of every lane, packed 64/b lanes per long — shrinking the
    * signature (and every shuffle that moves it) 64/b ×, at the cost of a
    * 2^-b accidental-collision rate the estimator corrects for. The input
    * type picks the family: array<long> (xxhash64 lanes) or array<string>
    * (sha256 hex lanes — low b bits of the digest). Nullable like the
    * signatures it packs. */
  val bbitSig = bind("bbit_sig", MinHash, Seq(Variant("bbitPackXx", Seq(Longs), Longs),
    Variant("bbitPackSha", Seq(Strs), Longs)), Seq(bits), nullIf = Some(RawTest.IsNull))
  /** Count of agreeing b-bit lanes between two packed signatures. */
  val bbitMatchCount = bind("bbit_match_count", MinHash,
    Seq(Variant("bbitMatchCount", Seq(Longs, Longs), IntegerType)), Seq(bits))
  /** Li-König unbiased Jaccard estimate from packed b-bit signatures:
    * (f − 2^-b) / (1 − 2^-b); not clamped (see the kernel doc). */
  val bbitJaccardEst = bind("bbit_jaccard_est", MinHash,
    Seq(Variant("bbitJaccardEst", Seq(Longs, Longs), DoubleType)), Seq(bits))

  /** The CLK parameters: an m-bit filter, g positions per bigram, and the
    * salt that keys the construction (sha256(salt || bigram)) — unsalted
    * CLKs are dictionary-attackable, so deployments agree on a secret salt
    * per linkage project; "" reproduces the unkeyed form. */
  private def clk(m: Param): Seq[Param] = Seq(m, inRange("g", 1, 64),
    Param("salt", StringType, "a string", _.isInstanceOf[String],
      Pass.Ref("clkSalt", classOf[Array[Byte]], _.asInstanceOf[String].getBytes("UTF-8")),
      Some("")))

  /** clk_bits(s, m, g) → sorted distinct set-bit positions of the CLK Bloom
    * filter (array<int>) — the oracle/debug form. */
  val clkBits = bind("clk_bits", Bloom, Seq(Variant("clkBits", Seq(Str), arrayOf(IntegerType))),
    clk(inRange("m", 1, BloomKernels.MaxBits)))
  /** clk_sig(s, m, g) → packed CLK Bloom filter (array of m/64 longs) —
    * the production form [[bloomDice]] compares with popcounts. */
  val clkSig = bind("clk_sig", Bloom, Seq(Variant("clkSig", Seq(Str), Longs)),
    clk(int("m", s"a multiple of 64 in 64..${BloomKernels.MaxBits}")(m =>
      m > 0 && m <= BloomKernels.MaxBits && m % 64 == 0)))
  /** bloom_dice(a, b) → Dice coefficient of two packed filters. */
  val bloomDice = bind("bloom_dice", Bloom,
    Seq(Variant("bloomDice", Seq(Longs, Longs), DoubleType)))

  /** hyperplane_sig(array<float>) → int: packed sign pattern of one LSH
    * band's hyperplane projections, fused for the same reason as
    * [[cosine]] — the higher-order-function form evaluates its lambdas
    * interpreted, ~20× slower, which made band-key computation dominate
    * LSH ANN. The planes are held as `Seq[Seq[Double]]`, not arrays, so
    * two calls over equal planes build equal expressions (plan
    * canonicalization, subexpression elimination and exchange reuse key on
    * equals); the kernel gets a primitive double[][] as a codegen
    * reference object, built once per expression. No SQL form: SQL has no
    * literal for the matrix. */
  val hyperplaneSig = bind("hyperplane_sig", Vectors,
    Seq(Variant("sigBits", Seq(Floats), IntegerType)),
    Seq(Param("planes", ArrayType(ArrayType(DoubleType)), "a sequence of double rows", {
      case rows: Seq[_] => rows.forall {
        case row: Seq[_] => row.forall(_.isInstanceOf[Double]); case _ => false }
      case _ => false
    }, Pass.Ref("planes", classOf[Array[Array[Double]]],
      _.asInstanceOf[Seq[Seq[Double]]].map(_.toArray).toArray))), sql = false)
  /** vec_dot(array<float>, array<float>) → double: the strict left-fold
    * dot product (the dot inside [[cosine]]). */
  val vecDot = bind("vec_dot", Vectors, Seq(Variant("dotF", Seq(Floats, Floats), DoubleType)))
  /** vec_norm(array<float>) → double: sqrt of the left-fold sum of squares
    * (the norm inside [[cosine]]). Precompute it once per vector and
    * `vec_dot(a,b) / (norm_a * norm_b)` is bit-identical to
    * `cosine_sim(a,b)` at a third of the per-pair work. */
  val vecNorm = bind("vec_norm", Vectors, Seq(Variant("normF", Seq(Floats), DoubleType)))
  /** cosine_sim(array<float>, array<float>) → double; array elements are
    * assumed non-null (embedding columns). */
  val cosine = bind("cosine_sim", Vectors, Seq(Variant("cosineF", Seq(Floats, Floats), DoubleType)))
}

/** The one Catalyst expression of every kernel: deterministic,
  * null-intolerant, one or two inputs. Its generated code is ONE static call
  * into the kernel's owner, so the kernel runs inside whole-stage codegen
  * with no boxing, no virtual dispatch, and no row-at-a-time UDF overhead.
  * This is the Spark-native equivalent of the reference's elementwise
  * plugin declaration (`polars_strsim/__init__.py:15`
  * `is_elementwise=True`): Catalyst is free to push filters through it,
  * prune columns around it, and constant-fold it when its inputs are
  * literals. `kernel` is a field, so two kernels over the same children
  * are not semantically equal. The generated code has the shape of
  * Spark's unary and binary null-safe templates, so each kernel's Java is
  * what a hand-written Unary/BinaryExpression would emit. */
case class KernelExpression(kernel: Kernel, children: Seq[Expression], args: Seq[Any] = Nil)
    extends Expression with Serializable {
  kernel.check(args)

  // lazy: the input types are only legal after analysis resolves the children
  @transient private lazy val variant = kernel.variant(args, children.map(_.dataType))
  @transient private lazy val lowered = kernel.lower(args)

  override def prettyName: String = kernel.name
  override def dataType: DataType = if (kernel.isTrue.isDefined) BooleanType else variant.raw
  override def nullable: Boolean = kernel.nullIf.isDefined || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override protected def stringArgs: Iterator[Any] = children.iterator ++ args

  override def checkInputDataTypes(): TypeCheckResult =
    kernel.typeCheck(args, children.map(_.dataType))

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.size)
    var i = 0
    while (i < values.length) {
      values(i) = children(i).eval(input).asInstanceOf[AnyRef]
      if (values(i) == null) return null
      i += 1
    }
    val raw = kernel.invoke(variant, values.toSeq ++ lowered)
    if (kernel.nullIf.exists(_(raw))) null else kernel.isTrue.fold(raw)(_(raw))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val params = kernel.source(ctx, args, lowered)
    val inputs = children.map(_.genCode(ctx))
    val call = kernel.call(variant, inputs.map(_.value.toString) ++ params)
    val result = kernel.nullIf.fold(s"${ev.value} = $call;") { isNull =>
      val raw = if (kernel.isTrue.isEmpty) ev.value.toString else ctx.freshName("raw")
      val decl = if (kernel.isTrue.isEmpty) "" else CodeGenerator.javaType(variant.raw) + " "
      (Seq(s"$decl$raw = $call;", s"${ev.isNull} = ${isNull.code(raw)};") ++
        kernel.isTrue.map(t => s"${ev.value} = ${t.code(raw)};")).mkString("\n", "\n", "\n")
    }
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    (children, inputs) match {
      case (Seq(c), Seq(in)) if nullable =>
        ev.copy(code = code"""
        ${in.code}
        boolean ${ev.isNull} = ${in.isNull};
        $javaType ${ev.value} = $default;
        ${ctx.nullSafeExec(c.nullable, in.isNull)(result)}
      """)
      case (Seq(l, r), Seq(inL, inR)) if nullable =>
        val nullSafeEval = inL.code.toString + ctx.nullSafeExec(l.nullable, inL.isNull) {
          inR.code.toString + ctx.nullSafeExec(r.nullable, inR.isNull) {
            s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $result
            """
          }
        }
        ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $nullSafeEval
      """)
      case (_, Seq(in)) =>
        ev.copy(code = code"""
        ${in.code}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
      case (_, Seq(inL, inR)) =>
        ev.copy(code = code"""
        ${inL.code}
        ${inR.code}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}
