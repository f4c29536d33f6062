package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.strsim.TextKernels

/** Catalyst expressions for the one-string text-analysis kernels (same
  * design as [[StrPairExpression]]: deterministic, null-intolerant, single
  * static call inside whole-stage codegen). */
abstract class TextHashExpression extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
}

/** 64-bit SimHash over whitespace tokens (near-dup signature). */
case class SimHash64(child: Expression) extends TextHashExpression {
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 60-bit sha256-family SimHash (per-token hash = top 60 bits of
  * sha256(token)) — the ANSI-SQL-reproducible variant the driver gate
  * hash-checks; see [[graft.strsim.TextKernels.simhash60Sha]]. */
case class SimHashSha60(child: Expression) extends TextHashExpression {
  override def prettyName: String = "simhash60_sha"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.simhash60Sha(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.simhash60Sha($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Gopher-style repetition counters (array<long> of 6, see
  * [[graft.strsim.TextKernels.repetitionCounters]]): raw integer counters
  * behind duplicate-line / duplicate-line-char / top-bigram-coverage
  * fractions. One fused pass per document inside whole-stage codegen. */
case class RepetitionCounters(child: Expression) extends TextHashExpression {
  override def prettyName: String = "repetition_counters"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.repetitionCounters(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.repetitionCounters($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** NYSIIS phonetic key ([[graft.strsim.TextKernels.nysiis]]) — the second
  * classic phonetic blocking key next to Soundex; full consonant skeleton,
  * truncated to the classic 6 chars. Pinned variant documented on the
  * kernel. */
case class NysiisKey(child: Expression) extends TextHashExpression {
  override def prettyName: String = "nysiis_key"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.nysiis(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.nysiis($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Cologne phonetics key ([[graft.strsim.TextKernels.cologne]]) — third
  * phonetic blocking family (Postel 1969), variable-length digit code
  * tuned for German names. Pinned variant documented on the kernel. */
case class CologneKey(child: Expression) extends TextHashExpression {
  override def prettyName: String = "cologne_key"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.cologne(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.cologne($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Original Metaphone key ([[graft.strsim.TextKernels.metaphone]]) —
  * fifth phonetic family; pinned positional variant documented on the
  * kernel (no truncation). */
case class MetaphoneKey(child: Expression) extends TextHashExpression {
  override def prettyName: String = "metaphone_key"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.metaphone(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.metaphone($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Match Rating Approach codex ([[graft.strsim.TextKernels.mraCodex]]) —
  * fourth phonetic key; pair with `mra_similarity`/`mra_match`
  * ([[StrPairKernel.mraSimilarity]]), not plain key equality. Pinned
  * variant documented on the kernel. */
case class MraCodex(child: Expression) extends TextHashExpression {
  override def prettyName: String = "mra_codex"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.mraCodex(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.mraCodex($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Min rolling-hash document fingerprint over byte k-grams. */
case class MinKGramHash(child: Expression, k: Int) extends TextHashExpression {
  require(k > 0, "k must be positive")
  override def prettyName: String = "min_kgram_hash"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minKGramHash(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.minKGramHash($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Unicode normalization to a plan-time form (NFC / NFD / NFKC / NFKD) —
  * the canonicalization stage in front of any byte-comparing operator:
  * two visually identical names with different code-point sequences
  * (é vs e+◌́) must produce the same block keys, signatures, and kernel
  * scores. `form` is baked into codegen as a static Form reference. */
case class UnicodeNorm(child: Expression, form: String)
  extends TextHashExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
    s"unicode_norm form must be one of NFC/NFD/NFKC/NFKD, got '$form'")
  override def prettyName: String = "unicode_norm"
  override def dataType: DataType = StringType
  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.unicodeNorm(v.asInstanceOf[UTF8String], f)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.strsim.TextKernels.unicodeNorm($c, java.text.Normalizer.Form.$form)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Accent strip ([[graft.strsim.TextKernels.stripAccents]]): NFD, drop
  * combining marks, NFC — matches DuckDB/ICU `strip_accents` on the Latin
  * palette; non-decomposable letters (ł ø ß æ) are kept. */
case class StripAccents(child: Expression) extends TextHashExpression {
  override def prettyName: String = "strip_accents"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.stripAccents(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.strsim.TextKernels.stripAccents($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** N-gram fingerprint core ([[graft.strsim.TextKernels.ngramFingerprint]]):
  * distinct code-point n-grams in binary order, concatenated. Compose
  * under [[graft.functions.normalize_match]] via
  * `graft.functions.ngram_fingerprint_key`, which also strips spaces —
  * the OpenRefine ngram-fingerprint keyer. */
case class NgramFingerprint(child: Expression, n: Int)
  extends TextHashExpression {
  require(n >= 1 && n <= 8, s"ngram_fingerprint requires n in 1..8, got $n")
  override def prettyName: String = "ngram_fingerprint"
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.ngramFingerprint(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.strsim.TextKernels.ngramFingerprint($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
