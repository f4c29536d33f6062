package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting. All
  * built-ins (codegen'd) except the fingerprint/simhash kernels, which are
  * custom codegen expressions — no row-at-a-time UDFs anywhere.
  *
  * Formulas are deliberately SQL-expressible with pinned evaluation order
  * so the DuckDB oracle reproduces them bit-for-bit on the driver tables.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (so leading/trailing space and ""
    * behave). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs Java
    * regex and RE2 interpret identically (no lookahead — RE2 has none;
    * whitespace spelled as an explicit class because Java's \s includes
    * vertical tab and RE2's does not): contractions, letter runs, digit
    * runs, punctuation runs, each optionally eating one leading space.
    * Whitespace itself is not a token. */
  val BpeTokenPattern: String =
    "'(s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+"

  /** BPE-ish subword-boundary token count — the cheap proxy for "how many
    * LLM tokens is this document" used when sizing training mixtures.
    * Pure codegen (`regexp_extract_all`), oracle-reproducible. */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenPattern), lit(0)))

  /** Stopword sets per language for the n-gram/stopword language-ID
    * heuristic. Small on purpose: broadcast as literals into codegen. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "por"),
  )

  private def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => array_contains(
      array(stopwords(lang).map(lit): _*), t)))

  /** Language-ID: argmax of stopword hits over the candidate languages,
    * 'und' (undetermined) when no stopword matches. Deterministic
    * tie-break: first language in `order` wins. */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val order = Seq("en", "de", "fr", "es")
    val hits = order.map(l => stopwordHits(toks, l))
    val best = greatest(hits: _*)
    val id = order.zip(hits).foldRight(lit("und")) { case ((l, h), acc) =>
      when(best > 0 && h === best, lit(l)).otherwise(acc)
    }
    // null text → null id (Spark's otherwise() would swallow the null)
    when(c.isNotNull, id)
  }

  /** Quality score in [0,1]: weighted mix of stopword density, length
    * adequacy, and alphanumeric cleanliness — the classic cheap heuristics
    * (length/punct/stopword ratios) used for web-text filtering.
    * Evaluation order is pinned for oracle bit-exactness. */
  def qualityScore(c: Column): Column = {
    val toks = tokens(c)
    val nTok = size(toks).cast("double")
    val stopRatio = when(nTok > 0,
      stopwordHits(toks, "en").cast("double") / nTok).otherwise(lit(0.0))
    val lengthScore = least(nTok / lit(64.0), lit(1.0))
    val punct = length(regexp_replace(c, "[a-zA-Z0-9\\s]", "")).cast("double")
    val punctRatio = when(length(c) > 0, punct / length(c).cast("double"))
      .otherwise(lit(0.0))
    // null text → null score (least()/otherwise() would swallow the null)
    when(c.isNotNull,
      stopRatio * lit(0.2) + lengthScore * lit(0.5) +
        (lit(1.0) - punctRatio) * lit(0.3))
  }

  /** PII-scrub patterns, restricted (like [[BpeTokenPattern]]) to the
    * Java∩RE2 regex dialect — no lookahead, no backreferences, whitespace
    * spelled explicitly — so the DuckDB oracle applies the IDENTICAL
    * pattern strings and must produce the identical scrub. Order matters
    * and is pinned, most-specific first: URLs before emails (else the
    * `user@host` inside a URL is half-eaten), emails before number runs
    * (an email's digits must not become a phone), dotted quads before
    * phone runs (the phone class contains '.', so an unscrubbed IP parses
    * as a phone).
    *
    * The <PHONE> rule requires 7+ ACTUAL digits with at most 2 separator
    * characters between consecutive digits — so a 7+-char run that is
    * mostly separators ("2020 - 2021", "v1.2, see p. 3-4") is NOT
    * scrubbed. Known residual false positives (accepted: indistinguishable
    * from phones without layout context): 7+-digit runs with single-char
    * grouping separators, e.g. "1 000 000" or ISBN-like "0-306-40615-2". */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^ \\t\\n\\x0B\\f\\r]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    // IPv4 (conservative: any dotted quad)
    "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+" -> "<IP>",
    // phone runs: 7+ digits, each pair of digits at most 2 separators apart
    "\\+?[0-9]([()./ -]{0,2}[0-9]){6,}" -> "<PHONE>",
  )

  /** Masks URLs, emails, phone-number runs, and IPv4 literals with typed
    * placeholder tokens — the standard pre-training scrub pass. A pure
    * per-row projection (chained codegen `regexp_replace`, global
    * replacement): zero shuffle at any scale, and column pruning keeps it
    * a one-column rewrite inside the scan pipeline. */
  def scrubPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Gopher-style repetition quality signals (Rae et al. 2021) per
    * document: duplicate-line fraction, duplicate-line character fraction,
    * and the character coverage of the most-repeated word bigram — the
    * standard cheap filters for boilerplate/spam in web-scale pretraining
    * corpora. One fused kernel pass per row
    * ([[graft.functions.repetition_counters]]), zero shuffle at any scale;
    * each fraction is a single division of two exact integer counters, so
    * the DuckDB oracle reproduces the doubles bit-for-bit.
    *
    * `top_bigram_cover_frac` can exceed 1.0 on self-overlapping repeats
    * (see [[graft.strsim.TextKernels.repetitionCounters]]) — deliberate:
    * >1 is a strictly-stronger repetition signal and thresholds in (0,1]
    * still classify it correctly. The line fractions are true ∈[0,1]
    * ratios. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withCtr = docs.select(col(idCol),
      graft.functions.repetition_counters(col(textCol)).as("ctr"))
    def c(i: Int): Column = element_at(col("ctr"), i + 1)
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    withCtr.select(col(idCol),
      c(0).as("n_lines"),
      frac(c(1), c(0)).as("dup_line_frac"),
      frac(c(2), c(3)).as("dup_line_char_frac"),
      frac(c(4), c(5)).as("top_bigram_cover_frac"))
  }

  /** Top-k characteristic terms per document by tf·idf, with the
    * LOG-FREE rational idf `(N+1)/(df+1)` — tf·idf = tf·(N+1)/(df+1) is
    * one exact integer product divided once, so any ANSI engine
    * reproduces the score bit-for-bit (ln() would not be) while
    * preserving the per-document ranking property that rare terms beat
    * common ones. Ties break on the term's binary order.
    *
    * Scale shape: tf and df are both partial-combining aggregates (the
    * (doc,term) and (term) shuffles carry only scalars); N rides along as
    * a broadcast 1-row frame (no collect, one lazy job); the per-doc
    * top-k is a row_number window that Spark bounds with
    * WindowGroupLimit(Partial) below the exchange. */
  def topTfidfTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0)
    val scored = tfidfWeights(docs, idCol, textCol)
      .withColumnRenamed("w", "tfidf")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("term_rank", row_number().over(w))
      .where(col("term_rank") <= k)
  }

  /** (id, term, tf, df, w) per distinct (document, token), with the
    * log-free rational weight w = tf·(N+1)/(df+1) — one exact integer
    * product and one IEEE division. The one weighting of
    * [[topTfidfTerms]], [[Linkage.tfidfCosinePairs]] and
    * [[Linkage.softTfIdfPairs]]. */
  private[operators] def tfidfWeights(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), col("tf"), col("df"),
        ((col("tf") * (col("n_docs") + 1)).cast("double") /
          (col("df") + 1).cast("double")).as("w"))
  }

  // ------------------------------------ char-trigram LM scoring (CCNet/DSIR)

  /** Character-trigram language-model counts — the MODEL frame for
    * LM-based quality scoring and importance weighting (the CCNet
    * perplexity-filter / DSIR importance-resampling pipeline shape, with
    * the KenLM n-gram model replaced by a deterministic char-trigram
    * table the engine itself fits): (tri, cnt) over every
    * position-multiplicity trigram in the corpus. Persistable (write the
    * frame, reuse across scoring jobs — fit once, score many) and
    * mergeable (union + groupBy-sum). One map-side explode + one
    * combinable groupBy; docs shorter than 3 code points contribute
    * nothing. `idCol` is IGNORED — counts are corpus-wide over `textCol`
    * only (kept in the signature for call-site uniformity with the other
    * per-doc operators). */
  def charTrigramCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(textCol).as("t"))
      .where(col("t").isNotNull && length(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
        .as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("cnt"))

  /** Per-document integer sufficient statistics against a TARGET and a
    * BACKGROUND trigram model — the hash-gradeable face under the
    * ln-based scores ([[trigramLogRatio]]): n_tris (position
    * multiplicity), Σ model counts and out-of-vocabulary counts under
    * each model. Monotone intuition: target-like text accumulates large
    * `sum_cnt_t` and zero `oov_t`; off-distribution text shows low sums
    * and OOV mass. Shapes: one explode, two trigram-keyed left joins
    * (model tables — broadcastable at any realistic vocabulary), one
    * combinable per-doc fold; docs with < 3 code points carry no trigram
    * and emit NO row (same convention as [[charTrigramCounts]] — the
    * two-arg sequence() steps -1 when start > stop, so the former
    * greatest()-guarded form emitted two bogus sub-trigram rows for
    * short docs). */
  def trigramLmFace(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, background: DataFrame): DataFrame = {
    val tris = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .where(col("t").isNotNull && length(col("t")) >= 3)
      .select(col("id"), explode(expr(
        "transform(sequence(1, length(t) - 2), " +
          "i -> substring(t, i, 3))")).as("tri"))
    tris
      .join(target.select(col("tri"), col("cnt").as("ct")), Seq("tri"),
        "left_outer")
      .join(background.select(col("tri"), col("cnt").as("cb")), Seq("tri"),
        "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tris"),
        sum(coalesce(col("ct"), lit(0L))).as("sum_cnt_t"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("oov_t"),
        sum(coalesce(col("cb"), lit(0L))).as("sum_cnt_b"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("oov_b"))
  }

  /** DSIR-style importance log-ratio (Xie et al. 2023): per document,
    * (1/m) Σ_tris [ln p_target(tri) − ln p_background(tri)] with
    * add-one smoothing p_m(tri) = (C_m(tri)+1)/(T_m + V_m) — positive
    * for target-like text, negative for background-like; resample the
    * corpus by these weights to steer it toward the target domain.
    * ln() is libm-dependent across engines, so this face is spec-pinned
    * (monotone vs a JVM re-derivation), never hash-gate-faced — gate on
    * [[trigramLmFace]]'s integers instead. `totalT`/`vocabT` (and _b)
    * are the model's Σ cnt and row count — model-sized scalars the
    * caller computes once. */
  def trigramLogRatio(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, background: DataFrame, totalT: Long, vocabT: Long,
      totalB: Long, vocabB: Long): DataFrame = {
    // docs with < 3 code points carry no trigram and emit no row (see
    // trigramLmFace — the greatest()-guarded sequence emitted bogus rows)
    val tris = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .where(col("t").isNotNull && length(col("t")) >= 3)
      .select(col("id"), explode(expr(
        "transform(sequence(1, length(t) - 2), " +
          "i -> substring(t, i, 3))")).as("tri"))
    val lnT = log((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
      lit((totalT + vocabT).toDouble))
    val lnB = log((coalesce(col("cb"), lit(0L)) + 1L).cast("double") /
      lit((totalB + vocabB).toDouble))
    tris
      .join(target.select(col("tri"), col("cnt").as("ct")), Seq("tri"),
        "left_outer")
      .join(background.select(col("tri"), col("cnt").as("cb")), Seq("tri"),
        "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tris"), sum(lnT - lnB).as("sum_log_ratio"))
      .select(col("id"), col("n_tris"),
        (col("sum_log_ratio") / col("n_tris").cast("double"))
          .as("avg_log_ratio"))
  }
}
