package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFamily

/** Deduplication operators for a training-data pipeline, each with a
  * different cost/recall point:
  *
  *  - [[exactGroups]]        — content-hash groupBy (exact dups only; one
  *                             shuffle on the hash, map-side combinable)
  *  - [[ngramJaccardPairs]]  — token-set Jaccard over blocked pairs
  *                             (verification-grade; quadratic per block,
  *                             blocks routed by [[Tiers]])
  *  - [[minhashLshPairs]]    — MinHash banding over token shingles
  *                             (sub-quadratic candidate generation; the
  *                             100 TB-scale path)
  *  - [[simhashPairs]]       — 64-bit SimHash + banded Hamming join
  *  - [[embeddingCosinePairs]] — exact cosine over blocked embedding pairs
  *
  * All joins are equi-joins on hash/band keys → AQE skew handling applies;
  * nothing collects to the driver.
  */
object Dedup {

  /** Sorted distinct whitespace tokens of `textCol` — the token-set
    * representation every Jaccard-verified dedup path shares. */
  private def distinctTokens(textCol: String) =
    array_sort(array_distinct(TextAnalysis.tokens(col(textCol))))

  /** Exact token-set Jaccard of two token arrays — THE verification
    * expression; change it here and every dedup path (blocked, LSH,
    * incremental) moves together, as do their oracles' mirror. */
  private def jaccardOf(ta: Column, tb: Column): Column =
    size(array_intersect(ta, tb)).cast("double") /
      size(array_union(ta, tb)).cast("double")

  /** Exact dedup: (id, canonical_id, content_hash); canonical = min id of
    * the identical-content group. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"),
      sha2(encode(col(textCol), "UTF-8"), 256).as("content_hash"))
    val canon = hashed.groupBy(col("content_hash"))
      .agg(min(col("id")).as("canonical_id"))
    hashed.join(canon, "content_hash")
      .select(col("id"), col("canonical_id"), col("content_hash"))
  }

  /** (id, distinct whitespace tokens, composite block key) base frame
    * of [[ngramJaccardPairs]] and [[containmentPairs]]. Block keys are
    * joined with U+0001 (a non-printable byte real key columns never
    * contain) — a printable separator like ' ' would merge distinct
    * blocks whenever a key value itself contains it, e.g. (lang='en',
    * source='a b') vs (lang='en a', source='b'). */
  private def ngramBase(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String]): DataFrame =
    docs.select(
      col(idCol).as("id"),
      distinctTokens(textCol).as("toks"),
      concat_ws("\u0001", blockCols.map(col): _*).as("bk"))

  /** [[Tiers]] candidates of a shared block base, both sides' token sets
    * joined on as (ia, ib, ta, tb); `dropped` is the (bk, n) blocks over
    * `hardCap`. */
  private def blockedTokenPairs(base: DataFrame, bucketCap: Int,
      hardCap: Int, saltGroups: Int): Capped =
    Tiers.pairs(base, Seq("bk"), "id", bucketCap, hardCap, saltGroups)
      .map(_.select(col("id_a").as("ia"), col("id_b").as("ib"))
        .join(base.select(col("id").as("ia"), col("toks").as("ta")), "ia")
        .join(base.select(col("id").as("ib"), col("toks").as("tb")), "ib"))

  /** Token-set Jaccard >= tau over pairs blocked by `blockCols` — quadratic
    * PER BLOCK by construction, so it carries the three-tier policy of
    * [[Tiers]] (a hot block — e.g. blocking on `lang` alone over a
    * monolingual crawl — must never land on one reducer). Dropping is
    * OPT-IN (`hardCap` defaults to `Int.MaxValue`); `dropped` lists the
    * (bk, n) blocks a finite cap cut.
    *
    * Both tiers emit bare (ia, ib) candidates and share ONE verification
    * join back to the token sets (same shape as [[minhashLshPairs]] —
    * replicating variable-length token arrays through the salted grid
    * would cost saltGroups × the hot blocks' token footprint; two
    * equi-joins on the primary key don't). A document belongs to exactly
    * one block and a block to exactly one tier, so the tier union is
    * disjoint — no dedup pass needed. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], tau: Double, bucketCap: Int = 500,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped =
    // base feeds the tier sizing, the join-back and both verification sides
    blockedTokenPairs(Frames.shared(ngramBase(docs, idCol, textCol, blockCols)),
        bucketCap, hardCap, saltGroups)
      .map(_.select(col("ia"), col("ib"),
          jaccardOf(col("ta"), col("tb")).as("jaccard"))
        .where(col("jaccard") >= tau))

  /** ASYMMETRIC containment dedup — catches the near-SUBSET duplicates
    * Jaccard structurally misses: a short document quoted whole inside a
    * long one scores |A∩B|/|A∪B| ≈ |A|/|B| (tiny) on Jaccard but
    * |A∩B|/|A| ≈ 1 on containment from the short side (Broder 1997's
    * second resemblance measure). Emits both directions —
    * `containment_a` = |A∩B|/|A| (how much of A is inside B),
    * `containment_b` = |A∩B|/|B| — and keeps pairs whose LARGER
    * direction clears `tau`, so wrap-duplicates surface regardless of
    * which side is the quote. Jaccard rides along for triage (a pair
    * with high max-containment and low Jaccard IS the quote shape).
    *
    * Same [[Tiers]] candidates and verification-join shape as
    * [[ngramJaccardPairs]]; zero-token documents are excluded up front —
    * containment of an empty set is undefined, and Spark's NaN-ordering
    * would otherwise smuggle 0/0 pairs through the threshold (they count
    * in no `dropped` block size either). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], tau: Double, bucketCap: Int = 500,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped =
    // same 4-consumer shape as [[ngramJaccardPairs]]
    blockedTokenPairs(Frames.shared(ngramBase(docs, idCol, textCol, blockCols)
        .where(size(col("toks")) > 0)), bucketCap, hardCap, saltGroups)
      .map(_.select(col("ia"), col("ib"),
          (size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(col("ta")).cast("double")).as("containment_a"),
          (size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(col("tb")).cast("double")).as("containment_b"),
          jaccardOf(col("ta"), col("tb")).as("jaccard"))
        .where(greatest(col("containment_a"), col("containment_b")) >= tau))

  /** (id, band key) rows of the MinHash-LSH banding of `docs`: each
    * tokenful document's signature `sig` over its distinct tokens — the
    * classic k-lane [[graft.functions.minhash_sig]] or the
    * one-permutation [[graft.functions.minhash_sig_oph]] — cut into
    * `bands` bands of numHashes / bands lanes, each hashed to a key. The
    * banding of [[minhashLshPairs]], [[minhashOphLshPairs]], [[bandIndex]]
    * and the incremental paths (and CappedSpec's reference for the drop
    * record). */
  private[operators] def minhashBanded(docs: DataFrame, idCol: String,
      textCol: String, sig: Column => Column, numHashes: Int, bands: Int,
      hashFamily: String): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val base = docs.select(col(idCol).as("id"), distinctTokens(textCol).as("toks"))
    // token-less docs carry no shingle signal: exact dedup owns them
    val sigs = base.where(size(col("toks")) > 0)
      .select(col("id"), sig(col("toks")).as("sig"))
    val bandCols = (0 until bands).map { bnd =>
      val elems = (0 until rows).map(r => element_at(col("sig"), bnd * rows + r + 1))
      val h =
        if (HashFamily.isSha256(hashFamily, "xxhash64")) sha2(concat_ws("|", elems: _*), 256)
        else xxhash64((lit(bnd) +: elems): _*)
      concat(lit(s"$bnd:"), h).as(s"band$bnd")
    }
    sigs.select(col("id") +: bandCols: _*)
      .select(col("id"),
        explode(array((0 until bands).map(bnd => col(s"band$bnd")): _*)).as("key"))
  }

  /** The classic k-lane signature of [[minhashBanded]]. */
  private def kLane(numHashes: Int, hashFamily: String): Column => Column =
    graft.functions.minhash_sig(_, numHashes, hashFamily)

  /** Shared tail of every banded-LSH dedup path: cap hot buckets
    * (observably — `dropped` is the (key, n) buckets over the cap),
    * self-join under the cap, dedup candidate pairs, then verify with
    * exact token-set Jaccard ≥ tau. */
  private def verifiedJaccardPairs(base: DataFrame, banded: DataFrame,
      bucketCap: Int, tau: Double): Capped = {
    // `banded` feeds the sizing aggregate AND the join-back
    val bandedM = Frames.shared(banded)
    // hardCap = bucketCap: the cold tier only. `base` is not shared: the
    // two verification joins read it through one reused exchange
    Tiers.pairs(bandedM, Seq("key"), "id", bucketCap, hardCap = bucketCap,
        saltGroups = 1)
      .map(_.select(col("id_a").as("ia"), col("id_b").as("ib")).distinct()
        .join(base.select(col("id").as("ia"), col("toks").as("ta")), "ia")
        .join(base.select(col("id").as("ib"), col("toks").as("tb")), "ib")
        .select(col("ia"), col("ib"),
          jaccardOf(col("ta"), col("tb")).as("jaccard"))
        .where(col("jaccard") >= tau))
  }

  /** MinHash-LSH near-dup candidates over token 2-shingles, verified with
    * exact token-set Jaccard ≥ tau. Candidate generation is the banded
    * equi-join (sub-quadratic); only candidates pay the verification cost.
    * Band buckets larger than `bucketCap` are dropped ([[Tiers]] cold and
    * dropped tiers: low-information bands on repetitive corpora would
    * otherwise re-quadratize the join, and 4-row bands keep the
    * false-candidate rate at jaccard^4; [[nearDupGroups]] and
    * [[bandIndex]] return the dropped buckets of this banding).
    *
    * The whole k-hash signature is ONE fused codegen expression per
    * document ([[graft.functions.minhash_sig]]) — no shingle explode, no
    * k-column aggregate, no extra shuffle; the heaviest remaining shuffle
    * is the banded candidate join itself, which is the operator's point.
    *
    * `hashFamily`: `xxhash64` (production, cheapest) or `sha256` — the
    * sha256 family makes every stage (signature, band key, bucket cap,
    * pair join, verification) reproducible in ANSI SQL, which is how the
    * driver gate hash-checks this operator against DuckDB. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, numHashes: Int = 16, bands: Int = 4,
      bucketCap: Int = 500, hashFamily: String = "xxhash64"): DataFrame =
    lshCapped(docs, idCol, textCol, tau, kLane(numHashes, hashFamily),
      numHashes, bands, bucketCap, hashFamily).out

  /** The verified pairs of a [[minhashBanded]] banding under signature
    * `sig`, with its dropped (key, n) band buckets. */
  private def lshCapped(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, sig: Column => Column, numHashes: Int, bands: Int,
      bucketCap: Int, hashFamily: String): Capped =
    verifiedJaccardPairs(
      docs.select(col(idCol).as("id"), distinctTokens(textCol).as("toks")),
      minhashBanded(docs, idCol, textCol, sig, numHashes, bands, hashFamily),
      bucketCap, tau)

  /** MinHash-LSH near-dup candidates from the ONE-PERMUTATION signature —
    * identical contract and tail to [[minhashLshPairs]] (banded equi-join,
    * observable bucket cap, exact-Jaccard verification ≥ tau), but the
    * signature pass hashes each shingle ONCE (16 rotation-densified bins,
    * [[graft.functions.minhash_sig_oph]]) instead of numHashes times.
    * This is the fingerprint-bound corpus's scale path: the per-document
    * cost of the signature scan drops k-fold while banding, capping, and
    * verification stay byte-for-byte the same machinery, and `dropped`
    * lists the (key, n) band buckets over the cap. */
  def minhashOphLshPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, bands: Int = 4, bucketCap: Int = 500,
      hashFamily: String = "xxhash64"): Capped = {
    require(16 % bands == 0, s"bands must divide the 16 OPH bins, got $bands")
    lshCapped(docs, idCol, textCol, tau,
      graft.functions.minhash_sig_oph(_, hashFamily), 16, bands, bucketCap,
      hashFamily)
  }

  /** The persistable `(key, id)` MinHash band index of a corpus, with the
    * `bucketCap` cut already applied (over-cap buckets excluded; `dropped`
    * lists them with their sizes). This is the ONE O(corpus) pass of the
    * incremental-dedup shape: build it once,
    * write it bucketed/partitioned by `key`, and every incremental batch
    * joins against it via [[minhashLshIncrementalIndexed]] without ever
    * re-banding the corpus.
    *
    * Append-only growth: the banding itself is per-document, so the
    * uncapped index of corpus ∪ batch is exactly (stored rows) ∪ (the
    * batch's own banding) — O(batch) per append. The `bucketCap` cut,
    * though, is a property of MERGED bucket sizes: a bucket under the cap
    * in two increments can be over it in their union. A growing
    * deployment therefore maintains the `(key, n)` size aggregate
    * alongside the raw index (incremented per append — key-sized, not
    * corpus-sized) and applies the cap at read time by filtering against
    * it, or periodically re-runs this function as compaction; unioning
    * two independently-CAPPED indexes silently under-drops. */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, bucketCap: Int = 500,
      hashFamily: String = "xxhash64"): Capped = {
    // the banded frame feeds the sizing and the join-back
    val banded = Frames.shared(
      minhashBanded(corpus, idCol, textCol, kLane(numHashes, hashFamily),
        numHashes, bands, hashFamily))
    Tiers.capped(banded, Seq("key"), bucketCap)
      .map(_.select(col("key"), col("id")))
  }

  /** Incremental near-dup detection against a PREBUILT corpus band index
    * (from [[bandIndex]], typically read back from its persisted form):
    * which documents of a NEW batch are near-duplicates of the existing
    * corpus. Emits verified (batch_id, corpus_id, jaccard) pairs with
    * jaccard ≥ tau.
    *
    * Per-batch cost is ∝ batch, not corpus: only the BATCH is banded
    * (O(batch)), candidates only cross sides (never corpus×corpus), and
    * the corpus pays no recompute — the banded join probes the stored
    * index (partitioned by key it is shuffle-free on the corpus side; a
    * small batch additionally broadcasts). The one corpus-touching step
    * left is the verification join back to corpus text for the MATCHED
    * candidate ids — an equi-join on the corpus primary key that AQE
    * broadcasts and runtime-filters when the candidate set is small.
    * `numHashes`/`bands`/`hashFamily` must match the index's build
    * parameters (a mismatched banding silently finds nothing). */
  def minhashLshIncrementalIndexed(index: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, tau: Double,
      numHashes: Int = 16, bands: Int = 4,
      hashFamily: String = "xxhash64"): DataFrame = {
    val toksOf = distinctTokens(textCol)
    val bBanded = minhashBanded(batch, idCol, textCol,
      kLane(numHashes, hashFamily), numHashes, bands, hashFamily)
    val cand = bBanded.select(col("key"), col("id").as("batch_id"))
      .join(index.select(col("key"), col("id").as("corpus_id")), "key")
      .select(col("batch_id"), col("corpus_id")).distinct()
    cand
      .join(batch.select(col(idCol).as("batch_id"), toksOf.as("ta")), "batch_id")
      .join(corpus.select(col(idCol).as("corpus_id"), toksOf.as("tb")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        jaccardOf(col("ta"), col("tb")).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  /** Convenience form of [[minhashLshIncrementalIndexed]] that derives the
    * corpus band index in-query — for one-shot use. A RECURRING
    * incremental pipeline (daily batches against a growing corpus) must
    * NOT call this per batch: it pays the O(corpus) [[bandIndex]] pass
    * every time. Build the index once, persist it, and call the indexed
    * form — the results are identical by construction (DedupSpec pins the
    * equality). */
  def minhashLshIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, tau: Double, numHashes: Int = 16,
      bands: Int = 4, bucketCap: Int = 500,
      hashFamily: String = "xxhash64"): DataFrame =
    minhashLshIncrementalIndexed(
      bandIndex(corpus, idCol, textCol, numHashes, bands, bucketCap,
        hashFamily).out,
      corpus, batch, idCol, textCol, tau, numHashes, bands, hashFamily)

  /** Pinned-order power by repeated left-fold multiplication — the
    * planner's only arithmetic primitive. NO pow()/log(): libm powers
    * are not correctly rounded and differ across engines, but a multiply
    * chain in a fixed order is IEEE-exact everywhere, so the chosen plan
    * and the whole S-curve are bit-reproducible by any engine replaying
    * the same fold (the oracle does, via a recursive accumulator). */
  private def powChain(base: Double, n: Int): Double = {
    var acc = base
    var i = 1
    while (i < n) { acc *= base; i += 1 }
    acc
  }

  /** LSH band-plan selection: every (bands b, rows-per-band r) factoring
    * of `numHashes`, scored by how close its collision S-curve's balance
    * point sits to the target Jaccard threshold t. The classic fixed
    * point is (1/b)^(1/r) = t ⟺ b·t^r = 1, so the score is |b·t^r − 1|
    * in pinned multiply-chain arithmetic — an argmin over roots/logs
    * would hang the choice on libm ulps. Ties prefer the larger r (the
    * steeper curve: fewer sub-threshold false candidates at the same
    * balance point). Output: one row per factoring,
    * (bands, rows_per_band, score, chosen). */
  def lshBandPlans(numHashes: Int, threshold: Double): Seq[(Int, Int, Double, Boolean)] = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val scored = pairs.map { case (b, r) =>
      (b, r, math.abs(powChain(threshold, r) * b - 1.0))
    }
    // argmin score, tie → larger r: unique because r is unique per pair
    val best = scored.minBy { case (_, r, sc) => (sc, -r) }
    scored.map { case (b, r, sc) => (b, r, sc, (b, r, sc) == best) }
  }

  /** The collision S-curve of the CHOSEN plan from [[lshBandPlans]]:
    * p(s) = 1 − (1 − s^r)^b per grid similarity s — the planner's
    * user-facing answer to "if I run b bands of r rows, what fraction of
    * pairs at similarity s become candidates?". Both powers are the
    * pinned multiply chain of [[powChain]]; the one subtraction each is
    * exact-operand IEEE, so the curve replays bit-for-bit in any engine
    * (the gate oracle re-derives plan choice AND curve with recursive
    * accumulators, never pow()). The frame is driver-built and
    * model-sized — |divisors| · |grid| rows, independent of any corpus —
    * which is the FellegiSunter-EM/IVF-fit bounded-driver-work shape:
    * the planner informs the distributed job, it never touches data.
    * Output: (bands, rows_per_band, s, p_collide), one row per grid
    * point. */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int, threshold: Double,
      grid: Seq[Double]): DataFrame = {
    require(grid.nonEmpty && grid.forall(s => s > 0 && s < 1),
      s"grid similarities must be in (0, 1), got $grid")
    val (b, r, _, _) = lshBandPlans(numHashes, threshold)
      .find { case (_, _, _, chosen) => chosen }.get
    val rows = grid.map { s =>
      val pr = 1.0 - powChain(1.0 - powChain(s, r), b)
      (b.toLong, r.toLong, s, pr)
    }
    import spark.implicits._
    rows.toDF("bands", "rows_per_band", "s", "p_collide")
  }

  /** C4-style corpus-wide repeated-span removal (Raffel et al. 2020 §2.2
    * drop duplicated spans corpus-wide, keeping ONE occurrence): spans
    * are '\n'-separated nonempty lines; every line keeps only its FIRST
    * occurrence in (doc id, position) order across the WHOLE corpus, and
    * each document is rebuilt from its surviving lines in original order
    * (possibly the empty string when every line was seen earlier).
    *
    * Scale shape: the first-occurrence pick is `row_number() == 1` over
    * a window partitioned by line content — Spark's
    * InferWindowGroupLimit inserts a partial per-mapper limit, so a
    * boilerplate line repeated 10^9 times sends ONE row per map task
    * into the shuffle, not 10^9; the rebuild is a per-doc aggregate
    * (collect + sort by position), bounded by document size. */
  def dropRepeatedSpans(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .where(length(col("line")) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("line")).orderBy(col("id").asc, col("pos").asc)
    val kept = lines.withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        "\n").as("clean_text"))
    docs.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** (id, 1-based window start, sha256 of the k-token window) for every
    * whitespace-token window of length `k` — the shared base of
    * [[duplicateTokenSpans]] / [[stripDuplicateTokenSpans]]. The window
    * content travels as its sha256 (fixed 64-byte shuffle key, collision-
    * free at any conceivable corpus size) rather than the k-token string:
    * at the paper's k=50 that is ~6× less shuffle payload. Built with
    * `transform(sequence(...))` over the token array — ONE projection per
    * document, no window shuffle. */
  private def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => sha2(concat_ws(" ", slice(col("toks"), i, lit(k))), 256)))
          .as(Seq("off", "g")))
      .select(col("id"), (col("off") + 1).as("pos"), col("g"))

  /** Duplicated token windows MINUS each window content's globally-first
    * occurrence, as (id, s, e) token intervals (1-based, inclusive).
    *
    * The non-first pick is groupBy(min(struct(id, pos))) + join-back, NOT
    * a row_number window like [[dropRepeatedSpans]]'s keep-first: there
    * InferWindowGroupLimit prunes to 1 row per map task because only
    * rnk==1 survives, but here the KEPT side is `rnk >= 2` — a window
    * would buffer a 10^9-occurrence boilerplate window in one task, while
    * the groupBy is map-side combinable and the join-back is an AQE-skew-
    * splittable equi-join. */
  private def markedWindows(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val wins = tokenWindows(docs, idCol, textCol, k)
    val firsts = wins.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(struct(col("id"), col("pos"))).as("first"))
      .where(col("n") > 1)
      .select(col("g"), col("first"))
    wins.join(firsts, "g")
      .where(!(col("id") === col("first").getField("id") &&
        col("pos") === col("first").getField("pos")))
      .select(col("id"), col("pos").as("s"), (col("pos") + (k - 1)).as("e"))
  }

  /** Cross-document exact-substring dedup — the token-window analogue of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499), which removes every repeated substring
    * of >= 50 tokens from a training corpus, keeping one occurrence.
    *
    * Semantics (pinned): every whitespace-token window of length `k`
    * whose content occurs MORE THAN ONCE corpus-wide is marked for
    * removal at every occurrence EXCEPT the globally-first one (minimum
    * (id, position)); overlapping and touching marked windows merge into
    * maximal spans. A repeated run of length L >= k is covered because
    * each of its L-k+1 interior windows is itself repeated; the windowed
    * formulation trades the paper's suffix array (inherently sequential,
    * single-machine) for one distributed hash shuffle.
    *
    * Output: (id, span_start, span_end, span_tokens) — one row per
    * maximal span to drop, 1-based token positions, both ends inclusive.
    * Documents with fewer than `k` tokens never produce spans.
    *
    * Scale shape: per-doc window mint is one projection (no shuffle);
    * duplicate detection is ONE map-side-combinable groupBy on the
    * window hash + an AQE-splittable join-back (see [[markedWindows]]);
    * the interval merge windows only over (id) — bounded by document
    * length, never by corpus skew. */
  def duplicateTokenSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"window length k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    markedWindows(docs, idCol, textCol, k)
      .withColumn("prev_max_e", max(col("e")).over(wPrev))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e") + 1, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy(col("id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** [[duplicateTokenSpans]] applied: each document rebuilt with its
    * marked spans cut out. Output (id, clean_text) for EVERY input
    * document; the rebuild re-joins surviving tokens with single spaces,
    * so untouched documents come back whitespace-NORMALIZED (the same
    * contract as every token-level dedup oracle here), and a document
    * whose every token sat in marked spans (or that had no tokens at
    * all) comes back as the empty string.
    *
    * Scale shape: spans collapse to one array per AFFECTED document
    * (bounded by document length), the join back to the corpus is an
    * equi-join on the primary key, and the cut itself is a higher-order
    * `filter` over the token array — no per-token explode, no range
    * join. */
  def stripDuplicateTokenSpans(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 50): DataFrame = {
    val spans = duplicateTokenSpans(docs, idCol, textCol, k)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        array_join(
          filter(col("toks"), (t, i) =>
            col("spans").isNull ||
              !exists(col("spans"), sp =>
                i + 1 >= sp.getField("span_start") &&
                  i + 1 <= sp.getField("span_end"))),
          " ").as("clean_text"))
  }

  /** Near-dup CLUSTER assignment — the "keep one per group" step that
    * turns pairwise near-dups into a dedup decision. Composes the two
    * gate-proven operators: [[minhashLshPairs]] emits verified pairs,
    * [[ConnectedComponents]] closes them transitively (A≈B≈C dedups as
    * ONE group even when A–C was never scored), and every document maps
    * to `canonical_id` = min doc id of its cluster (itself when it has no
    * near-dup). Keep rows where `id == canonical_id`; at 100 TB both
    * pieces keep their audited shapes (banded join + O(log n)
    * large-star/small-star rounds). `dropped` is the banding's (key, n)
    * buckets over `bucketCap`, read from the same materialized banding. */
  def nearDupGroups(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, numHashes: Int = 16, bands: Int = 4,
      bucketCap: Int = 500, hashFamily: String = "xxhash64"): Capped =
    lshCapped(docs, idCol, textCol, tau, kLane(numHashes, hashFamily),
        numHashes, bands, bucketCap, hashFamily).map { pairs =>
      val comp = ConnectedComponents.run(pairs.select(col("ia"), col("ib")))
      docs.select(col(idCol).as("id"))
        .join(comp, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("canonical_id"))
    }

  /** (id, sig) per tokenful doc — the signature column both SimHash tiers
    * verify against. Token-less docs carry no signal and are excluded
    * (exact dedup owns them). */
  private def simhashSigs(docs: DataFrame, idCol: String, textCol: String,
      hashFamily: String): DataFrame = {
    val sigExpr =
      if (HashFamily.isSha256(hashFamily, "fnv")) graft.functions.simhash60_sha(col(textCol))
      else graft.functions.simhash64(col(textCol))
    docs
      .where(size(TextAnalysis.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"), sigExpr.as("sig"))
  }

  /** (id, sig, band key) rows for the SimHash banding of
    * [[simhashPairs]]. */
  private def simhashBanded(docs: DataFrame, idCol: String, textCol: String,
      hashFamily: String): DataFrame = {
    val bandBits = if (HashFamily.isSha256(hashFamily, "fnv")) 15 else 16
    val mask = (1L << bandBits) - 1
    simhashSigs(docs, idCol, textCol, hashFamily)
      .select(col("id"), col("sig"),
        explode(array((0 until 4).map(bnd =>
          concat(lit(s"$bnd:"),
            shiftrightunsigned(col("sig"), bnd * bandBits).bitwiseAND(lit(mask)))): _*))
          .as("key"))
  }

  /** SimHash near-dup pairs: banded signatures (4 bands — two near-dup
    * docs within Hamming distance 3 share ≥1 identical band), then exact
    * Hamming verification via bit_count(xor).
    *
    * Three-tier policy of [[Tiers]] (a 15/16-bit band over near-identical
    * votes is a bucket attractor on boilerplate corpora — the all-zeros
    * key especially — and an uncapped band join re-quadratizes inside one
    * bucket). The 8-byte signature rides through both tiers as payload
    * (replication cost saltGroups × one scalar in the salted grid, and no
    * re-attach joins or signature recomputation afterwards). The salted
    * tier KEEPS near-dups inside hot boilerplate buckets — boilerplate is
    * precisely where SimHash near-dups live.
    *
    * `hashFamily`: `fnv` (production: 64-bit FNV/splitmix token hashes,
    * 4×16-bit bands) or `sha256` (60-bit signature from sha256 token
    * hashes, 4×15-bit bands) — the sha256 family is reproducible in ANSI
    * SQL end-to-end, which is how the driver gate hash-checks this
    * operator against DuckDB (tiers 1+2 are lossless, so the oracle's
    * only cut is `n <= hardCap` on the banded CTE; the salted tier's
    * losslessness is itself gate-proven by `q_dedup_simhash_salted`,
    * which forces every bucket through the grid and must equal the
    * uncapped oracle).
    *
    * Dropping is OPT-IN (`hardCap` defaults to `Int.MaxValue`); `dropped`
    * lists the (key, n) band buckets a finite cap cut. At 100 TB on a
    * boilerplate-heavy crawl a finite cap (e.g. 100k) is the sane
    * setting: a band bucket that big carries no discriminative signal
    * and its salted grid still costs |bucket|². */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, hashFamily: String = "fnv",
      bucketCap: Int = 500, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16): Capped = {
    // the banded frame feeds the sizing aggregate and the join-back
    val banded = Frames.shared(simhashBanded(docs, idCol, textCol, hashFamily))
    // a pair can surface from several bands (and from different tiers for
    // different bands) — hamming is identical each time, so distinct is exact
    Tiers.pairs(banded, Seq("key"), "id", bucketCap, hardCap, saltGroups,
        payload = Seq("sig"))
      .map(_.select(col("id_a").as("ia"), col("id_b").as("ib"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .distinct()
        .where(col("hamming") <= maxHamming))
  }

  /** Exact cosine near-dup pairs over an embedding column, blocked by
    * `blockCol` (quadratic per block — use [[Similarity]] LSH at scale).
    * Per-vector norms are computed once and carried as scalars: the
    * per-pair cosine is one dot fold, not dot + both norms — bit-identical
    * by construction (same folds, same sqrt, same division). */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, tau: Double): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(blockCol).as("bk"), graft.functions.vec_norm(col(vecCol)).as("nrm"))
    val a = base.select(col("bk"), col("id").as("ia"), col("v").as("va"),
      col("nrm").as("na"))
    val b = base.select(col("bk"), col("id").as("ib"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, "bk").where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (graft.functions.vec_dot(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= tau)
  }

  // ---------------------------------------------------------------------
  // Bloom-filter membership — "was this key ever in the historical
  // corpus?" WITHOUT joining against the historical corpus. The filter is
  // represented as its SET-BITS FRAME: one row per set bit position,
  // ≤ m rows total no matter how many corpus keys went in — a
  // broadcastable, persistable (parquet, [[bandIndex]] precedent),
  // UNION-mergeable artifact (filters over two corpus slices merge as
  // `bitsA.union(bitsB).distinct()`). Probing is a broadcast join of the
  // batch's k·|batch| candidate positions against that ≤ m-row frame —
  // the historical corpus itself is never re-read and never shuffled,
  // which is the whole point at 100 TB (the exact-dedup alternative is a
  // shuffle join against every key ever seen).
  //
  // Hashing is the house sha256 double-hash (the CLK/PPRL/HLL technique):
  // h1/h2 = first/second 32-bit words of sha256(utf8(key)); positions
  // (h1 + i·h2) mod m for i in 0..k−1 (Kirsch-Mitzenmacher). Fully
  // engine-reproducible, so probe verdicts are hash-gate-faced.
  //
  // Semantics: NO false negatives (a key that was inserted always hits);
  // false positives at the classical (1−e^{−kn/m})^k rate — callers
  // treat a hit as "candidate, verify downstream" (or accept the FP rate
  // as over-dropping in best-effort dedup). Null keys are no-ops on both
  // sides: they insert nothing and are not probed.
  // ---------------------------------------------------------------------

  /** Distinct (h1 + i·h2) mod m positions of `keyCol` values, one row per
    * (input row, i) before the distinct — shared by build and probe so
    * the two sides can never disagree on the hash. */
  private def bloomPositions(df: DataFrame, keyCol: String, m: Int,
      k: Int): DataFrame = {
    val h = sha2(col(keyCol).cast("string"), 256)
    df.where(col(keyCol).isNotNull)
      .select(conv(substring(h, 1, 8), 16, 10).cast("long").as("__h1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("__h2"),
        col("*"))
      .select(col("*"), explode(sequence(lit(0), lit(k - 1))).as("__i"))
      .withColumn("bit", (col("__h1") + col("__i") * col("__h2")) % m)
      .drop("__h1", "__h2", "__i")
  }

  /** Build the set-bits frame of an m-bit, k-hash Bloom filter over
    * `keyCol`: (bit) long rows, distinct, ≤ m of them. One map-side-
    * combinable distinct is the only shuffle; output is O(m) regardless
    * of corpus size. */
  def bloomBits(corpus: DataFrame, keyCol: String, m: Int = 1 << 16,
      k: Int = 4): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    bloomPositions(corpus, keyCol, m, k).select(col("bit")).distinct()
  }

  /** Probe each batch row's key against a set-bits frame: (id, bloom_hit)
    * where bloom_hit ⇔ ALL the key's distinct candidate positions are
    * set. `bits` is broadcast (≤ m rows by construction); the batch-side
    * work is one k-way position expansion + one per-id fold. */
  def bloomProbe(bits: DataFrame, batch: DataFrame, idCol: String,
      keyCol: String, m: Int = 1 << 16, k: Int = 4): DataFrame = {
    require(m > 0 && k >= 1 && k <= 16)
    val pos = bloomPositions(
      batch.select(col(idCol).as("id"), col(keyCol)), keyCol, m, k)
      .select(col("id"), col("bit")).distinct()
    pos.join(broadcast(bits.select(col("bit"), lit(1).as("__set"))),
        Seq("bit"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__n"), count(col("__set")).as("__hit"))
      .select(col("id"), (col("__n") === col("__hit")).as("bloom_hit"))
  }

  /** Fill observability: (bits_set, m, fill_ratio) — the rational gauge
    * of how saturated the filter is (fill past ~0.5 means the FP rate is
    * degrading and m needs resizing on the next build). */
  def bloomStats(bits: DataFrame, m: Int): DataFrame =
    bits.agg(count(lit(1)).as("bits_set"))
      .select(col("bits_set"), lit(m).as("m"),
        (col("bits_set").cast("double") / lit(m.toDouble)).as("fill_ratio"))

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003, the
    * MOSS algorithm) — POSITION-BEARING local fingerprints with a hard
    * guarantee MinHash doesn't give: any verbatim match of length
    * ≥ w + k − 1 characters shares at least one selected fingerprint, so
    * plagiarism/quotation spans are caught deterministically, not with
    * LSH probability, and the positions localize WHERE the copy sits
    * (MinHash/SimHash answer "how similar overall"; winnowing answers
    * "which span is lifted").
    *
    * Pinned semantics: character k-grams at every position (1-based);
    * hash = first 32-bit word of sha256(gram) (`hashFamily = "sha256"`,
    * the engine-reproducible verification family) or xxhash64(gram)
    * (`"xxhash64"`, cheaper production family, sbt-spec-faced only); for
    * each window of w CONSECUTIVE gram positions (starts 1 …
    * n_grams − w + 1), select the minimal hash, ties to the RIGHTMOST
    * position (the paper's rule — it minimizes distinct selections);
    * output = DISTINCT (doc_id, fp_hash, fp_pos). Documents with fewer
    * than w k-grams emit nothing (no full window exists — the guarantee
    * only speaks above w + k − 1 anyway).
    *
    * Scale shape: the gram explode is per-doc-linear (the same cost every
    * shingler here pays), the sliding min is ONE window frame
    * (rows [0, w−1]) partitioned BY DOCUMENT — documents are the
    * parallelism unit, no global ordering anywhere — and the distinct is
    * map-side combinable. Overlap detection composes downstream:
    * fingerprints are a (doc, fp) bipartite edge table, so
    * [[Linkage.commonNeighborPairs]] over the output IS the
    * shared-span candidate generator, hub caps included. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, hashFamily: String = "xxhash64"): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64], got $k")
    require(w >= 1 && w <= 256, s"w must be in [1,256], got $w")
    val gram = expr(s"substring(t, pos, $k)")
    val h = if (HashFamily.isSha256(hashFamily, "xxhash64"))
      conv(substring(sha2(gram, 256), 1, 8), 16, 10).cast("long")
    else xxhash64(gram)
    val grams = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .where(col("t").isNotNull && length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        (length(col("t")) - (k - 1)).as("__ng"))
      .select(col("doc_id"), col("__ng"), col("t"),
        explode(sequence(lit(1), col("__ng"))).as("pos"))
      .select(col("doc_id"), col("__ng"), col("pos"), h.as("h"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    grams
      .withColumn("__sel",
        min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      .where(col("pos") <= col("__ng") - (w - 1)) // full windows only
      .select(col("doc_id"), col("__sel").getField("h").as("fp_hash"),
        (-col("__sel").getField("np")).as("fp_pos"))
      .distinct()
  }

  // ------------------------------------------- content-defined chunking

  /** Content-defined chunking (CDC) — the storage-dedup primitive
    * (Muthitacharoen et al. LBFS SOSP'01; FastCDC, Xia et al. ATC'16)
    * over document content: cut each document into variable-length
    * chunks whose boundaries are decided by the CONTENT of a small
    * sliding window, not by fixed offsets — so inserting or deleting a
    * run of characters only re-chunks the spans whose windows overlap
    * the edit, and every chunk outside it keeps its identity
    * (shift-resistance, the property fixed-size blocking lacks).
    * Shared-chunk hashes across documents then expose partial/embedded
    * duplication — quoted articles, syndicated boilerplate, wrapper
    * pages — at sub-document granularity, complementing
    * [[winnowFingerprints]] (which samples k-grams) with an exact
    * disjoint COVER of the text: chunks concatenate back to the
    * document, so shared mass is directly measurable in characters.
    *
    * Cut rule (house verification hash family, replayable in SQL): a
    * boundary falls AFTER character position i (w <= i <= n) iff the
    * u32 sha256 prefix of the w-character window ending at i is ≡ 0
    * mod 2^maskBits — expected chunk length 2^maskBits + w − 1; the
    * document end is always a boundary. Documents shorter than w (or
    * boundary-free) come back as one whole-document chunk; empty/NULL
    * text is excluded (exact dedup owns it). Output per chunk:
    * (doc_id, chunk_idx 1-based, chunk_start 1-based, chunk_len,
    * chunk_sha = sha256 hex of the chunk text). A byte-level
    * Gear-rolling-hash production family would only change the window
    * hash; the plumbing here is hash-family-agnostic, and the sha face
    * is what the DuckDB gate replays bit-for-bit.
    *
    * 100 TB shape: position explode + boundary filter are map-side
    * (the filter keeps ~2^−maskBits of positions, so the only
    * doc_id-keyed shuffle carries CUTS, not positions); one per-document
    * window orders each doc's cuts (documents are the parallelism unit);
    * one id-keyed equi-join re-attaches the text for the chunk hash.
    * Nothing is global, nothing quadratic. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16, maskBits: Int = 6): DataFrame = {
    val b = cdcBase(docs, idCol, textCol)
    val spans = cdcSpans(cdcCuts(b, w, maskBits))
    spans.join(b.select(col("doc_id"), col("t")), "doc_id")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"),
        sha2(expr("substring(t, chunk_start, chunk_len)"), 256)
          .as("chunk_sha"))
  }

  private def cdcBase(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .where(col("t").isNotNull && length(col("t")) >= 1)
      .withColumn("n", length(col("t")))

  /** Distinct cut positions per doc: content cuts + the forced end cut. */
  private def cdcCuts(b: DataFrame, w: Int, maskBits: Int): DataFrame = {
    require(w >= 4 && w <= 256, s"w must be in [4,256], got $w")
    require(maskBits >= 1 && maskBits <= 24,
      s"maskBits must be in [1,24], got $maskBits")
    val winHash = conv(substring(
      sha2(expr(s"substring(t, pos - ${w - 1}, $w)"), 256), 1, 8), 16, 10)
      .cast("long")
    b.where(col("n") >= w)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(w), col("n"))).as("pos"))
      .where(pmod(winHash, lit(1L << maskBits)) === 0)
      .select(col("doc_id"), col("pos"))
      .unionAll(b.select(col("doc_id"), col("n").as("pos")))
      .distinct()
  }

  /** Cuts → (chunk_idx, chunk_start, chunk_len) spans via one
    * per-document window. */
  private def cdcSpans(cuts: DataFrame): DataFrame = {
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val prev = coalesce(lag(col("pos"), 1).over(wd), lit(0))
    cuts
      .select(col("doc_id"),
        row_number().over(wd).cast("long").as("chunk_idx"),
        (prev + 1).cast("long").as("chunk_start"),
        (col("pos") - prev).cast("long").as("chunk_len"))
  }

  /** [[cdcChunks]] with production chunk-size bounds, two deterministic
    * refinement phases over the same content cuts (each a pure per-doc
    * array fold/explode — no new shuffle):
    *   1. minLen: scan content cuts left to right, accepting a cut only
    *      when it lands >= minLen after the last ACCEPTED cut (tiny
    *      chunks merge forward; the tail chunk may still be short —
    *      standard CDC tail exemption);
    *   2. maxLen: any remaining span longer than maxLen is subdivided
    *      at fixed maxLen offsets (the forced-cut guarantee: no chunk
    *      ever exceeds maxLen, bounding worst-case chunk skew on
    *      low-entropy content where the mask never fires).
    * Equals [[cdcChunks]] exactly when minLen = 1 and maxLen >= every
    * document (bounds don't bite — spec-pinned). Note the documented
    * variant semantics: minLen filters relative to accepted CONTENT
    * cuts; forced maxLen sub-cuts do not re-seed the minLen scan (this
    * keeps the fold associative-free and partitioning-independent). */
  def cdcChunksBounded(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16, maskBits: Int = 6, minLen: Int = 16,
      maxLen: Int = 4096): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    require(maxLen >= minLen, s"maxLen $maxLen must be >= minLen $minLen")
    val b = cdcBase(docs, idCol, textCol)
    // per-doc sorted content-cut array (bounded by the doc's own size)
    val cand = cdcCuts(b, w, maskBits)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("pos"))).as("cand"))
      .join(b.select(col("doc_id"), col("n")), "doc_id")
    // phase 1: greedy minLen acceptance (left fold; doc end always kept)
    val folded = cand.select(col("doc_id"), col("n"),
      aggregate(col("cand"),
        struct(array().cast("array<int>").as("a"), lit(0).as("last")),
        (acc, c) => when(
          (c - acc.getField("last") >= minLen && c < col("n")) ||
            c === col("n"),
          struct(concat(acc.getField("a"), array(c)).as("a"),
            c.cast("int").as("last"))).otherwise(acc),
        acc => acc.getField("a")).as("cuts"))
    // phase 2: subdivide each span at fixed maxLen offsets
    val spans = folded
      .select(col("doc_id"), posexplode(col("cuts")))
      .withColumn("prev",
        coalesce(lag(col("col"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("pos"))), lit(0)))
      .select(col("doc_id"), col("prev"), col("col").as("cut"))
      .select(col("doc_id"),
        explode(sequence(col("prev") + maxLen, col("cut") + maxLen - 1,
          lit(maxLen))).as("sub"), col("cut"))
      .select(col("doc_id"), least(col("sub"), col("cut")).as("pos"))
      .distinct()
    cdcSpans(spans)
      .join(b.select(col("doc_id"), col("t")), "doc_id")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"),
        sha2(expr("substring(t, chunk_start, chunk_len)"), 256)
          .as("chunk_sha"))
  }
}
