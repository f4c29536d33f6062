package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.functions.{bag_within, jaro_winkler_sim, levenshtein_within, sorensen_dice_sim,
  HashFamily}

/** Record-linkage pipeline stages (north rule: blocking → pairwise scoring
  * → transitive clustering over Common-Crawl-style pages).
  *
  * Every stage is a pure `DataFrame → DataFrame` function built from stock
  * Catalyst operators (scan/filter/project/groupBy/equi-join) so predicate
  * pushdown, column pruning, partial aggregation, broadcast selection, and
  * AQE skew-join splitting all apply for free (SURVEY.md §4.2). The only
  * custom expressions in the hot path are the codegen'd strsim kernels.
  *
  * Scale notes (10^12 pages):
  *  - Blocking keys are Zipfian. Ultra-hot buckets are dropped (standard
  *    LSH practice — a bucket holding thousands of pages carries no
  *    discriminative signal and would quadratically explode the pair
  *    count); the drop is observable in the metrics output, never silent.
  *  - The pair self-join is an equi-join on the bucket key with AQE skew
  *    handling. Each page's `name_norm` rides through it as payload, so
  *    pair dedup is a groupBy on (url_a, url_b, name_norm_a, name_norm_b)
  *    (partial aggregation makes it map-side combining) and scoring joins
  *    no names back. Because the names are grouping columns, a match
  *    filter chained lazily onto [[score]] is pushed below the dedup into
  *    the blocking join's condition: only pairs that clear θ are shuffled
  *    for dedup (PipelinePlanSpec asserts the plan).
  *  - html (BINARY) is never read by any stage after extraction — column
  *    pruning keeps it out of every shuffle (verified in PipelinePlanSpec).
  */
object Linkage {

  /** Stage 1 — text extraction + normalization.
    * Recovers `text` from the raw `html` bytes (byte-identical per url —
    * the BASELINE.json:15 invariant, checked in [[textInvariantViolations]]),
    * derives the display title, the normalized entity name, and the
    * normalized-url blocking key. */
  def extract(pages: DataFrame): DataFrame = {
    val textFromHtml = regexp_replace(
      regexp_extract(decode(col("html"), "UTF-8"), "(?s)<body>\n(.*)\n</body>", 1),
      "</?p>", "")
    pages.select(
      col("url"),
      textFromHtml.as("text"),
      col("lang"),
      regexp_extract(col("url"), "^https?://([^/?]+)", 1).as("host"))
      .withColumn("title", substring_index(col("text"), "\n", 1))
      .withColumn("name_norm", regexp_replace(lower(col("title")), "[^a-z0-9]", ""))
      .withColumn("block_key",
        regexp_replace(
          regexp_replace(col("host"), "^(www|m|en|web)\\.", ""),
          "\\.(com|org|net|example)$", ""))
  }

  /** Count of urls whose extracted text differs byte-wise from the stored
    * `text` column — must be 0 (per-row invariant vs the reference). */
  def textInvariantViolations(pages: DataFrame): Long = {
    val extracted = extract(pages).select(col("url"), col("text").as("text_ex"))
    pages.select(col("url"), col("text"))
      .join(extracted, "url")
      .where(sha2(encode(col("text"), "UTF-8"), 256) =!=
        sha2(encode(col("text_ex"), "UTF-8"), 256))
      .count()
  }

  /** Stage 2 — MinHash band keys over char k-shingles of the normalized
    * name (secondary blocking key; catches host misspellings the
    * normalized-url key misses). The whole signature is ONE fused codegen
    * expression per row ([[graft.functions.minhash_sig_chars]]) — the old
    * explode → k-column min-agg form paid a full shuffle of every shingle
    * row for nothing. `hashFamily` as in [[Dedup.minhashLshPairs]]:
    * `xxhash64` for production, `sha256` for the ANSI-SQL-reproducible
    * variant gate q_minhash_band_keys checks against DuckDB. Output:
    * (url, key). */
  def minhashBandKeys(extracted: DataFrame, numHashes: Int = 12,
      bands: Int = 6, shingleK: Int = 3,
      hashFamily: String = "xxhash64"): DataFrame =
    bandKeys(extracted, Nil, numHashes, bands, shingleK, hashFamily)

  /** (url, key, `carry`…): the band keys of [[minhashBandKeys]] with the
    * `carry` columns of `extracted` riding along in the same projection. */
  private def bandKeys(extracted: DataFrame, carry: Seq[String],
      numHashes: Int, bands: Int, shingleK: Int,
      hashFamily: String): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val carried = carry.map(col)
    val sig = extracted.select(col("url") +: carried :+
      graft.functions.minhash_sig_chars(col("name_norm"), shingleK, numHashes,
        hashFamily).as("sig"): _*)
    val bandCols = (0 until bands).map { b =>
      val elems = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      val h =
        if (HashFamily.isSha256(hashFamily, "xxhash64")) sha2(concat_ws("|", elems: _*), 256)
        else xxhash64(elems: _*)
      concat(lit(s"mh$b:"), h).as(s"band$b")
    }
    sig.select((col("url") +: carried) ++ bandCols: _*)
      .select(col("url") +:
        explode(array((0 until bands).map(b => col(s"band$b")): _*)).as("key") +:
        carried: _*)
  }

  /** Stage 2b — full candidate key set: normalized-url key ∪ MinHash band
    * keys, each row carrying its page's normalized name for scoring.
    * Output: (url, key, name_norm). `name_norm` is a function of `url`
    * (one extracted row per url), the precondition [[candidatePairs]]
    * states for carried columns. */
  def candidateKeys(extracted: DataFrame, numHashes: Int = 12, bands: Int = 6,
      shingleK: Int = 3): DataFrame = {
    val urlKeys = extracted.select(col("url"),
      concat(lit("host:"), col("block_key")).as("key"), col("name_norm"))
    urlKeys.union(bandKeys(extracted, Seq("name_norm"), numHashes, bands,
      shingleK, "xxhash64"))
  }

  /** Stage 3 — candidate pairs: urls sharing any key, url_a < url_b,
    * deduped, under the three-tier skew policy of [[Tiers]] (web blocking
    * keys are Zipfian); [[candidateCapped]] also returns the dropped tier.
    *
    * Every column of `keys` other than `url` and `key` is carried as
    * [[Tiers.pairs]] payload: over [[candidateKeys]] the output is
    * (url_a, url_b, name_norm_a, name_norm_b), over a bare (url, key)
    * frame it is (url_a, url_b). Precondition: each carried column is a
    * function of `url`, so the dedup over all output columns removes the
    * same duplicates as one over (url_a, url_b). The dedup stays a
    * `distinct()` over every column — with the payload as grouping
    * columns, a later filter on it (the match threshold) is pushed below
    * the dedup, which `dropDuplicates("url_a", "url_b")` would block. */
  def candidatePairs(keys: DataFrame, bucketCap: Int = 200,
      hardCap: Int = 100000, saltGroups: Int = 16,
      distinctPairs: Boolean = true): DataFrame =
    candidateCapped(keys, bucketCap, hardCap, saltGroups, distinctPairs).out

  /** [[candidatePairs]] and its (key, bucket_n) buckets over `hardCap`. */
  private[graft] def candidateCapped(keys: DataFrame, bucketCap: Int,
      hardCap: Int, saltGroups: Int, distinctPairs: Boolean = true): Capped = {
    val payload = keys.columns.toSeq.filterNot(Set("url", "key"))
    // the key frame feeds the sizing aggregate AND the join-back: callers
    // often derive it from an expensive pass (sha256 MinHash band keys)
    val all = Tiers.pairs(Frames.shared(keys), Seq("key"), "url", bucketCap,
      hardCap, saltGroups, payload)
    // `distinctPairs = false` is for callers whose key frame is FUNCTIONAL
    // (each url carries exactly one key — e.g. adaptive-SNM segment ids):
    // within a bucket each unordered pair meets exactly once (cold join by
    // url_a < url_b; salted grid by construction) and no pair can span two
    // buckets, so the dedup shuffle would re-hash the full pair volume to
    // remove nothing (guide §2.4: a distinct on already-unique data).
    Capped(if (distinctPairs) all.out.distinct() else all.out,
      all.dropped.withColumnRenamed("n", "bucket_n"))
  }

  /** Stage 4 — pairwise scoring: composite Jaro-Winkler + Sørensen-Dice on
    * the normalized names (the north-star composite). A pure projection
    * over pairs that carry their names ([[candidatePairs]] over
    * [[candidateKeys]]); bare (url_a, url_b) pairs get the names from
    * `extracted` by two url equi-joins ([[withNames]]).
    * Output: (url_a, url_b, jw, dice, score). */
  def score(pairs: DataFrame, extracted: DataFrame): DataFrame =
    composite(withNames(pairs, extracted))

  /** The candidate pairs with both sides' normalized names as `name_a` /
    * `name_b`: the carried `name_norm_a` / `name_norm_b` renamed, or, for
    * bare pairs (hand-built pair frames, `03_pairs` checkpoints written
    * before the names were carried), joined on from `extracted` by url. */
  private def withNames(pairs: DataFrame, extracted: DataFrame): DataFrame =
    if (Seq("name_norm_a", "name_norm_b").forall(pairs.columns.contains))
      pairs.withColumnRenamed("name_norm_a", "name_a")
        .withColumnRenamed("name_norm_b", "name_b")
    else {
      val names = extracted.select(col("url"), col("name_norm"))
      pairs
        .join(names.withColumnRenamed("url", "url_a").withColumnRenamed("name_norm", "name_a"), "url_a")
        .join(names.withColumnRenamed("url", "url_b").withColumnRenamed("name_norm", "name_b"), "url_b")
    }

  /** (`idA`, `idB`, jw, dice, score): the one definition of the
    * north-star composite of `named`'s names `nameA` and `nameB`, JW plus
    * Dice, summed over the kernel columns so each kernel runs once. */
  private[graft] def composite(named: DataFrame, idA: String = "url_a",
      idB: String = "url_b", nameA: String = "name_a",
      nameB: String = "name_b"): DataFrame =
    named
      .select(col(idA), col(idB),
        jaro_winkler_sim(col(nameA), col(nameB)).as("jw"),
        sorensen_dice_sim(col(nameA), col(nameB)).as("dice"))
      .withColumn("score", col("jw") + col("dice"))

  /** Stage 4 (alternative) — Fellegi-Sunter comparison vectors for the
    * candidate pairs: banded similarity indicators over the normalized
    * entity name — g0 = JW ≥ 0.95 (strict), g1 = JW ≥ 0.88 (loose),
    * g2 = Sørensen-Dice ≥ 0.85. Name-similarity bands rather than
    * block/lang equality because candidate pairs COME from blocking —
    * fields the blocker already conditioned on carry almost no
    * discriminative signal among candidates (their u ≈ 1), while banded
    * name agreement is exactly the "agreement levels" evidence FS is
    * built on. Monotone bands are conditionally dependent (strict
    * agreement implies loose), which the naive-FS independence
    * assumption tolerates: EM still drives every u toward 0 and the
    * posterior split survives (LinkageSpec pins F1 ≥ 0.9 on the planted
    * corpus). Names as in [[score]] ([[withNames]]); gammas are
    * null-absorbing by construction (every `when` carries an
    * `otherwise(0)`), which [[FellegiSunter.fit]] requires.
    * Output: (url_a, url_b, g0, g1, g2). */
  val fsGammaCols: Seq[String] = Seq("g0", "g1", "g2")
  def fsComparisonVectors(pairs: DataFrame, extracted: DataFrame): DataFrame =
    withNames(pairs, extracted)
      .select(col("url_a"), col("url_b"),
        jaro_winkler_sim(col("name_a"), col("name_b")).as("__jw"),
        sorensen_dice_sim(col("name_a"), col("name_b")).as("__dice"))
      .select(col("url_a"), col("url_b"),
        when(col("__jw") >= 0.95, lit(1L)).otherwise(lit(0L)).as("g0"),
        when(col("__jw") >= 0.88, lit(1L)).otherwise(lit(0L)).as("g1"),
        when(col("__dice") >= 0.85, lit(1L)).otherwise(lit(0L)).as("g2"))

  /** Stage 4 (pre-filtered) — [[score]] behind a TWO-tier admission
    * filter at the same `maxDist`:
    *   tier 0 `bag_within(k)` — bag distance lower-bounds Levenshtein
    *     distance, so a bag rejection is a sound edit rejection at one
    *     sorted-bag-merge cost (no DP at all);
    *   tier 1 `levenshtein_within(k)` — the banded Ukkonen kernel,
    *     O((2k+1)·min(n,m)) with early exit, runs only on bag survivors.
    * Only tier-1 survivors pay the O(n·m) Jaro scan + the Dice sort of
    * the composite projection. Semantics: the output IS [[score]]
    * restricted to pairs within edit distance `maxDist` — tier 0 never
    * changes the result (BagRatcliffSpec pins the superset property; the
    * q_match_pairs_prefiltered oracle applies only the edit cut), the
    * stack as a whole is lossy-by-contract (pick maxDist from the
    * name-length distribution so true matches survive). Physically both
    * tiers sit BELOW the scoring projection in the same
    * whole-stage-codegen stage, short-circuit-ordered tier 0 first
    * (PipelinePlanSpec asserts the plan order), so pruned pairs never
    * evaluate a kernel beyond their rejection tier. */
  def scoreWithPrefilter(pairs: DataFrame, extracted: DataFrame,
      maxDist: Int): DataFrame =
    composite(withNames(pairs, extracted)
      .where(bag_within(col("name_a"), col("name_b"), maxDist) &&
        levenshtein_within(col("name_a"), col("name_b"), maxDist)))

  /** Stage 5 — matched pairs at threshold θ. */
  def matches(scored: DataFrame, theta: Double): DataFrame =
    scored.where(col("score") >= theta).select(col("url_a"), col("url_b"))

  /** Stage 6 — transitive clustering: hash urls to 64-bit node ids, run
    * large-star/small-star CC, map back. Output: (url, cluster_id) for every
    * url in `extracted` (singletons get their own id). */
  def cluster(matched: DataFrame, extracted: DataFrame): DataFrame =
    clusterWithStats(matched, extracted)._1

  /** [[cluster]] plus the CC convergence telemetry (round count +
    * per-round surviving edge counts) so the pipeline metrics can expose
    * it — on a 10^12-edge graph a stalling round series is the early
    * warning before maxIter job death. */
  def clusterWithStats(matched: DataFrame,
      extracted: DataFrame): (DataFrame, ConnectedComponents.Result) = {
    val nodes = extracted.select(col("url"), xxhash64(col("url")).as("id"))
    val edges = matched
      .select(xxhash64(col("url_a")).as("src"), xxhash64(col("url_b")).as("dst"))
    val cc = ConnectedComponents.runWithStats(edges)
    val clusters = nodes.join(cc.assignment, Seq("id"), "left")
      .select(col("url"), coalesce(col("component"), col("id")).as("cluster_id"))
    (clusters, cc)
  }

  /** Suffix-array blocking keys (Aizawa & Oyama 2005): every suffix of the
    * normalized key value with length >= `minLen` becomes a blocking key,
    * so records agreeing on any TAIL of the key ("1 Main St Apt 4" vs
    * "Main St Apt 4", OCR'd leading characters, titles glued to names)
    * share a block — variation the equi-key and phonetic families both
    * miss. Blocks larger than `maxBlockSize` are REMOVED, which is part of
    * the published method, not a skew workaround: a suffix shared by that
    * many records (e.g. a common street designator) carries no linkage
    * signal, and dropping it bounds every block's pair cost at
    * maxBlockSize²/2 by construction. Keys shorter than `minLen` emit
    * just themselves (the standard degenerate case).
    *
    * Plan shape: one codegen projection exploding <= len-minLen+1 suffixes
    * per record, one map-side-combinable sizing groupBy, one equi-join
    * back — no window, no driver state; pairs from the keys go through
    * [[crossCandidatePairs]]/[[candidatePairs]] like any other key frame.
    * Output: (id, suffix), deduped by construction (suffixes of one value
    * all differ in length). */
  def suffixBlockKeys(records: DataFrame, idCol: String, keyCol: String,
      minLen: Int = 4, maxBlockSize: Int = 50): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    require(maxBlockSize >= 1, s"maxBlockSize must be >= 1, got $maxBlockSize")
    val base = records.select(col(idCol).as("id"), lower(trim(col(keyCol))).as("k"))
      .where(length(col("k")) > 0)
    val sufs = base.select(col("id"),
      explode(transform(
        sequence(lit(1), greatest(length(col("k")) - lit(minLen) + 1, lit(1))),
        i => col("k").substr(i, length(col("k"))))).as("suffix"))
    Tiers.capped(sufs, Seq("suffix"), maxBlockSize).out
      .select(col("id"), col("suffix"))
  }

  /** Token blocking (the schema-agnostic ER baseline — Papadakis et al.):
    * every DISTINCT whitespace token of `textCol` that is at least
    * `minLen` characters long becomes a block key. The highest-recall /
    * lowest-precision member of the blocking family: two records block
    * together iff they share ANY qualifying token, so it catches matches
    * every structured key misses, at the cost of Zipfian token buckets —
    * which is exactly what the downstream caps exist for: feed the keys
    * to [[candidatePairs]] (3-tier salted/dropped skew policy) or to
    * [[MetaBlocking.blockingGraph]]/[[MetaBlocking.blockFilter]] for
    * weight-based pruning. Callers normalize `textCol` first
    * (`functions.normalize_match`) so case/accent/punctuation variants
    * share tokens.
    *
    * Plan shape: one codegen projection exploding tokens + one distinct
    * (multiplicity carries no blocking signal — a record is in a token's
    * block once). Output: (key = "tok:<token>", url = idCol), the
    * [[candidatePairs]] input schema. */
  def tokenBlockKeys(records: DataFrame, idCol: String, textCol: String,
      minLen: Int = 2): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    records
      .select(col(idCol).as("url"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .where(length(col("tok")) >= minLen)
      .select(concat(lit("tok:"), col("tok")).as("key"), col("url"))
      .distinct()
  }

  /** Blocking-scheme profile — the capacity-planning pass a 100 TB linkage
    * job runs BEFORE committing to a key scheme: how many blocks, how hot
    * is the hottest, and exactly how many candidate pairs each tier of
    * [[candidatePairs]]' skew policy would generate at the given caps,
    * each block in the one tier [[Tiers.pairs]] routes it to. Pair counts
    * are Σ n(n−1)/2 per block in decimal(38,0) — integer-exact far past
    * the 2^63 pair counts a Zipfian web key can hit, the
    * [[Evaluation.adjustedRandStats]] overflow lesson applied. One
    * map-side-combined sizing groupBy + one global aggregate; input is the
    * [[candidatePairs]] key schema (key, url). */
  def blockingProfile(keys: DataFrame, bucketCap: Int = 200,
      hardCap: Int = 100000): DataFrame = {
    val sized = Tiers.sizes(keys, Seq("key"))
    val n = col("n")
    val tiers = Seq("cold" -> Tiers.isCold(n, bucketCap, hardCap),
      "salted" -> Tiers.isSalted(n, bucketCap, hardCap), "dropped" -> Tiers.isDropped(n, hardCap))
    val pairs2 = n.cast("decimal(38,0)") * (n - 1).cast("decimal(38,0)")
    sized.agg(count(lit(1)).as("n_blocks"), Seq(sum(n).as("n_assignments"),
      max(n).as("max_block")) ++
      tiers.map { case (t, in) => sum(when(in, 1L).otherwise(0L)).as(s"blocks_$t") } ++
      tiers.map { case (t, in) =>
        (sum(when(in, pairs2).otherwise(lit(0))) / lit(2)).cast("decimal(38,0)").as(s"pairs_$t")
      }: _*)
  }

  /** Sorted-neighborhood blocking (Hernández-Stolfo): order records by a
    * sort key and emit every pair within `window` consecutive positions —
    * the classic complement to hash blocking (equi-key buckets miss pairs
    * whose keys differ in a low-order character; a sorted neighborhood
    * catches them, at O(n·w) candidate cost).
    *
    * Scale design — NO single-partition window anywhere:
    *  1. the global rank is a [[Frames.runningSums]] of 1 in
    *     (sortKey, id) order: one range exchange and a per-partition sort,
    *     a P-row collect of the partition sizes, then each partition's
    *     local row numbers plus its offset, all read from one RDD;
    *  2. neighborhood pairs are a BANDED EQUI-JOIN on `rank div (w-1)`:
    *     each right row also offers its predecessor bucket, so a pair at
    *     rank distance ≤ w-1 meets in exactly one bucket cell — candidate
    *     generation is a plain shuffle join, never a cross product and
    *     never a giant window state.
    *
    * `idCol` must be unique per record (it is the rank tie-break, making
    * the rank — and therefore the pair set — deterministic and
    * partitioning-independent); a duplicated (sortKey, id) row raises.
    * Output: (<id>_a, <id>_b, rank_a, rank_b) with rank_a < rank_b; ranks
    * are 1-based in (sortKey, id) order. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, sortKeyCol: String,
      window: Int, partitions: Int = 0): DataFrame = {
    require(window >= 2, s"sorted-neighborhood window must be >= 2, got $window")
    val (ranked, _) = Frames.runningSums(df.select(col(idCol), col(sortKeyCol)),
      Seq(sortKeyCol -> DriverFinish.Asc, idCol -> DriverFinish.Asc),
      Seq("__rnk" -> lit(1L)), partitions)
    val b = window - 1
    val l = ranked.select(col(idCol).as(s"${idCol}_a"), col("__rnk").as("rank_a"),
      expr(s"__rnk div $b").as("__bucket"))
    val r = ranked.select(col(idCol).as(s"${idCol}_b"), col("__rnk").as("rank_b"),
      explode(array(expr(s"__rnk div $b"), expr(s"__rnk div $b - 1"))).as("__bucket"))
    l.join(r, "__bucket")
      .where(col("rank_b") > col("rank_a") && col("rank_b") - col("rank_a") <= b)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("rank_a"), col("rank_b"))
  }

  /** ADAPTIVE sorted neighborhood (Yan et al., "Adaptive sorting-based
    * blocking"): instead of a fixed window sliding over the sort order, cut
    * the order into SEGMENTS at every adjacency whose sort keys are not
    * similar enough (`sim(prev, cur) < theta`), and pair all records
    * within a segment. A fixed window both misses duplicates straddling a
    * dense run longer than the window AND wastes comparisons across
    * obvious discontinuities; the adaptive cut spends the pair budget
    * exactly where the sort order says records cluster. Equal keys can
    * never be split (sim = 1 ≥ θ for any valid θ).
    *
    * Scale shape: one [[Frames.runningSums]] of 1 ranks the records, ONE
    * equi-self-join on rank (rank = rank+1) flags adjacency — no
    * corpus-sized window — then a second running sum, of the boundary
    * flags in rank order, turns them into segment ids, and the
    * within-segment pairing is delegated to
    * [[candidatePairs]], inheriting the full 3-tier (plain / salted-grid /
    * observable-drop) skew contract: a degenerate sort key that lumps the
    * corpus into one segment becomes a salted grid or an observable drop,
    * never a silent quadratic reducer.
    *
    * @param sim similarity between ADJACENT SORT KEYS (not records);
    *            default Jaro-Winkler. θ in (0,1].
    * @return (idCol_a, idCol_b) distinct candidate pairs. */
  def adaptiveSortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortKeyCol: String, theta: Double,
      sim: (Column, Column) => Column = jaro_winkler_sim(_, _),
      bucketCap: Int = 200, hardCap: Int = 100000, saltGroups: Int = 16,
      partitions: Int = 0): DataFrame = {
    val segments = adaptiveSegmentKeys(df, idCol, sortKeyCol, theta, sim,
      partitions)
    // segment keys are FUNCTIONAL (each record belongs to exactly one
    // segment), so candidate pairs are unique by construction — skip the
    // pair-volume dedup shuffle (guide §2.4)
    candidatePairs(segments, bucketCap, hardCap, saltGroups,
      distinctPairs = false)
      .select(col("url_a").as(s"${idCol}_a"), col("url_b").as(s"${idCol}_b"))
  }

  /** The segment-key derivation of [[adaptiveSortedNeighborhoodPairs]]:
    * the (url, key) frame fed to [[candidatePairs]]. */
  private def adaptiveSegmentKeys(df: DataFrame, idCol: String,
      sortKeyCol: String, theta: Double, sim: (Column, Column) => Column,
      partitions: Int): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0,1], got $theta")
    val (ranked, _) = Frames.runningSums(df.select(col(idCol), col(sortKeyCol)),
      Seq(sortKeyCol -> DriverFinish.Asc, idCol -> DriverFinish.Asc),
      Seq("__rnk" -> lit(1L)), partitions)
    val prev = ranked.select((col("__rnk") + 1).as("__rnk"),
      col(sortKeyCol).as("__prev"))
    val flagged = ranked.join(prev, Seq("__rnk"), "left")
      .select(col(idCol), col("__rnk"),
        when(col("__prev").isNull, lit(1L)) // rank 1 opens segment 1
          .otherwise(when(sim(col("__prev"), col(sortKeyCol)) < theta, lit(1L))
            .otherwise(lit(0L))).as("__b"))
    // the running sum of the boundary flags is the segment id of each row
    val (segments, _) = Frames.runningSums(flagged,
      Seq("__rnk" -> DriverFinish.Asc), Seq("__seg" -> col("__b")), partitions)
    segments.select(col(idCol).as("url"),
      concat(lit("seg:"), col("__seg")).as("key"))
  }

  /** DYNAMIC BLOCKING (hierarchical key extension — the McNeill-Kardes-
    * Borthwick remedy): a block bigger than `cap` is not dropped and not
    * salted — its key is EXTENDED with the next key part, splitting it
    * into child blocks, recursively until every block fits or the parts
    * run out. Where [[candidatePairs]]' tier policy trades recall for
    * boundedness on ultra-hot keys, dynamic blocking keeps recall
    * whenever a finer signal exists, and only the records whose FULL key
    * chain is still over `cap` fall out (observably — `dropped`).
    *
    * Because depth-d keys are prefixes, all members of an over-cap block
    * share every ancestor key, so the whole block descends together —
    * which makes the recursion evaporate into |parts| map-side-combining
    * groupBys over the full population plus |parts| equi-joins (the size
    * frames are block-count-sized, usually broadcast): a record settles
    * at the FIRST depth whose block count fits. No driver loop, no
    * generated shuffles beyond the D sizing joins.
    *
    * @param parts ordered key parts, coarse → fine (e.g. segment, nation,
    *              name prefix). Depth-d key = parts(0..d) joined by ':'.
    * @return `out`: (id, block_key, depth) for every record that settles;
    *         `dropped`: (id, block_key, block_n) for every record whose
    *         full key chain is still over `cap`. */
  def dynamicBlockKeys(records: DataFrame, idCol: String,
      parts: Seq[Column], cap: Long): Capped = {
    require(parts.nonEmpty, "dynamicBlockKeys needs at least one key part")
    val keyed = records.select(
      col(idCol) +: parts.indices.map(d =>
        concat_ws(":", parts.take(d + 1).map(_.cast("string")): _*)
          .as(s"__k$d")): _*)
    val sized = parts.indices.foldLeft(keyed) { (acc, d) =>
      val s = keyed.groupBy(col(s"__k$d")).agg(count(lit(1)).as(s"__n$d"))
      acc.join(s, s"__k$d")
    }
    // first (coarsest) fitting depth wins: fold fine → coarse so shallower
    // WHEN branches overwrite deeper ones
    val depth = parts.indices.reverse.foldLeft(lit(-1)) { (acc, d) =>
      when(col(s"__n$d") <= cap, lit(d)).otherwise(acc)
    }
    // a block over `cap` at the finest depth is over it at every depth
    val last = parts.size - 1
    Capped(sized.withColumn("__d", depth)
      .where(col("__d") >= 0)
      .withColumn("block_key",
        parts.indices.foldLeft(lit(null).cast("string")) { (acc, d) =>
          when(col("__d") === d, col(s"__k$d")).otherwise(acc)
        })
      .select(col(idCol), col("block_key"), col("__d").as("depth")),
      sized.where(col(s"__n$last") > cap)
        .select(col(idCol), col(s"__k$last").as("block_key"),
          col(s"__n$last").as("block_n")))
  }

  /** Two-corpus candidate pairs: records of LEFT and RIGHT sharing a
    * blocking key (the A-vs-B linkage shape — most production ER links two
    * tables, e.g. crawl vs registry; [[candidatePairs]] is the self-join
    * special case). Keys frames are (id, key) like [[candidateKeys]]'s
    * output. Skew policy: the per-key pair product `n_l · n_r` is capped at
    * `bucketPairCap` — an over-cap key is dropped, never silently (`dropped`
    * lists it as (key, n_l, n_r)); under the cap, AQE skew-join splitting
    * handles residual imbalance (a two-sided join has no quadratic
    * self-blowup — each key's cost is the product, which the cap bounds).
    * Output: (id_l, id_r), distinct. */
  def crossCandidatePairs(leftKeys: DataFrame, rightKeys: DataFrame,
      bucketPairCap: Long = 1000000L): Capped = {
    val sized = leftKeys.groupBy(col("key")).agg(count(lit(1)).as("n_l"))
      .join(rightKeys.groupBy(col("key")).agg(count(lit(1)).as("n_r")), "key")
    val good = sized.where(col("n_l") * col("n_r") <= bucketPairCap)
      .select(col("key"))
    Capped(leftKeys.toDF("id_l", "key").join(good, "key")
      .join(rightKeys.toDF("id_r", "key"), "key")
      .select(col("id_l"), col("id_r"))
      .distinct(),
      sized.where(col("n_l") * col("n_r") > bucketPairCap))
  }

  /** TF-IDF-weighted cosine scoring of candidate pairs (Cohen, Ravikumar
    * & Fienberg 2003's baseline hybrid scorer): tokens weighted by
    * tf · (N+1)/(df+1) — the same log-free RATIONAL idf as
    * [[TextAnalysis.topTfidfTerms]], one exact int product and one IEEE
    * division, so the oracle reproduces every weight bit-for-bit — then
    * cosine over the weighted token vectors. Where plain token Jaccard
    * treats "the" and a rare surname alike, idf makes agreement on rare
    * tokens dominate.
    *
    * Determinism contract: each document's vector is its token-SORTED
    * (term, w) array; norms and dot products are ORDERED left folds over
    * that array (`aggregate` with a 0.0 seed — IEEE summation order is
    * part of the operator's definition, like Jaro's pinned sum order), so
    * the score is independent of partitioning and join order.
    *
    * 100 TB shape: tf and df are map-side-combinable groupBys, the weight
    * attach is one AQE-skew-splittable equi-join, vectors are one
    * groupBy(id) bounded by per-document token counts, and scoring is two
    * primary-key joins of `pairs` to the vector frame — per-pair cost is
    * O(|tokens_a|) map lookups inside the row, no shuffle beyond the
    * joins, nothing driver-sized. Token-less documents have no vector
    * (norm 0 is undefined); pairs touching them are dropped by the inner
    * joins. `pairs` carries (iaCol, ibCol); output (iaCol, ibCol, cosine). */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, iaCol: String = "ia", ibCol: String = "ib"): DataFrame = {
    val weighted = TextAnalysis.tfidfWeights(docs, idCol, textCol)
    val vecs = weighted.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("v"))
      .select(col("id"), col("v"),
        sqrt(aggregate(col("v"), lit(0.0),
          (acc, s) => acc + s.getField("w") * s.getField("w"))).as("nrm"))
    val va = vecs.select(col("id").as(iaCol), col("v").as("__va"),
      col("nrm").as("__na"))
    val vb = vecs.select(col("id").as(ibCol),
      map_from_entries(col("v")).as("__mb"), col("nrm").as("__nb"))
    pairs.select(col(iaCol), col(ibCol))
      .join(va, iaCol).join(vb, ibCol)
      .select(col(iaCol), col(ibCol),
        (aggregate(col("__va"), lit(0.0), (acc, s) =>
          acc + coalesce(element_at(col("__mb"), s.getField("term")), lit(0.0)) *
            s.getField("w")) / (col("__na") * col("__nb"))).as("cosine"))
  }

  /** SoftTFIDF (Cohen-Ravikumar-Fienberg 2003) hybrid pair scorer — the
    * classic record-linkage compromise between token-level TF-IDF cosine
    * (brittle to typos: "smyth" ≠ "smith" contributes nothing) and
    * char-level Jaro-Winkler (blind to token importance): for every
    * a-token whose BEST Jaro-Winkler match among b's tokens clears θ, add
    * `v(t_a,a) · v(t_b,b) · jw(t_a,t_b)` where v is the L2-normalized
    * TF-IDF weight. Degenerates to exact TF-IDF cosine when all matches
    * are exact (jw = 1), and to 0 when no token pair clears θ (such pairs
    * emit NO row — absence of evidence, mirrored by the oracle).
    *
    * Weights reuse [[tfidfCosinePairs]]' log-free rational idf
    * `tf·(n+1)/(df+1)` so both scorers share one hash-exact weighting and
    * the oracle replays it without transcendental drift; the only
    * rounding is the norm sqrt, the v divisions, and the pinned
    * `(v_a · v_b) · jw` + term-ordered fold.
    *
    * Scale shape: corpus passes are the same map-side-combining tf/df
    * aggregates as [[tfidfCosinePairs]]; the per-pair token cross is
    * bounded by name length (|T_a|·|T_b| rows per candidate pair, ~25 for
    * person/org names — NOT corpus-quadratic); the argmax is a window
    * whose `= 1` filter sits directly above it (InferWindowGroupLimit
    * inserts the per-group top-1 limit before the shuffle). */
  def softTfIdfPairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, theta: Double, iaCol: String = "ia",
      ibCol: String = "ib"): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0,1], got $theta")
    val weighted = TextAnalysis.tfidfWeights(docs, idCol, textCol)
    // norm folded in the same term-sorted order as tfidfCosinePairs
    val norms = weighted
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("v"))
      .select(col("id"),
        sqrt(aggregate(col("v"), lit(0.0),
          (acc, s) => acc + s.getField("w") * s.getField("w"))).as("nrm"))
    val unit = weighted.join(norms, "id")
      .select(col("id"), col("term"), (col("w") / col("nrm")).as("v"))
    val ta = unit.select(col("id").as(iaCol), col("term").as("__ta"),
      col("v").as("__va"))
    val tb = unit.select(col("id").as(ibCol), col("term").as("__tb"),
      col("v").as("__vb"))
    val close = pairs.select(col(iaCol), col(ibCol))
      .join(ta, iaCol).join(tb, ibCol)
      .withColumn("__jw", when(col("__ta") === col("__tb"), lit(1.0))
        .otherwise(jaro_winkler_sim(col("__ta"), col("__tb"))))
      .where(col("__jw") >= lit(theta))
    val wBest = W.partitionBy(col(iaCol), col(ibCol), col("__ta"))
      .orderBy(col("__jw").desc, col("__tb"))
    val best = close.withColumn("__rn", row_number().over(wBest))
      .where(col("__rn") === 1)
      .select(col(iaCol), col(ibCol), col("__ta"),
        (col("__va") * col("__vb") * col("__jw")).as("__c"))
    best.groupBy(col(iaCol), col(ibCol))
      .agg(aggregate(sort_array(collect_list(struct(col("__ta"), col("__c")))),
        lit(0.0), (acc, s) => acc + s.getField("__c")).as("soft_tfidf"))
  }

  /** Two-corpus record linkage end-to-end: blocking join on `keyCol` +
    * composite JW+Dice scoring of `nameCol`, thresholded at `theta`.
    * Both inputs carry (idCol, nameCol, keyCol); ids need only be unique
    * within their own table. Output: (id_l, id_r, jw, dice, score ≥ θ);
    * `dropped` is [[crossCandidatePairs]]' record of over-cap keys. */
  def linkTables(left: DataFrame, right: DataFrame, idCol: String,
      nameCol: String, keyCol: String, theta: Double,
      bucketPairCap: Long = 1000000L): Capped = {
    val lk = left.select(col(idCol).as("id"), col(keyCol).as("key"))
    val rk = right.select(col(idCol).as("id"), col(keyCol).as("key"))
    val ln = left.select(col(idCol).as("id_l"), col(nameCol).as("__name_l"))
    val rn = right.select(col(idCol).as("id_r"), col(nameCol).as("__name_r"))
    crossCandidatePairs(lk, rk, bucketPairCap).map(p =>
      composite(p.join(ln, "id_l").join(rn, "id_r"), "id_l", "id_r",
        "__name_l", "__name_r").where(col("score") >= theta))
  }

  /** Symmetric best match over scored two-corpus pairs: keep (l, r) iff r
    * is l's highest-scoring candidate AND l is r's — the standard
    * one-to-one-leaning post-filter for A-vs-B linkage (a registry record
    * should not link to ten crawl pages just because ten cleared θ). Both
    * argmaxes are taken over the ORIGINAL scored set (not sequentially),
    * so the result is order-independent; ties break deterministically by
    * the opposite id, making the output partitioning-stable.
    *
    * Scale shape: each side is a `row_number` window with its `= 1`
    * filter directly above it, so InferWindowGroupLimit inserts a
    * per-group top-1 limit BEFORE each shuffle (one surviving row per key
    * leaves each map task); the final left-semi join is key-only. */
  def symmetricBestMatches(scored: DataFrame, leftId: String = "id_l",
      rightId: String = "id_r", scoreCol: String = "score"): DataFrame = {
    val wl = W.partitionBy(col(leftId))
      .orderBy(col(scoreCol).desc, col(rightId))
    val wr = W.partitionBy(col(rightId))
      .orderBy(col(scoreCol).desc, col(leftId))
    val bestPerLeft = scored.withColumn("__rn", row_number().over(wl))
      .where(col("__rn") === 1).drop("__rn")
    val bestPerRight = scored.withColumn("__rn", row_number().over(wr))
      .where(col("__rn") === 1)
      .select(col(leftId), col(rightId))
    bestPerLeft.join(bestPerRight, Seq(leftId, rightId), "left_semi")
  }

  /** Greedy one-to-one matching over scored two-corpus pairs — the full
    * unique-mapping assignment, strictly stronger than
    * [[symmetricBestMatches]] (which keeps only the FIRST mutual-best
    * layer and discards every record whose best candidate was claimed by
    * someone better). Semantically: sort all pairs by
    * (score DESC, leftId, rightId) and accept each pair whose endpoints
    * are both still free — the classic sequential greedy weighted
    * bipartite matching every record-linkage toolkit ships as its 1:1
    * decision rule.
    *
    * Distributed formulation: a pair is LOCALLY DOMINANT when it is the
    * best surviving pair for BOTH its endpoints under the same total
    * order; accepting all locally-dominant pairs simultaneously, removing
    * their endpoints, and repeating yields EXACTLY the sequential greedy
    * matching (the locally-dominant-edge theorem: the order pairs are
    * accepted in never changes the greedy result, only the round they
    * land in). Each round is one [[symmetricBestMatches]] call — whose
    * per-partition tie-breaks (score DESC, opposite id) coincide with the
    * global total order within each endpoint partition — plus two
    * key-only anti-joins; rounds shrink geometrically on real score
    * distributions (expected O(log n)), while an adversarial descending
    * chain a₁>b₁>a₂>b₂>… serializes to O(chain length) rounds — that cost
    * is inherent to greedy semantics, not this formulation (each accepted
    * pair must be known before the next domino falls). GreedyMatchSpec
    * pins parallel ≡ sequential on random and adversarial inputs.
    *
    * Scale shape: every round's windows carry InferWindowGroupLimit
    * per-group top-1 limits before their shuffles (inherited from
    * [[symmetricBestMatches]]); survivors shrink monotonically and each
    * round is lineage-truncated, so cost ∝ surviving pairs, never the
    * original corpus. Scores must be non-null and non-NaN.
    *
    * @return (leftId, rightId, scoreCol) — the greedy matching. */
  def greedyMatches(scored: DataFrame, leftId: String = "id_l",
      rightId: String = "id_r", scoreCol: String = "score",
      maxIter: Int = 1000): DataFrame = {
    val spark = scored.sparkSession
    // round state: the count probe, the finish and the round's joins
    var cur = Frames.shared(
      scored.select(col(leftId), col(rightId), col(scoreCol)))
    var matched = cur.limit(0)

    // Driver finish ([[DriverFinish]]): the rounds are proven equal to the
    // sequential greedy scan, so once the surviving pairs fit, one replay
    // of the pinned order (score DESC, leftId, rightId; accept when both
    // endpoints are free) computes the same matching without the tail of
    // rounds (two windows, two anti-joins and a probe action each).
    val driverCap = DriverFinish.cap(spark, "greedy.driverFinishEdges")
    import DriverFinish.{Asc, Desc}
    val order = DriverFinish.rowOrdering(cur.schema,
      scoreCol -> Desc, leftId -> Asc, rightId -> Asc)

    def sequentialFinish(df: DataFrame): DataFrame = {
      // a round's anti-joins move their key column first, so restore the
      // (leftId, rightId, scoreCol) positions `order` and `matched` use
      val pairs = df.select(col(leftId), col(rightId), col(scoreCol))
      val usedL = new java.util.HashSet[Any]()
      val usedR = new java.util.HashSet[Any]()
      val fired = pairs.collect().sorted(order.get).filter { r =>
        val free = !usedL.contains(r.get(0)) && !usedR.contains(r.get(1))
        if (free) { usedL.add(r.get(0)); usedR.add(r.get(1)) }
        free
      }
      DriverFinish.frame(spark, pairs.schema, fired.toSeq)
    }

    var iter = 0
    var drained = false
    var finished = false
    while (!drained && !finished && iter < maxIter) {
      val n = cur.count() // doubles as the drain probe and the cap check
      if (n == 0L) drained = true
      else if (order.isDefined &&
          DriverFinish.fitsHashed(cur, Seq(leftId, rightId), driverCap, n)) {
        matched = matched.union(sequentialFinish(cur))
        finished = true
      } else {
        // feeds the matching and both anti-joins
        val best = Frames.shared(
          symmetricBestMatches(cur, leftId, rightId, scoreCol))
        matched = matched.union(best)
        cur = Frames.shared(cur
          .join(best.select(col(leftId)), Seq(leftId), "left_anti")
          .join(best.select(col(rightId)), Seq(rightId), "left_anti"))
        iter += 1
      }
    }
    // progress is guaranteed (the globally best surviving pair is always
    // locally dominant), so non-drained means maxIter was undersized for
    // an adversarial chain — fail loudly rather than return a partial
    // matching that silently violates the greedy contract
    require(drained || finished,
      s"greedyMatches did not drain in $maxIter rounds")
    matched
  }

  /** Group linkage (On, Koudas, Srivastava, Velegrakis — "Group Linkage",
    * ICDE 2007): similarity between two GROUPS of records (households,
    * author publication sets, product listings) = the normalized weight
    * of a one-to-one matching between their members,
    *
    *   sim(A, B) = Σ_{(a,b) ∈ M} s(a, b) / (|A| + |B| − |M|)
    *
    * — Jaccard with a fractional intersection: the matched mass replaces
    * |A ∩ B|. The paper's exact form uses the MAXIMUM bipartite matching;
    * this implementation pins the GREEDY matching (the paper's own
    * scalable approximation, ≥ 1/2 the optimal weight): one
    * [[greedyMatches]] call over member ids scoped to their group pair,
    * struct(ga, gb, rl) and struct(ga, gb, rr). Group pairs share no
    * scoped endpoint, so all of them progress in the same rounds (and the
    * same driver finish), each matched exactly as the sequential greedy
    * scan of its own candidates in (score DESC, rl, rr) order. Records
    * with a null group id belong to no group and are left out.
    *
    * @param left    (gidCol, ridCol) group membership, side A
    * @param right   (gidCol, ridCol) group membership, side B
    * @param scored  (leftIdCol, rightIdCol, scoreCol) member-pair scores —
    *                the CANDIDATE set (a record pair absent here
    *                contributes nothing and cannot match); pre-threshold
    *                it so scores are meaningful
    * @return one row per group pair with ≥ 1 candidate:
    *         (ga, gb, n_l, n_r, n_matched, matched_sum, sim).
    *         `matched_sum` is an ORDERED left fold over the
    *         (rl, rr)-sorted matched list — partition-independent, so the
    *         frame is hash-reproducible. */
  def groupLinkage(left: DataFrame, right: DataFrame, scored: DataFrame,
      gidCol: String = "gid", ridCol: String = "rid",
      leftIdCol: String = "id_l", rightIdCol: String = "id_r",
      scoreCol: String = "score", maxIter: Int = 1000): DataFrame = {
    val l = left.select(col(gidCol).as("ga"), col(ridCol).as("rl"))
      .where(col("ga").isNotNull)
    val r = right.select(col(gidCol).as("gb"), col(ridCol).as("rr"))
      .where(col("gb").isNotNull)
    // within one group pair, (s DESC, __l, __r) orders as (s DESC, rl, rr)
    val cand = scored.select(col(leftIdCol).as("rl"),
        col(rightIdCol).as("rr"), col(scoreCol).cast("double").as("s"))
      .join(l, "rl").join(r, "rr")
      .select(struct(col("ga"), col("gb"), col("rl")).as("__l"),
        struct(col("ga"), col("gb"), col("rr")).as("__r"), col("s"))
    val matched = greedyMatches(cand, "__l", "__r", "s", maxIter)
      .select(col("__l.ga").as("ga"), col("__l.gb").as("gb"),
        col("__l.rl").as("rl"), col("__r.rr").as("rr"), col("s"))

    val sizesL = l.groupBy(col("ga")).agg(count(lit(1)).as("n_l"))
    val sizesR = r.groupBy(col("gb")).agg(count(lit(1)).as("n_r"))
    val perPair = matched.groupBy(col("ga"), col("gb")).agg(
      count(lit(1)).as("n_matched"),
      aggregate(
        array_sort(collect_list(struct(col("rl"), col("rr"), col("s")))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("matched_sum"))
    perPair.join(sizesL, "ga").join(sizesR, "gb")
      .select(col("ga"), col("gb"), col("n_l"), col("n_r"),
        col("n_matched"), col("matched_sum"),
        (col("matched_sum") /
          (col("n_l") + col("n_r") - col("n_matched")).cast("double"))
          .as("sim"))
  }

  /** Common-neighbor link prediction over BIPARTITE evidence — the
    * collective-linkage signal textual comparators can't see: two entity
    * records that share many relational neighbors (suppliers shipping the
    * same parts, accounts touching the same devices, authors on the same
    * papers) are match candidates even when their names disagree. Input is
    * the (entity, neighbor) edge table; output is one row per entity pair
    * with ≥ `minCommon` shared neighbors:
    *
    *  - `common_neighbors` — |Γ(a) ∩ Γ(b)|, the raw count;
    *  - `neighborhood_jaccard` — |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|, the
    *    degree-normalized variant (a pair sharing 5 of 6 neighbors
    *    outranks one sharing 5 of 500).
    *
    * Scale shape: edges are distinct-ed once, then pairs are generated BY
    * NEIGHBOR under the three-tier policy of [[Tiers]] — a hub neighbor (a
    * commodity part every supplier ships) is exactly the hot-bucket shape
    * that melts a reducer, so neighbors over `bucketCap` route through the
    * salted grid (lossless) and neighbors over `hardCap` are dropped
    * (opt-in, default lossless; `dropped` is their (nb, n) — hubs carry
    * little identity signal anyway, which is why capping them is the
    * standard move). The per-pair count then needs NO intersection
    * recomputation: each surviving (neighbor, pair) row contributes 1 to
    * one map-side-combinable groupBy, and degrees join back on the entity
    * key. Σ common over all pairs = Σ_nb n·(n−1)/2, so hub capping is
    * also the volume-observability story. */
  def commonNeighborPairs(edges: DataFrame, entityCol: String,
      neighborCol: String, minCommon: Long = 1L, bucketCap: Int = 1000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped = {
    val (pairs, deg) = neighborPairs(edges, entityCol, neighborCol,
      minCommon, bucketCap, hardCap, saltGroups, payload = Nil)
    pairs.map(_
      .groupBy(col("id_a").as("url_a"), col("id_b").as("url_b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .where(col("common_neighbors") >= minCommon)
      .join(deg.select(col("id").as("url_a"), col("__deg").as("__da")), "url_a")
      .join(deg.select(col("id").as("url_b"), col("__deg").as("__db")), "url_b")
      .select(col("url_a"), col("url_b"), col("common_neighbors"),
        (col("common_neighbors").cast("double") /
          (col("__da") + col("__db") - col("common_neighbors"))
            .cast("double")).as("neighborhood_jaccard")))
  }

  /** Adamic-Adar weighting for the same pairs — Σ_{z ∈ Γ(a)∩Γ(b)}
    * 1/ln(deg z): rare shared neighbors count more than hubs. ln() is
    * libm-dependent across engines, so this face is spec-pinned in sbt
    * (vs hand-computed fixtures), never hash-gate-faced — gate on
    * [[commonNeighborPairs]] instead. Neighbors of degree 1 appear in no
    * pair; degree-2+ gives ln ≥ ln 2 > 0, so the division is safe. Hubs
    * over `hardCap` are dropped as in [[commonNeighborPairs]]. */
  def adamicAdarPairs(edges: DataFrame, entityCol: String,
      neighborCol: String, minCommon: Long = 1L, bucketCap: Int = 1000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped = {
    // the neighbor degree rides along as payload
    val (pairs, _) = neighborPairs(edges, entityCol, neighborCol,
      minCommon, bucketCap, hardCap, saltGroups, payload = Seq("n"))
    pairs.map(_
      .groupBy(col("id_a").as("url_a"), col("id_b").as("url_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("n_a").cast("double"))).as("adamic_adar"))
      .where(col("common_neighbors") >= minCommon))
  }

  /** The body [[commonNeighborPairs]] and [[adamicAdarPairs]] share:
    * ([[Tiers.pairs]] of entities by shared neighbor, one row per pair per
    * shared neighbor, with `payload`, and the drop record; the degrees). */
  private def neighborPairs(edges: DataFrame, entityCol: String,
      neighborCol: String, minCommon: Long, bucketCap: Int, hardCap: Int,
      saltGroups: Int, payload: Seq[String]): (Capped, DataFrame) = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // The distinct edge frame fans out to up to FIVE consumers (deg, sized,
    // the eligibility join, and commonNeighborPairs' two final degree
    // joins); for winnowing/CDC callers each would re-run the full sha256
    // fingerprint pass.
    val e = Frames.shared(edges
      .select(col(entityCol).as("id"), col(neighborCol).as("nb"))
      .where(col("id").isNotNull && col("nb").isNotNull)
      .distinct())
    val deg = e.groupBy(col("id")).agg(count(lit(1)).as("__deg"))
    val sized = Tiers.sizes(e, Seq("nb"))
    // A pair's common-neighbor count is bounded by min(deg_a, deg_b), so
    // entities with deg < minCommon cannot appear in the output: drop them
    // BEFORE pair generation (provably lossless — the final
    // `common_neighbors >= minCommon` filter would discard every pair they
    // touch anyway). Tier routing and the dropped-bucket record stay on the
    // UNFILTERED bucket sizes (`sized` above), so which buckets are
    // cold/salted/dropped is unchanged — only ineligible members leave the
    // buckets. On high-minCommon workloads (shared-span winnowing) this
    // shrinks the quadratic bucket explosion by orders of magnitude.
    val eligible =
      if (minCommon > 1L)
        e.join(deg.where(col("__deg") >= minCommon).select(col("id")), "id")
      else e
    (Tiers.pairs(eligible, Seq("nb"), "id", bucketCap, hardCap, saltGroups,
        payload, sized = Some(sized)), deg)
  }

  /** Candidate-pair PROVENANCE across blocking key families — the audit
    * answering "which scheme found this pair": given multi-family key
    * assignments (family, key, url), emit each candidate pair once with
    * the SORTED set of families that produced it and the number of
    * (family, key) blocks it co-occurred in. The view that justifies
    * keeping (or retiring) a blocking family: a family whose pairs are
    * all co-covered elsewhere is pure cost.
    *
    * Per-(family, key) blocks over `bucketCap` are excluded (the cold
    * tier's own rule — provenance describes the pairs the pipeline would
    * actually generate); feed hot families through [[candidatePairs]]'
    * salted tiers separately if their pairs matter. Shapes: [[Tiers.pairs]]
    * with `hardCap = bucketCap` (its cold tier only) on (family, key)
    * blocks, one pair-keyed groupBy whose collect_set is bounded by the
    * family count (sorted and comma-joined — a flat string, pinned order,
    * hash-reproducible and join-friendly downstream). */
  def pairProvenance(keys: DataFrame, bucketCap: Int = 200,
      familyCol: String = "family", keyCol: String = "key",
      idCol: String = "url"): DataFrame = {
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    Tiers.pairs(keys.select(col(familyCol), col(keyCol), col(idCol)),
        Seq(familyCol, keyCol), idCol, bucketCap, hardCap = bucketCap,
        saltGroups = 1, payload = Seq(familyCol)).out
      .groupBy(col(s"${idCol}_a").as("url_a"), col(s"${idCol}_b").as("url_b"))
      .agg(array_join(sort_array(collect_set(col(s"${familyCol}_a"))), ",")
        .as("families"), count(lit(1)).as("n_keys"))
  }

  /** Pairwise precision/recall/F1 of predicted match pairs vs labeled true
    * pairs, both restricted to candidate pairs (= pairs sharing a blocking
    * key, per BASELINE.json:2,14). */
  def pairwiseF1(predicted: DataFrame, labeled: DataFrame,
      candidates: DataFrame): (Double, Double, Double) = {
    val cand = candidates.select(col("url_a"), col("url_b"))
    val truePairs = labeled.join(cand, Seq("url_a", "url_b"), "left_semi")
    val pred = predicted.select(col("url_a"), col("url_b"))
    val tp = pred.join(truePairs, Seq("url_a", "url_b"), "left_semi").count().toDouble
    val fp = pred.join(truePairs, Seq("url_a", "url_b"), "left_anti").count().toDouble
    val fn = truePairs.join(pred, Seq("url_a", "url_b"), "left_anti").count().toDouble
    val precision = if (tp + fp == 0) 1.0 else tp / (tp + fp)
    val recall = if (tp + fn == 0) 1.0 else tp / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    (precision, recall, f1)
  }

  /** Deterministic decision-rule cascade — the rule-based half of a
    * production linkage (the NHS-number-then-demographics pattern):
    * an ORDERED list of named match rules is evaluated per candidate
    * pair and the FIRST rule that fires decides the pair, carrying its
    * name and 1-based rank as provenance. Pairs no rule accepts are
    * dropped (they fall through to the probabilistic scorer — this is
    * the deterministic pre-pass, not the whole decision).
    *
    * The cascade compiles to ONE when-chain projection (first-match-wins
    * is exactly WHEN's evaluation order), so however many rules are
    * stacked, the pass stays a single whole-stage-codegen map over the
    * pair frame — no per-rule scan, no shuffle, and Catalyst pushes the
    * chain below any later join the caller adds. Rule predicates are
    * arbitrary Columns over the pair frame (kernel similarities,
    * [[Comparators]] levels, phonetic keys — anything codegen'd).
    *
    * @param rules (name, predicate), strongest/cheapest first; names
    *              must be unique and non-empty.
    * @return the input columns + (rule, rule_rank) for accepted pairs. */
  def ruleCascade(pairs: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "ruleCascade needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size &&
      rules.forall(_._1.nonEmpty),
      s"rule names must be unique and non-empty, got ${rules.map(_._1)}")
    val rank = rules.zipWithIndex.reverse.foldLeft(lit(null).cast("long")) {
      case (acc, ((_, pred), i)) => when(pred, lit(i + 1L)).otherwise(acc)
    }
    val name = rules.zipWithIndex.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, ((n, _), i)) => when(col("rule_rank") === (i + 1L), lit(n))
        .otherwise(acc)
    }
    pairs.withColumn("rule_rank", rank)
      .where(col("rule_rank").isNotNull)
      .withColumn("rule", name)
  }

  /** Cluster repair from reviewer decisions — the write-back half of the
    * human-in-the-loop workflow ([[FellegiSunter.uncertaintySample]]
    * produces the review queue; this applies its verdicts to an existing
    * assignment without re-running the whole pipeline). Pinned,
    * order-free semantics:
    *
    *  1. MUST-LINK: clusters merge transitively — connected components
    *     over the assignment's star edges (id → cluster_id) plus the
    *     must edges ([[ConnectedComponents]] min-id roots).
    *  2. CANNOT-LINK: for every cannot pair whose endpoints land in the
    *     same merged cluster, the LARGER id is EVICTED to a singleton.
    *     One pass suffices and is order-free: eviction targets are a
    *     pure function of the merged assignment (every violated pair
    *     loses its max side; a singleton cannot violate anything).
    *  3. Survivors relabel to the min surviving id of their cluster
    *     (evictions can remove a cluster's old root).
    *
    *  A pair present in BOTH constraint sets fails loudly — that is a
    *  data bug upstream, not a tie to break silently. Cannot-links that
    *  would contradict must-links TRANSITIVELY (a≡b merged via must,
    *  a≢b via cannot) also fail loudly: silently evicting one side of an
    *  explicit must-link lies to the reviewer.
    *
    * Shapes: the audited CC plan over (corpus star edges + review-sized
    * must edges), two review-sized joins for the cannot check, one
    * min-per-cluster groupBy + join-back for the relabel. */
  def clusterRepair(assignment: DataFrame, mustLink: DataFrame,
      cannotLink: DataFrame, idCol: String = "id",
      clusterCol: String = "cluster_id",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val asg = assignment.select(col(idCol).as("__id"),
      col(clusterCol).as("__c"))
    val must = mustLink.select(least(col(aCol), col(bCol)).as("la"),
      greatest(col(aCol), col(bCol)).as("lb")).where(col("la") =!= col("lb"))
      .distinct()
    val cannot = cannotLink.select(least(col(aCol), col(bCol)).as("la"),
      greatest(col(aCol), col(bCol)).as("lb")).where(col("la") =!= col("lb"))
      .distinct()
    require(must.join(cannot, Seq("la", "lb"), "left_semi").isEmpty,
      "clusterRepair: the same pair appears in mustLink AND cannotLink")

    // 1. merge: CC over star edges + must edges (min-id roots); ids not
    // touched by any edge keep their own component implicitly
    val starEdges = asg.where(col("__id") =!= col("__c"))
      .select(col("__id").as("la"), col("__c").as("lb"))
    val comp = ConnectedComponents.run(starEdges.union(must))
      .withColumnRenamed("component", "__m")
    val merged = asg.join(comp.withColumnRenamed("id", "__id"),
        Seq("__id"), "left")
      .select(col("__id"), coalesce(col("__m"), col("__id")).as("__m"))

    // explicit-contradiction guard: a cannot pair merged by MUST edges
    // alone (not by the pre-existing assignment) is reviewer self-
    // contradiction — check against CC over must edges only
    val mustComp = ConnectedComponents.run(must)
      .withColumnRenamed("component", "__mc")
    val mustSide = mustComp.withColumnRenamed("id", "la")
      .withColumnRenamed("__mc", "mca")
    val mustSideB = mustComp.withColumnRenamed("id", "lb")
      .withColumnRenamed("__mc", "mcb")
    require(cannot.join(mustSide, Seq("la"), "left")
      .join(mustSideB, Seq("lb"), "left")
      .where(col("mca").isNotNull && col("mca") === col("mcb")).isEmpty,
      "clusterRepair: a cannotLink pair is transitively must-linked")

    // 2. evict the larger side of every violated cannot pair
    val ma = merged.select(col("__id").as("la"), col("__m").as("ma"))
    val mb = merged.select(col("__id").as("lb"), col("__m").as("mb"))
    val evicted = cannot.join(ma, "la").join(mb, "lb")
      .where(col("ma") === col("mb"))
      .select(col("lb").as("__id")).distinct()

    // 3. relabel survivors to the min surviving id per merged cluster
    val survivors = merged.join(evicted, Seq("__id"), "left_anti")
    val roots = survivors.groupBy(col("__m")).agg(min(col("__id")).as("__r"))
    survivors.join(roots, "__m")
      .select(col("__id").as(idCol), col("__r").as(clusterCol))
      .union(evicted.select(col("__id").as(idCol),
        col("__id").as(clusterCol)))
  }
}
