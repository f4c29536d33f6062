package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prefix-filtered set-similarity self-join — the sub-quadratic scale path
  * for token-set Jaccard candidate generation, complementing
  * [[Dedup.minhashLshPairs]] (probabilistic, tunable recall) with an EXACT
  * join: every pair with Jaccard >= tau is returned, none missed.
  *
  * The algorithm is the published prefix-filter family (Chaudhuri, Ganti &
  * Kaushik, ICDE'06; Bayardo et al. "All Pairs", WWW'07; distributed
  * formulation: Vernica, Carey & Li, SIGMOD'10): order every record's
  * distinct tokens by ascending global document frequency (rarest first,
  * ties by token string — a deterministic total order), keep only the
  * first |x| - ceil(tau*|x|) + 1 tokens as the record's PREFIX, and join
  * records on shared prefix tokens. Any pair with Jaccard >= tau must
  * share at least ceil(tau*max(|x|,|y|)) tokens, so its prefixes cannot be
  * disjoint — candidates outside the prefix join are provably below tau.
  * Rarest-first ordering is what makes the join sub-quadratic: prefix
  * buckets are keyed by the corpus's RARE tokens, so bucket sizes track
  * token rarity, not corpus size.
  *
  * 100 TB shape: one map-side-combinable groupBy for token frequencies,
  * one AQE-skew-splittable equi-join to attach them, one groupBy(id) to
  * order each record's tokens, an equi-self-join on prefix tokens (small
  * buckets by construction), a distinct over surviving candidates, and two
  * primary-key joins back to the token sets for exact verification.
  * Nothing collects to the driver; no step is quadratic in the corpus.
  * Residual hot prefix tokens (degenerate corpora — e.g. near-duplicate
  * boilerplate where even the "rarest" token of many records is shared)
  * get the three-tier policy of [[Tiers]] (dropping opt-in; each join
  * returns [[Capped]], whose `dropped` lists the over-cap buckets).
  */
object SetSimJoin {

  /** (id, sorted distinct tokens, len) base frame of the Jaccard and
    * containment joins. Token-less records carry no signal and are
    * excluded (exact dedup owns them). */
  private def base(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(
      col(idCol).as("id"),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("len", size(col("toks")))
      .where(col("len") > 0)

  /** (tok, id, len, pos) prefix rows: each record's |x| - ceil(tau*|x|)
    * + 1 globally-rarest tokens, with `pos` = the token's 1-based rank in
    * the record's FULL rarity order (the PPJoin positional filter reads
    * it). The ceil subtracts 1e-9 first so a tau*len that is
    * mathematically integral but rounds a hair high in binary (e.g.
    * 0.95*20) cannot shorten the prefix below the provable bound — the
    * slack only ever ADMITS candidates, never loses one. */
  private def prefixRows(b: DataFrame, tau: Double): DataFrame = {
    val exploded = b.select(col("id"), col("len"), explode(col("toks")).as("tok"))
    val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = exploded.join(freq, "tok")
      .groupBy(col("id"), col("len"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
    val pLen = (col("len") - ceil(col("len") * lit(tau) - lit(1e-9)) + 1).cast("int")
    ordered
      .select(col("id"), col("len"),
        posexplode(slice(transform(col("ord"), s => s.getField("tok")), lit(1), pLen)))
      .select(col("id"), col("len"), col("col").as("tok"),
        (col("pos") + 1).as("pos"))
  }

  /** Exact token-set Jaccard >= tau self-join: (ia, ib, jaccard) with
    * ia < ib, complete (no pair >= tau missed) unless a finite `hardCap`
    * is set — in which case `dropped` records exactly which (tok, n)
    * prefix buckets were excluded.
    *
    * The length filter (min len >= tau * max len, a necessary condition
    * for Jaccard >= tau) prunes candidates BEFORE the distinct, so the
    * dedup shuffle never carries pairs the verifier would discard on
    * cardinality alone; like the prefix bound it is epsilon-relaxed so
    * binary rounding can only admit, never prune, a qualifying pair. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, bucketCap: Int = 10000, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16): Capped = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    // tokenization feeds the prefix derivation AND both verification sides
    val b = Frames.shared(base(docs, idCol, textCol))
    jaccardCandidates(b, tau, bucketCap, hardCap, saltGroups).map(_
      .join(b.select(col("id").as("ia"), col("toks").as("ta")), "ia")
      .join(b.select(col("id").as("ib"), col("toks").as("tb")), "ib")
      .select(col("ia"), col("ib"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= tau))
  }

  /** Spec window into the candidate set (pre-verification). */
  private[operators] def jaccardCandidatesFor(docs: DataFrame, idCol: String,
      textCol: String, tau: Double, bucketCap: Int = 10000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): DataFrame =
    jaccardCandidates(base(docs, idCol, textCol), tau, bucketCap, hardCap,
      saltGroups).out

  /** Deduped (ia, ib) candidates surviving the prefix, length, and
    * POSITIONAL filters — exposed `private[operators]` so the spec can
    * pin the positional filter's candidate reduction.
    *
    * Positional filter (the PPJoin refinement, Xiao et al. 2008, lossless):
    * for a candidate pair, take its FIRST shared prefix token in the
    * global rarity order — the token minimizing the in-record positions
    * (i, j) (positions are order-consistent, so min i and min j name the
    * same token, even across tiers). Everything before it on both sides is
    * pairwise disjoint (anything shared earlier would itself be a shared
    * prefix token), so overlap <= 1 + min(|x|-i, |y|-j); prune when that
    * bound cannot reach the Jaccard overlap requirement
    * ceil(tau/(1+tau)·(|x|+|y|)) (epsilon-relaxed — only ever admits).
    * The dedup shuffle this rides on (groupBy replacing the former
    * distinct) was already being paid. `dropped` is the (tok, n) prefix
    * buckets over `hardCap`. */
  private[operators] def jaccardCandidates(b: DataFrame, tau: Double,
      bucketCap: Int, hardCap: Int, saltGroups: Int): Capped = {
    // the prefix frame feeds the sizing aggregate AND the join-back
    val pre = Frames.shared(prefixRows(b, tau))
    val lenOk = least(col("la"), col("lb")).cast("double") >=
      lit(tau) * greatest(col("la"), col("lb")).cast("double") - lit(1e-9)
    // A pair can share SEVERAL prefix tokens (and meet in both tiers via
    // different tokens): ONE groupBy both dedups candidates and finds the
    // first shared token's positions for the positional filter.
    val alpha = ceil((lit(tau) / (1.0 + tau)) *
      (col("la") + col("lb")).cast("double") - lit(1e-9))
    Tiers.pairs(pre, Seq("tok"), "id", bucketCap, hardCap, saltGroups,
        payload = Seq("len", "pos"))
      .map(_.select(col("id_a").as("ia"), col("id_b").as("ib"),
          col("len_a").as("la"), col("len_b").as("lb"),
          col("pos_a").as("pa"), col("pos_b").as("pb"))
        .where(lenOk)
        .groupBy(col("ia"), col("ib"))
        .agg(min(col("la")).as("la"), min(col("lb")).as("lb"),
          min(col("pa")).as("i"), min(col("pb")).as("j"))
        .where(lit(1) + least(col("la") - col("i"), col("lb") - col("j")) >= alpha)
        .select(col("ia"), col("ib")))
  }

  // ------------------------------------------------------------- Ed-Join

  /** Exact edit-distance similarity self-join via positional-q-gram
    * prefix filtering (Gravano et al. VLDB'01 count bound; Xiao, Wang &
    * Lin's Ed-Join refinement of the prefix idea): returns every pair
    * with levenshtein(x, y) <= k, none missed, as (ia, ib, dist).
    *
    * Bound: one edit destroys at most q of a string's |x|-q+1 positional
    * q-grams, so ed(x,y) <= k forces the MULTISETS of q-grams to share
    * at least max(|x|,|y|)-q+1 - q·k elements. Multisets are encoded as
    * (gram, occurrence-index) elements — an exact set encoding, so the
    * same prefix lemma as [[prefixJaccardPairs]] applies with per-side
    * required overlap alpha = |grams(x)| - q·k: each record joins on its
    * q·k+1 globally-rarest (gram, occ) elements. Candidates then pass
    * the |len(x)-len(y)| <= k length filter BEFORE the distinct, and are
    * verified by the banded [[graft.functions.levenshtein_capped]]
    * kernel (O(k·n) — its stated pipeline purpose).
    *
    * SHORT tier (exactness, not skew): a pair can evade the gram bound
    * only when max(|x|,|y|)-q+1 <= q·k, i.e. BOTH strings are shorter
    * than q(k+1) code points — for (q=2, k=1) that is length <= 3. Those
    * strings join in one salted-grid tier of their own (lossless,
    * skew-sharded; the class is tiny for any name/url field and its
    * size is observable via [[shortStrings]]).
    *
    * 100 TB shape: positional grams explode map-side; occurrence indexes
    * and per-record rarest-first prefixes are windows partitioned by
    * (id, gram) / id — both bounded by ONE record's gram count, never by
    * corpus or bucket size; the prefix-element join has rarity-sized
    * buckets ([[Tiers]] policy, `dropped` lists the over-cap (g, occ, n)
    * buckets); the
    * only all-candidate shuffle is the dedup distinct, fed post-length-
    * filter; verification is two primary-key joins + the banded kernel. */
  def edJoinPairs(docs: DataFrame, idCol: String, strCol: String, k: Int,
      q: Int = 2, bucketCap: Int = 10000, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16): Capped = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(q >= 1, s"q must be >= 1, got $q")
    // feeds the prefix derivation, the short tier, and both verifications
    val b = Frames.shared(docs
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .where(col("s").isNotNull)
      .withColumn("len", length(col("s"))))
    // the (g, occ) prefix frame feeds the sizing aggregate AND the join-back
    val pre = Frames.shared(edPrefixRows(b, k, q))
    val gramPairs = Tiers.pairs(pre, Seq("g", "occ"), "id", bucketCap,
      hardCap, saltGroups, payload = Seq("len"))
    // short tier: strings the gram bound cannot cover — one bucket whose
    // members all take the salted grid (bucketCap 0, no finite hardCap)
    val shortPairs = Tiers.pairs(
      shortStrings(b, k, q).select(lit("short").as("key"), col("id"), col("len")),
      Seq("key"), "id", 0, Int.MaxValue, saltGroups, payload = Seq("len")).out
    // Verify BEFORE deduplicating (guide §2.3 "shuffle fewer bytes"):
    // measured at sf0.1, the candidate distinct removed only ~4% of rows
    // (912k → 870k) while paying a full shuffle of the raw candidate
    // volume; the banded O(k·n) kernel is cheap enough to run on the
    // duplicates, and the dedup shuffle then carries only the verified
    // survivors (orders of magnitude fewer). A pair reached via several
    // prefix elements verifies to the same distance, so distinct() on
    // (ia, ib, dist) returns the identical set.
    val verify = graft.functions.levenshtein_capped(col("sa"), col("sb"), k)
    gramPairs.map(_.union(shortPairs)
      .where(abs(col("len_a") - col("len_b")) <= k)
      .select(col("id_a").as("ia"), col("id_b").as("ib"))
      .join(b.select(col("id").as("ia"), col("s").as("sa")), "ia")
      .join(b.select(col("id").as("ib"), col("s").as("sb")), "ib")
      .select(col("ia"), col("ib"), verify.as("dist"))
      .where(col("dist") <= k)
      .distinct())
  }

  /** (g, occ, id, len) prefix elements: each record's q·k+1 globally-
    * rarest positional-q-gram multiset elements. Occurrence indexes come
    * from a window over (id, gram) — bounded by one record's gram count. */
  private def edPrefixRows(b: DataFrame, k: Int, q: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = b.where(col("len") >= q).select(col("id"), col("len"),
        posexplode(expr(s"transform(sequence(1, len - $q + 1), i -> substring(s, i, $q))")))
      .withColumnRenamed("col", "g")
    val occ = grams.withColumn("occ",
      row_number().over(Window.partitionBy(col("id"), col("g"))
        .orderBy(col("pos"))) - 1)
    val freq = occ.groupBy(col("g"), col("occ")).agg(count(lit(1)).as("df"))
    val ranked = occ.join(freq, Seq("g", "occ")).withColumn("rnk",
      row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("df"), col("g"), col("occ"))))
    ranked.where(col("rnk") <= q * k + 1)
      .select(col("g"), col("occ"), col("id"), col("len"))
  }

  /** Strings the Ed-Join gram bound cannot cover (len < q(k+1)): the
    * SHORT tier's membership, exposed so its size is observable. */
  def shortStrings(docs: DataFrame, k: Int, q: Int): DataFrame =
    docs.where(col("len") <= q * (k + 1) - 1)

  // --------------------------------------------------- containment join

  /** Exact token-set CONTAINMENT self-join: (ia, ib, containment_a,
    * containment_b, jaccard) with ia < ib, complete for
    * max(|A∩B|/|A|, |A∩B|/|B|) >= tau — Broder's second resemblance,
    * the asymmetric threshold [[Dedup.containmentPairs]] verifies inside
    * BLOCKS; this is the block-free exact variant, the containment
    * analogue of [[prefixJaccardPairs]].
    *
    * Why the Jaccard prefix trick does not transfer: the required
    * overlap tau·min(|A|,|B|) is a property of the PAIR, so a large
    * record cannot shorten its prefix by its own size — against a small
    * partner its requirement stays small. The classic exact shape
    * (overlap/containment-join literature; also LSH-Ensemble's
    * motivation) is therefore asymmetric: every record PROBES with its
    * own tau-prefix (rarest |r| − ceil(tau·|r|) + 1 tokens — correct
    * because the pair's overlap requirement never exceeds
    * ceil(tau·|r|) for the smaller record r, and at least one side of
    * every qualifying pair IS its smaller side), while every record
    * INDEXES under ALL its tokens (an inverted index — the price of
    * containment's asymmetry). Probe-prefix × full-index candidates
    * dedup on scalars, then two primary-key joins verify both exact
    * containments.
    *
    * 100 TB shape: probe volume = prefix rows (Jaccard-join sized);
    * index volume = one row per token occurrence (the same inverted
    * index a search engine shuffles); candidate cost concentrates in
    * high-df index tokens, routed by [[Tiers.probe]] on the INDEX
    * token's df (`dropped` lists the (tok, n) index tokens over
    * `hardCap`). */
  def prefixContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, tau: Double, bucketCap: Int = 10000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    // tokenization feeds the probes, the index, the masks and verification
    val b = Frames.shared(base(docs, idCol, textCol))
    // the prefix probes feed both the cold join and the hot-tier fan-out
    val probes = Frames.shared(prefixRows(b, tau)
      .select(col("tok"), col("id").as("qid")))
    val index = b.select(col("id"), explode(col("toks")).as("tok"))
    def candidates(prb: DataFrame, payload: Seq[String]): Capped =
      Tiers.probe(index, prb, Seq("tok"), "id", "qid", bucketCap, hardCap,
        saltGroups, payload)

    // DENSE-VOCABULARY fast path (optimization guide §2.3 "shuffle fewer
    // bytes" / §1.2 step 1): when the corpus vocabulary fits in 64
    // distinct tokens, every token set is EXACTLY a 64-bit mask —
    // |A∩B| = bit_count(mA & mB), |A| = bit_count(mA) — so the candidate
    // join can verify INLINE (popcount arithmetic, bit-identical
    // integers → bit-identical ratio doubles) and only QUALIFYING pair
    // rows reach the dedup shuffle. On a prefix-filter-hostile corpus
    // (tiny vocab ⇒ every token hot ⇒ candidates ≈ probes × df) this
    // cuts the dedup exchange from the full candidate volume to the
    // result volume. Vocabulary probing is one map-combinable distinct
    // collect of at most 65 tokens; vocab > 64 takes the general array
    // path below, identically.
    val probed = Tiers.sizes(index, Seq("tok")).select(col("tok"))
      .limit(65).collect()
    val vocab: Array[String] =
      if (probed.length <= 64) probed.map(_.getString(0)).sorted
      else Array.empty
    if (vocab.nonEmpty) {
      val bitOf = map(vocab.toIndexedSeq.zipWithIndex.flatMap { case (t, i) =>
        Seq(lit(t), lit(1L << i))
      }: _*)
      def maskOf(toks: Column): Column = aggregate(
        transform(toks, t => element_at(bitOf, t)),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
      // the mask frame feeds the probe join AND the candidate re-attach
      val bm = Frames.shared(b.select(col("id"), maskOf(col("toks")).as("m")))
      val probesM = probes.join(bm.select(col("id").as("qid"),
        col("m").as("mq")), "qid")
      val inter = expr("bit_count(mq & mi)")
      val la = expr("bit_count(mq)")
      val lb = expr("bit_count(mi)")
      // verify INLINE before the dedup shuffle; values are the exact
      // integer counts the array path produces, divided in the same order
      candidates(probesM, Seq("mq")).map(_
        .where(col("qid") =!= col("id"))
        .join(bm.select(col("id"), col("m").as("mi")), "id")
        .select(least(col("qid"), col("id")).as("ia"),
          greatest(col("qid"), col("id")).as("ib"),
          when(col("qid") < col("id"),
            inter.cast("double") / la.cast("double"))
            .otherwise(inter.cast("double") / lb.cast("double"))
            .as("containment_a"),
          when(col("qid") < col("id"),
            inter.cast("double") / lb.cast("double"))
            .otherwise(inter.cast("double") / la.cast("double"))
            .as("containment_b"),
          (inter.cast("double") /
            (la + lb - inter).cast("double")).as("jaccard"))
        .where(greatest(col("containment_a"), col("containment_b")) >= tau)
        .groupBy(col("ia"), col("ib"))
        .agg(max(col("containment_a")).as("containment_a"),
          max(col("containment_b")).as("containment_b"),
          max(col("jaccard")).as("jaccard")))
    } else candidates(probes, Nil).map(_
      .where(col("qid") =!= col("id"))
      .select(least(col("qid"), col("id")).as("ia"),
        greatest(col("qid"), col("id")).as("ib"))
      .distinct()
      .join(b.select(col("id").as("ia"), col("toks").as("ta")), "ia")
      .join(b.select(col("id").as("ib"), col("toks").as("tb")), "ib")
      .select(col("ia"), col("ib"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("ta")).cast("double")).as("containment_a"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("tb")).cast("double")).as("containment_b"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double"))
          .as("jaccard"))
      .where(greatest(col("containment_a"), col("containment_b")) >= tau))
  }
}
