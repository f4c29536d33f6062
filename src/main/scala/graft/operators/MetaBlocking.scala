package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Meta-blocking (Papadakis et al., "Meta-Blocking: Taking Entity
  * Resolution to the Next Level", TKDE 2014): restructure a redundancy-
  * positive block collection into a BLOCKING GRAPH — one weighted edge per
  * co-occurring record pair — and prune low-weight edges before any
  * pairwise scoring runs. At web scale this is the standard step between
  * blocking and scoring: multi-key blocking (normalized-url ∪ MinHash
  * bands ∪ phonetic keys, as in [[Linkage.candidateKeys]]) is deliberately
  * redundant, and the redundancy itself is evidence — pairs sharing MANY
  * blocks are far likelier matches than pairs sharing one, so dropping
  * single-block edges removes the bulk of the quadratic scoring bill while
  * keeping recall (every retained pair still reaches the scorer).
  *
  * Weighting schemes (both derived from integer co-occurrence counts, so
  * the edge frame is exactly reproducible regardless of partitioning):
  *  - CBS (Common Blocks Scheme): number of retained blocks the two
  *    records share — a 64-bit count.
  *  - JS (Jaccard Scheme): cbs / (|B_a| + |B_b| − cbs) over the records'
  *    retained-block counts — ONE exact int→double division per edge.
  * ARCS/ECBS are deliberately omitted: both fold floating-point terms
  * (1/‖b‖ sums, logs) across an order-undefined distributed aggregation,
  * so their results vary with partitioning — unacceptable for a pipeline
  * whose stages are checkpoint-replayable bit-for-bit.
  *
  * Pruning (WEP/WNP) compares integer weights by CROSS-MULTIPLICATION
  * (w · n ≥ Σw), never by a divided mean, so the cut is exact: no edge's
  * fate depends on double rounding.
  *
  * Scale shapes: the graph build pairs records under the three-tier
  * policy of [[Tiers]]; the weight fold is
  * one map-side-combining groupBy over (url_a, url_b); WEP adds one 1-row
  * broadcast cross join; WNP adds one node-sum groupBy + two equi-joins.
  * Nothing materializes per-block pair lists on a single reducer.
  */
object MetaBlocking {

  /** Build the blocking graph from a block collection `keys` with columns
    * (`idCol`, `keyCol`): one row per unordered co-occurring pair with
    * integer CBS and per-edge-exact JS weights.
    *
    * `out`: (url_a, url_b, cbs: long, blocks_a: long, blocks_b: long,
    * js: double) with url_a < url_b.
    *
    * Blocks are routed by [[Tiers]]. Blocks larger than `hardCap` are
    * dropped — `dropped` is their (key, n) — and do NOT count toward
    * blocks_a/b, so JS stays consistent with the graph it describes.
    * Each tier emits a pair exactly once per shared key, so CBS does not
    * depend on the tier (spec-pinned in MetaBlockingSpec). */
  def blockingGraph(keys: DataFrame, idCol: String = "url",
      keyCol: String = "key", bucketCap: Int = 200, hardCap: Int = 100000,
      saltGroups: Int = 16): Capped = {
    val k = keys.select(col(idCol).as("url"), col(keyCol).as("key"))
    // the block sizes route the pair tiers AND cut the block counts
    val sized = Tiers.sizes(k, Seq("key"))
    // one row PER SHARED KEY (no distinct!) — multiplicity IS the signal
    val tiered = Tiers.pairs(k, Seq("key"), "url", bucketCap, hardCap,
      saltGroups, sized = Some(sized))
    // per-record retained-block counts for the Jaccard scheme
    val ent = k.join(sized.where(col("n") <= hardCap), "key")
      .groupBy(col("url")).agg(count(lit(1)).as("nblocks"))
    tiered.map(_.groupBy(col("url_a"), col("url_b"))
      .agg(count(lit(1)).as("cbs"))
      .join(ent.select(col("url").as("url_a"), col("nblocks").as("blocks_a")), "url_a")
      .join(ent.select(col("url").as("url_b"), col("nblocks").as("blocks_b")), "url_b")
      .withColumn("js", col("cbs").cast("double") /
        (col("blocks_a") + col("blocks_b") - col("cbs")).cast("double"))
      .select(col("url_a"), col("url_b"), col("cbs"), col("blocks_a"),
        col("blocks_b"), col("js")))
  }

  /** Block Filtering (Papadakis et al., "Scaling Entity Resolution to
    * Large, Heterogeneous Data with Enriched Blocking", and the BLAST /
    * JedAI preprocessing stage): before any pair enumeration, drop each
    * RECORD from its largest blocks, keeping only its ⌈r · |B_i|⌉ smallest
    * ones (small blocks are the discriminative ones — a record's presence
    * in a huge block contributes pairs at near-zero precision). This cuts
    * the quadratic bill at the block-collection level, upstream of even
    * the blocking graph, and composes with [[blockingGraph]]: filter
    * first, build the graph on what survives.
    *
    * Deterministic by construction: blocks rank per record by
    * (cardinality ASC, key ASC) — an integer order with a pinned
    * tie-break — and the per-record budget ⌈r · n_i⌉ is applied by
    * integer cross-multiplication (rank ≤ ⌈n·num/den⌉ ⟺
    * n·num > (rank−1)·den), so no double ever decides a block's fate.
    *
    * Scale shape: one map-side-combining groupBy for block sizes, one
    * equi-join back, one groupBy for per-record block counts, one
    * per-record row_number window (a record holds a handful of keys —
    * the window partition is tiny by construction; the heavy skew lives
    * in the BLOCK dimension, which this never partitions by).
    *
    * @param ratioNum/@param ratioDen  the retain ratio r = num/den
    *        (default 1/2, the literature's standard setting).
    * Output: the filtered (idCol, keyCol) block collection. */
  def blockFilter(keys: DataFrame, idCol: String = "url",
      keyCol: String = "key", ratioNum: Int = 1, ratioDen: Int = 2): DataFrame = {
    require(ratioNum >= 1 && ratioDen >= 1 && ratioNum <= ratioDen,
      s"blockFilter needs 0 < num/den <= 1, got $ratioNum/$ratioDen")
    val k = keys.select(col(idCol).as("__id"), col(keyCol).as("__key"))
    val sized = k.groupBy(col("__key")).agg(count(lit(1)).as("__bn"))
    val keyed = k.join(sized, "__key")
    val cnt = k.groupBy(col("__id")).agg(count(lit(1)).as("__nb"))
    val win = W.partitionBy(col("__id")).orderBy(col("__bn"), col("__key"))
    keyed.join(cnt, "__id")
      .withColumn("__rn", row_number().over(win))
      // rank ≤ ⌈n·num/den⌉ by integer cross-multiplication — exact
      .where(col("__nb") * ratioNum > (col("__rn") - 1) * ratioDen)
      .select(col("__id").as(idCol), col("__key").as(keyCol))
  }

  /** Weighted Edge Pruning: keep edges whose integer weight is ≥ the
    * global mean weight. The mean is never materialized as a double —
    * the cut is `w · n_edges ≥ Σw` in 64-bit integer arithmetic (exact up
    * to Σw · n ≈ 2^63; at 10^12 records the retained edge count is capped
    * by blocking long before that bound matters). One count+sum aggregate
    * reduced to a single row, broadcast back over the edges. */
  def wepPrune(edges0: DataFrame, weightCol: String = "cbs"): DataFrame = {
    // the edge frame feeds the global aggregate AND the filtered scan
    val edges = Frames.shared(edges0)
    val tot = edges.agg(sum(col(weightCol)).as("__wsum"),
      count(lit(1)).as("__wcnt"))
    edges.crossJoin(broadcast(tot))
      .where(col(weightCol) * col("__wcnt") >= col("__wsum"))
      .drop("__wsum", "__wcnt")
  }

  /** Weighted Node Pruning (redundancy-positive variant): keep an edge if
    * its weight is ≥ the mean weight of EITHER endpoint's incident edges —
    * the per-node analogue of [[wepPrune]], which retains locally-strong
    * edges that a skewed global mean would cut. Same integer cross-
    * multiplication (`w · deg ≥ Σw_node`). Shapes: one groupBy over both
    * edge directions for the node sums, then two equi-joins back — all
    * map-side combinable, no windows. */
  def wnpPrune(edges0: DataFrame, weightCol: String = "cbs",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    // three consumers: both union directions and the join-back
    val edges = Frames.shared(edges0)
    val und = edges.select(col(aCol).as("__u"), col(weightCol).as("__w"))
      .union(edges.select(col(bCol).as("__u"), col(weightCol).as("__w")))
    val node = und.groupBy(col("__u"))
      .agg(sum(col("__w")).as("__nsum"), count(lit(1)).as("__ndeg"))
    edges
      .join(node.select(col("__u").as(aCol), col("__nsum").as("__nsum_a"),
        col("__ndeg").as("__ndeg_a")), aCol)
      .join(node.select(col("__u").as(bCol), col("__nsum").as("__nsum_b"),
        col("__ndeg").as("__ndeg_b")), bCol)
      .where(col(weightCol) * col("__ndeg_a") >= col("__nsum_a") ||
        col(weightCol) * col("__ndeg_b") >= col("__nsum_b"))
      .drop("__nsum_a", "__ndeg_a", "__nsum_b", "__ndeg_b")
  }

  /** Cardinality Node Pruning: keep an edge if it ranks in EITHER
    * endpoint's top-`k` incident edges by weight — the budgeted
    * alternative to the mean-based cuts, bounding downstream scoring to
    * ≤ k comparisons per record regardless of weight distribution
    * (Papadakis's CNP; the redundancy-positive OR keeps an edge either
    * side vouches for). Ties break deterministically by (weight desc,
    * opposite id asc), so the result is partitioning-stable.
    *
    * Scale shape: one both-directions projection, a per-node row_number
    * window with its `≤ k` filter DIRECTLY above it — Spark's
    * InferWindowGroupLimit inserts a per-group top-k limit BEFORE the
    * window's shuffle, so only k+ rows per node leave each map task —
    * then one left-semi join back. No global ordering anywhere (the
    * global-K CEP variant is deliberately omitted: a total order over
    * 10^12-scale edges is a single-reducer sort). */
  def cnpPrune(edges0: DataFrame, k: Int, weightCol: String = "cbs",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    require(k >= 1, s"cnpPrune needs k >= 1, got $k")
    // same three-consumer shape as [[wnpPrune]]
    val edges = Frames.shared(edges0)
    val und = edges.select(col(aCol).as("__u"), col(bCol).as("__v"),
        col(weightCol).as("__w"))
      .union(edges.select(col(bCol).as("__u"), col(aCol).as("__v"),
        col(weightCol).as("__w")))
    val win = W.partitionBy(col("__u")).orderBy(col("__w").desc, col("__v"))
    val kept = und.withColumn("__rn", row_number().over(win))
      .where(col("__rn") <= k)
      // back to canonical (a < b) orientation for the semi-join
      .select(least(col("__u"), col("__v")).as(aCol),
        greatest(col("__u"), col("__v")).as(bCol))
    edges.join(kept, Seq(aCol, bCol), "left_semi")
  }
}
