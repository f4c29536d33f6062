package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Canopy clustering (McCallum-Nigam-Ungar, KDD 2000) — cheap-metric
  * OVERLAPPING pre-blocking: visit records in a pseudo-random order; an
  * unremoved record becomes a canopy center, records within the TIGHT
  * threshold of it are removed from the candidate list, and records
  * within the LOOSE threshold join its canopy but stay on the list (so
  * one record can belong to several canopies — the overlap is the recall
  * hedge that distinguishes canopies from disjoint blocking). Expensive
  * scoring then runs only within canopies.
  *
  * Deterministic distributed replay of the sequential pass, built on two
  * facts about the visit order (the [[PivotClustering.rank]] LCG mix):
  *  - the CENTER set is exactly the greedy (lexicographically-first)
  *    maximal independent set of the tight graph — a record is skipped
  *    iff an earlier center is tight-adjacent — so
  *    [[PivotClustering.greedyMis]] computes it in O(log n) expected
  *    rounds;
  *  - record p leaves the candidate list at rank `removal(p)` = its own
  *    rank if p is a center, else the MINIMUM rank among its tight center
  *    neighbors (MIS maximality guarantees one exists); p belongs to the
  *    canopy of center c iff loose-sim(p,c) clears t1 AND
  *    rank(c) ≤ removal(p) (c was picked while p was still listed).
  * Both facts are pure joins/aggregates over the pair list — after the
  * MIS rounds, membership costs ONE join of the loose pairs against the
  * model-sized center set plus a broadcast-able removal-rank lookup.
  *
  * Similarity convention: higher = closer, so the TIGHT threshold is the
  * larger one (t2 ≥ t1), inverting the distance-space presentation of the
  * paper.
  */
object Canopy {

  /** @param pairs cheap-metric pairs (iaCol, ibCol, simCol); rows below
    *              t1Loose are ignored. Records appearing in NO loose pair
    *              are trivial singleton canopies — the caller unions
    *              them, matching [[ConnectedComponents.run]]'s
    *              isolated-node convention.
    * @return (id, canopy) membership rows — overlapping, self-membership
    *         included for every center. */
  def canopies(pairs: DataFrame, t1Loose: Double, t2Tight: Double,
      iaCol: String = "ia", ibCol: String = "ib", simCol: String = "sim",
      maxIter: Int = 60): DataFrame = {
    require(t2Tight >= t1Loose,
      s"tight threshold $t2Tight must be >= loose threshold $t1Loose (similarity space)")
    val half = pairs
      .select(col(iaCol).as("u"), col(ibCol).as("v"), col(simCol).as("s"))
      .where(col("u") =!= col("v") && col("s") >= t1Loose)
    // symmetric, deduped (max sim wins if the caller sent both directions);
    // feeds the node set, the tight graph and the loose claims
    val sym = Frames.shared(half
      .union(half.select(col("v").as("u"), col("u").as("v"), col("s")))
      .groupBy(col("u"), col("v")).agg(max(col("s")).as("s")))
    val nodes = sym.select(col("u").as("id")).distinct()
    val tight = sym.where(col("s") >= t2Tight).select(col("u"), col("v"))

    val centers = PivotClustering.greedyMis(tight, nodes, maxIter)

    // removal rank: centers leave the list when picked; non-centers when
    // their first (min-rank) tight center neighbor is picked
    val removalNonCenter = tight
      .join(centers.select(col("id").as("v"), col("rk").as("__crk")), "v")
      .groupBy(col("u")).agg(min(col("__crk")).as("__rem"))
      .select(col("u").as("id"), col("__rem"))
    val removal = centers.select(col("id"), col("rk").as("__rem"))
      .union(nodes
        .join(centers.select(col("id")), Seq("id"), "left_anti")
        .join(removalNonCenter, Seq("id")))

    val membership = sym
      .join(centers.select(col("id").as("v"), col("rk").as("__crk")), "v")
      .select(col("u").as("id"), col("v"), col("__crk"))
      .join(removal, Seq("id"))
      .where(col("__crk") <= col("__rem"))
      .select(col("id"), col("v").as("canopy"))
    membership.union(centers.select(col("id"), col("id").as("canopy")))
  }
}
