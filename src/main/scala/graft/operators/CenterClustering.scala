package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Center and merge-center clustering (Hassanzadeh, Chiang, Lee, Miller —
  * "Framework for Evaluating Clustering Algorithms in Duplicate
  * Detection", VLDB 2009): the star-shaped alternatives between
  * single-pass blocking and full transitive closure. Center clustering
  * never chains (every member is θ-similar to its cluster CENTER, so
  * a~b~c cannot pull a and c together without direct evidence — the same
  * chaining resistance as [[PivotClustering]], but similarity-ORDERED:
  * the strongest pairs seed the clusters). Merge-center recovers some of
  * the recall centering gives up by merging clusters that share evidence
  * through a center.
  *
  * Sequential definition (pinned — the spec replays it literally): scan
  * edges in decreasing similarity, ties by (min id, max id):
  *   - both endpoints unassigned → the SMALLER id becomes a new cluster's
  *     center, the other its first member;
  *   - one endpoint is a center, the other unassigned → the unassigned
  *     endpoint joins that cluster;
  *   - anything else (a member involved, or two centers) → skip.
  * Leftover unassigned nodes end as singleton centers.
  *
  * Parallel rounds ≡ the sequential scan: each round fires, for every
  * still-unassigned node, its top-ranked ALIVE edge — where edges die
  * exactly when the sequential scan would skip them forever (an endpoint
  * is a member, or both endpoints are centers; both monotone states).
  * A center-join fires unconditionally (all of the node's higher-ranked
  * edges are dead, so the sequential scan decides the node HERE); a
  * both-unassigned edge fires only when mutually top — the same
  * locally-dominant-edge argument as [[Linkage.greedyMatches]]. Progress
  * is guaranteed: the globally top alive edge always fires or dies, so
  * rounds are O(log n) expected on random ranks (adversarial chains
  * degrade gracefully toward the maxIter guard, which fails loudly).
  * CenterClusteringSpec pins parallel ≡ sequential on random graphs,
  * chains, and stars.
  *
  * 100 TB shape: per round, two broadcast-able state joins, one per-node
  * top-1 window (the `rn = 1` filter sits directly on row_number, so
  * InferWindowGroupLimit bounds every map task to one row per node before
  * the shuffle), and a self-aggregated mutuality check — no global sort
  * of the edge list anywhere (the ORDER lives inside per-node windows).
  * The alive edges and the assignment are round state that each round
  * joins back to itself, so they are materialized by [[Frames.round]]. */
object CenterClustering {

  /** Center clustering over a scored edge list.
    *
    * @param edges (aCol, bCol, simCol) — undirected; parallel edges
    *              collapse to their MAX similarity (pinned)
    * @return (id, center_id) covering every node in `edges`; centers map
    *         to themselves, leftover nodes are singleton centers. */
  def centers(edges: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      simCol: String = "sim", maxIter: Int = 200): DataFrame = {
    val canon = edges.select(
        least(col(aCol), col(bCol)).as("la"),
        greatest(col(aCol), col(bCol)).as("lb"),
        col(simCol).cast("double").as("s"))
      .where(col("la") =!= col("lb") && col("s").isNotNull)
      .groupBy(col("la"), col("lb")).agg(max(col("s")).as("s"))

    val (alive0, alive0Cnt) = Frames.round(canon)
    // derive the node set from the MATERIALIZED frame — deriving it from
    // `canon` would re-evaluate the whole upstream edge pipeline (the
    // caller's kernel join) a second time just to list ids
    val nodes = alive0.select(col("la").as("id"))
      .union(alive0.select(col("lb").as("id"))).distinct()
    var alive = alive0

    // Driver finish ([[DriverFinish]]): the parallel rounds are proven
    // equal to the pinned sequential scan (the definition at the top of
    // this file), so once the alive-edge frontier fits, replaying that
    // scan over the collected frontier and current states removes the
    // tail rounds without changing the assignment.
    val spark = edges.sparkSession
    val driverCap = DriverFinish.cap(spark, "centers.driverFinishEdges")
    // decreasing similarity, ties by (min id, max id) — la < lb already
    import DriverFinish.{Asc, Desc}
    val order = DriverFinish.rowOrdering(canon.schema,
      "s" -> Desc, "la" -> Asc, "lb" -> Asc)

    def sequentialFinish(live: DataFrame): DataFrame = {
      // (la, lb, s) keep their positions in `canon`, so `order` applies
      val rows = live.select(col("la"), col("lb"), col("s"),
        col("ca"), col("cb")).collect()
      val st = new java.util.HashMap[Any, Any]()
      rows.foreach { r =>
        if (!r.isNullAt(3)) st.put(r.get(0), r.get(3))
        if (!r.isNullAt(4)) st.put(r.get(1), r.get(4))
      }
      val fired = new scala.collection.mutable.ArrayBuffer[Row]()
      rows.sorted(order.get).foreach { r =>
        val a = r.get(0); val b = r.get(1)
        val ca = st.get(a); val cb = st.get(b)
        val aUn = ca == null; val bUn = cb == null
        val aCenter = !aUn && ca == a
        val bCenter = !bUn && cb == b
        if (aUn && bUn) { // new cluster seeded by the smaller id (= la)
          st.put(a, a); st.put(b, a)
          fired += Row(a, a)
          fired += Row(b, a)
        } else if (aUn && bCenter) {
          st.put(a, b); fired += Row(a, b)
        } else if (bUn && aCenter) {
          st.put(b, a); fired += Row(b, a)
        } // else: member involved or two centers → the scan skips it
      }
      DriverFinish.frame(spark, new StructType()
        .add("id", canon.schema("la").dataType)
        .add("center_id", canon.schema("lb").dataType), fired.toSeq)
    }
    var asg = canon.limit(0)
      .select(col("la").as("id"), col("lb").as("center_id"))
    var iter = 0
    var drained = alive0Cnt == 0L
    while (!drained && iter < maxIter) {
      // annotate endpoint states as of the round start (null = unassigned)
      val st = alive
        .join(asg.select(col("id").as("la"), col("center_id").as("ca")),
          Seq("la"), "left")
        .join(asg.select(col("id").as("lb"), col("center_id").as("cb")),
          Seq("lb"), "left")
      val aCenter = col("ca").isNotNull && col("ca") === col("la")
      val bCenter = col("cb").isNotNull && col("cb") === col("lb")
      val aMember = col("ca").isNotNull && col("ca") =!= col("la")
      val bMember = col("cb").isNotNull && col("cb") =!= col("lb")
      // the materializing count doubles as the drain probe (ONE job per
      // round for both), and a drained round short-circuits before paying
      // for the (empty) fire/merge plans
      val (live, liveCnt) = Frames.round(
        st.where(!(aMember || bMember || (aCenter && bCenter))))
      if (liveCnt == 0L) {
        drained = true
        alive = live
        iter += 1
      } else if (order.isDefined &&
          DriverFinish.fitsHashed(canon, Seq("la", "lb"), driverCap, liveCnt)) {
        // frontier fits the bounded buffer → sequential finish, done; the
        // loop ends, so the assignment is no round state: it feeds the
        // singleton anti-join and the final union
        asg = Frames.shared(asg.union(sequentialFinish(live)))
        alive = live
        drained = true
        iter += 1
      } else {

      // per-UNASSIGNED-node incidence; top-ranked alive edge per node
      val inc = live.where(col("ca").isNull)
        .select(col("la").as("x"), col("lb").as("y"), col("s"),
          col("la"), col("lb"), bCenter.as("y_center"))
        .union(live.where(col("cb").isNull)
          .select(col("lb").as("x"), col("la").as("y"), col("s"),
            col("la"), col("lb"), aCenter.as("y_center")))
      val top = inc
        .withColumn("rn", row_number().over(W.partitionBy(col("x"))
          .orderBy(col("s").desc, col("la"), col("lb"))))
        .where(col("rn") === 1)

      // rule (a): the node's top edge leads to a center → join it
      val joins = top.where(col("y_center"))
        .select(col("x").as("id"), col("y").as("center_id"))
      // rule (b): both-unassigned, mutually top → new cluster seeded by
      // the smaller id (la < lb by canonicalization)
      val seeds = top.where(!col("y_center"))
        .groupBy(col("la"), col("lb")).agg(count(lit(1)).as("__c"))
        .where(col("__c") === 2)
      val newClusters = seeds
        .select(col("la").as("id"), col("la").as("center_id"))
        .union(seeds.select(col("lb").as("id"), col("la").as("center_id")))

      // progress needs no per-round check: the globally top alive edge
      // always fires or dies (dominance argument above), so the ONLY
      // action per round is the drain probe — non-progress surfaces as
      // the loud maxIter require below
      val fired = joins.union(newClusters)
      asg = Frames.round(asg.union(fired))._1
      // `live` is already materialized above — the next round's
      // state is a cheap projection over its checkpointed blocks, so a
      // second per-round checkpoint (one more job + block set) would
      // buy nothing.
      alive = live.select(col("la"), col("lb"), col("s"))
      iter += 1
      }
    }
    require(drained, s"centers() did not drain in $maxIter rounds " +
      "(adversarial chain? raise maxIter)")
    // leftover nodes (every edge they touched died) → singleton centers
    val singletons = nodes.join(asg, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("center_id"))
    asg.union(singletons)
  }

  /** Merge-center clustering — PINNED ORDER-FREE VARIANT: run [[centers]],
    * then merge clusters wherever ANY input edge links a record to
    * another cluster's center (all qualifying edges considered, not just
    * the ones a sequential scan happens to reach after the center forms —
    * a deterministic, partitioning-independent superset of the published
    * scan-order-dependent merge rule, and a subset of full transitive
    * closure: merges still require direct evidence against a CENTER).
    * Cluster id = min node id of the merged component
    * ([[ConnectedComponents]] min-root convention).
    *
    * @return (id, cluster_id) covering every node in `edges`. */
  def mergeCenters(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", simCol: String = "sim",
      maxIter: Int = 200): DataFrame = {
    // the edge frame feeds BOTH the centers() run and the merge edges
    val e0 = Frames.shared(edges)
    // the assignment feeds the center ids, the member edges and the labels
    val asg = Frames.shared(centers(e0, aCol, bCol, simCol, maxIter))
    val centerIds = asg.where(col("id") === col("center_id"))
      .select(col("id").as("c"))
    val canon = e0.select(
        least(col(aCol), col(bCol)).as("la"),
        greatest(col(aCol), col(bCol)).as("lb"))
      .where(col("la") =!= col("lb")).distinct()
    // any edge touching a center merges that center's cluster with the
    // other endpoint's cluster
    val mergeEdges = canon
      .join(centerIds.withColumnRenamed("c", "la"), Seq("la"), "left_semi")
      .union(canon
        .join(centerIds.withColumnRenamed("c", "lb"), Seq("lb"), "left_semi"))
      .distinct()
    val allEdges = asg.where(col("id") =!= col("center_id"))
      .select(col("id").as("la"), col("center_id").as("lb"))
      .union(mergeEdges)
    val comp = ConnectedComponents.run(allEdges)
    // CC covers nodes with >= 1 edge; pure singletons keep themselves
    asg.join(comp.withColumnRenamed("component", "cluster_id"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
