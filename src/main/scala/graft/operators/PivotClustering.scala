package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Correlation clustering of a match graph by deterministic pivots
  * (KwikCluster: Ailon-Charikar-Newman's 3-approximation for correlation
  * clustering) — the standard alternative to transitive closure when
  * chained matches must NOT merge (connected components declares a≡c the
  * moment a~b~c, which on noisy scorers snowballs distinct entities into
  * one mega-cluster; a pivot cluster is a star around one record, so every
  * member was DIRECTLY matched to the pivot).
  *
  * Sequential semantics being reproduced: visit nodes in a pseudo-random
  * order; an unvisited node becomes a pivot and claims all its unclaimed
  * neighbors as its cluster. The pseudo-random order is a deterministic
  * mixed key (`rank`), so runs, partitionings, and re-runs agree — and the
  * DuckDB oracle can replay the identical order.
  *
  * Distributed formulation (Blelloch-Fineman-Shun's parallel greedy MIS):
  *  - round: every ACTIVE node whose rank is a local minimum among its
  *    active neighbors joins the pivot set; its active neighbors become
  *    dominated; both leave the active set. This computes EXACTLY the
  *    sequential greedy (lexicographically-first) maximal independent set
  *    — a node's fate depends only on smaller-ranked neighbors, and
  *    rounds resolve those dependencies in dependency order.
  *  - assignment: afterwards, each non-pivot joins its minimum-rank pivot
  *    neighbor — which is exactly the pivot that claimed it first in the
  *    sequential order (every pivot neighbor of v is processed in rank
  *    order and v is still unclaimed until the first one).
  * Expected rounds are O(log n) on any graph (the random-order MIS bound —
  * the rank mix plays the random permutation); each round is two
  * equi-joins of the edge list against the shrinking active set plus one
  * map-side-combinable min aggregate, all AQE-adaptive, nothing keyed on
  * anything but node ids.
  *
  * Rank mix: `k = (id·1103515245 + 12345) mod 2^31`, ordered as (k, id) —
  * an LCG step, chosen over xxhash64 because both engines compute it with
  * exact 64-bit integer arithmetic (no overflow for id < 2^53/1103515245 ≈
  * 8.4·10^9; beyond that pre-fold the id with `id % 2^31` upstream and
  * accept tie-breaks falling back to the raw id).
  */
object PivotClustering {

  private[operators] def rank(id: Column): Column =
    struct(((id * 1103515245L + 12345L) % 2147483648L).as("k"), id.as("id"))

  /** Sequential-greedy (lexicographically-first by [[rank]]) maximal
    * independent set, computed in parallel local-minimum rounds — the
    * shared engine under [[run]] (pivots) and [[Canopy.canopies]]
    * (canopy centers).
    *
    * @param sym   symmetric deduped edge list (u, v), lineage-truncated.
    * @param nodes one Long `id` column — the node universe (isolated
    *              nodes are trivial MIS members).
    * @return (id, rk) of every MIS member. */
  private[operators] def greedyMis(sym: DataFrame, nodes: DataFrame,
      maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    // read by the size gate, the replay and every round's joins
    var active = Frames.shared(
      nodes.select(col("id"), rank(col("id")).as("rk")))
    var mis = active.limit(0)

    // Driver finish ([[DriverFinish]]): the parallel local-minimum rounds
    // are proven equal to the sequential greedy MIS in rank order, so when
    // graph + node set fit, one replay of that scan computes the same MIS
    // without the per-round join/probe bill. The rank mix is exact 64-bit
    // integer arithmetic on both sides, so the replay is bit-faithful.
    val driverCap = DriverFinish.cap(spark, "mis.driverFinishRows")
    if (nodes.schema("id").dataType == LongType &&
        DriverFinish.fits(driverCap, sym.count() + active.count())) {
      val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      sym.select(col("u"), col("v")).collect().foreach { r =>
        adj.computeIfAbsent(r.getLong(0),
          _ => new java.util.ArrayList[Long]()).add(r.getLong(1))
      }
      def rkOf(id: Long): (Long, Long) =
        ((id * 1103515245L + 12345L) % 2147483648L, id)
      val order = active.select(col("id")).collect()
        .map(_.getLong(0)).sortBy(rkOf)
      val dominated = new java.util.HashSet[Long]()
      val pivots = order.filter { n =>
        val free = !dominated.contains(n)
        if (free) Option(adj.get(n)).foreach(dominated.addAll)
        free
      }
      val ids = DriverFinish.frame(spark,
        new StructType().add("id", LongType), pivots.toSeq.map(Row(_)))
      return ids.select(col("id"), rank(col("id")).as("rk"))
    }

    var iter = 0
    var drained = active.isEmpty
    while (!drained && iter < maxIter) {
      // min rank over ACTIVE neighbors (inner joins prune inactive ends)
      val nbrMin = sym
        .join(active.select(col("id").as("u")), "u")
        .join(active.select(col("id").as("v"), col("rk").as("__rkv")), "v")
        .groupBy(col("u")).agg(min(col("__rkv")).as("__mn"))
      // feeds the MIS union, the domination join and the active update
      val pivots = Frames.shared(active
        .join(nbrMin, active("id") === nbrMin("u"), "left")
        .where(col("__mn").isNull || col("rk") < col("__mn"))
        .select(col("id"), col("rk")))
      mis = mis.union(pivots)
      val dominated = sym
        .join(pivots.select(col("id").as("v")), "v")
        .select(col("u").as("id")).distinct()
      // round state: the drain probe and the next round's two joins
      active = Frames.shared(active
        .join(pivots.select(col("id")), Seq("id"), "left_anti")
        .join(dominated, Seq("id"), "left_anti"))
      drained = active.isEmpty
      iter += 1
    }
    require(drained, s"greedy MIS did not drain in $maxIter rounds")
    mis
  }

  /** @param edges0 two Long columns = undirected match-edge ends.
    * @return (id, cluster) for every node appearing in an edge; cluster =
    *         pivot node id. Isolated nodes (in no edge) are the caller's
    *         to union, matching [[ConnectedComponents.run]]. */
  def run(edges0: DataFrame, maxIter: Int = 60): DataFrame = {
    val Seq(c0, c1) = edges0.columns.take(2).toSeq
    val half = edges0
      .select(col(c0).as("u"), col(c1).as("v"))
      .where(col("u") =!= col("v"))
    // symmetric and deduped once: the node set and every round re-read it
    val sym = Frames.shared(
      half.union(half.select(col("v").as("u"), col("u").as("v"))).distinct())

    val mis = greedyMis(sym, sym.select(col("u").as("id")).distinct(), maxIter)

    // every non-pivot joins its minimum-rank pivot neighbor — the pivot
    // that claimed it first in the sequential visit order
    val claims = sym
      .join(mis.select(col("id").as("v"), col("rk").as("__rkp")), "v")
      .groupBy(col("u"))
      // rk already ends in the node id, so min(rk) IS the argmin pivot
      .agg(min(col("__rkp")).as("__best"))
      .select(col("u").as("id"), col("__best").getField("id").as("__claim"))
    val nodes = sym.select(col("u").as("id")).distinct()
    nodes
      .join(mis.select(col("id"), lit(1).as("__p")), Seq("id"), "left")
      .join(claims, Seq("id"), "left")
      .select(col("id"),
        when(col("__p").isNotNull, col("id")).otherwise(col("__claim"))
          .as("cluster"))
  }
}
