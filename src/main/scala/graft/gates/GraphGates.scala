package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._
import graft.operators.Frames

/** Gates of the match-graph metrics: node degrees, bridges, articulation
  * points, weakest links, near misses, transitivity, core numbers,
  * trusses, common neighbours and capture-recapture estimates. */
private[graft] object GraphGates {

  /** The graph gates' input: customer ids in segment:nation clusters,
    * and the match edges between distinct names at levenshtein_sim ≥
    * `minSim`. */
  private def matchGraph(s: SparkSession, dir: String,
      minSim: Double = 0.94): (DataFrame, DataFrame) = {
    val c = s.read.parquet(s"$dir/customer.parquet")
    val asg = c.select(col("c_custkey").as("id"),
      concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
        .as("cluster_id"))
    val edges = customerPairs(s, dir)
      .where(col("na") =!= col("nb") &&
        levenshtein_sim(col("na"), col("nb")) >= minSim)
      .select(col("ka").as("url_a"), col("kb").as("url_b"))
    (asg, edges)
  }

  /** SQL mirror of [[matchGraph]], opening the oracle's `WITH` list:
    * `pairs`, `asg` (id → cluster `g`), the normalized edge set (named
    * `edges`) and its same-cluster subset `intra`, which carries `au.g`
    * when `withG`. */
  private def matchGraphSql(recursive: Boolean = false,
      withG: Boolean = false, minSim: Double = 0.94,
      edges: String = "e"): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}pairs AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE a.c_name <> b.c_name
      |    AND ${levSimSql("a.c_name", "b.c_name")} >= $minSim
      |), asg AS (
      |  SELECT c_custkey AS id,
      |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
      |  FROM customer
      |), $edges AS (
      |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
      |  FROM pairs WHERE ka <> kb
      |), intra AS (
      |  SELECT $edges.u, $edges.v${if (withG) ", au.g" else ""} FROM $edges
      |  JOIN asg au ON $edges.u = au.id
      |  JOIN asg av ON $edges.v = av.id
      |  WHERE au.g = av.g
      |)""".stripMargin

  val all: Seq[Gate] = Seq(
    // label-free dual-system recall estimation: the SAME 0.94 matcher
    // run over two evidence-disjoint blockings (nation key vs a
    // name-substring key) — the overlap of the two accepted-pair sets
    // drives Lincoln-Petersen/Chapman population estimates; both
    // captures are real at both sf, and neither covers the other, so
    // every estimate column is load-bearing.
    // collective-linkage evidence: customer pairs sharing >= 3 distinct
    // parts across their orders (bipartite common-neighbor link
    // prediction) — raw counts plus degree-normalized neighborhood
    // Jaccard; parts bought by > 30 customers route through the salted
    // grid (lossless, tier-2-exercising at gate scale).
    Gate("q_common_neighbors", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ent"), col("l_partkey").as("nb"))
      graft.operators.Linkage.commonNeighborPairs(edges, "ent", "nb",
        minCommon = 3, bucketCap = 30, saltGroups = 8).out
    },
      // tier-blind brute force over the distinct bipartite edge set; the
      // jaccard denominator in long before the one double division.
      s"""WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS id, l.l_partkey AS nb
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), ${commonNeighborsSql(3)}""".stripMargin),

    Gate("q_capture_recapture", (s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
      val capA = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      val a2 = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val b2 = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val capB = a2.join(b2, "sfx")
        .where(col("ka") < col("kb") && col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.captureRecapture(capA, capB)
    },
      // dual-system estimation: the two captures rebuilt verbatim, then
      // the Lincoln-Petersen / Chapman formulas in the Scala's exact
      // double-expression order.
      s"""WITH capa AS (
        |  SELECT DISTINCT a.c_custkey AS u, b.c_custkey AS v
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), capb AS (
        |  SELECT DISTINCT a.c_custkey AS u, b.c_custkey AS v
        |  FROM customer a JOIN customer b
        |    ON substring(a.c_name, 16, 3) = substring(b.c_name, 16, 3)
        |   AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), agg AS (
        |  SELECT
        |    (SELECT count(*) FROM capa) AS n_a,
        |    (SELECT count(*) FROM capb) AS n_b,
        |    (SELECT count(*) FROM capa JOIN capb USING (u, v)) AS n_both,
        |    (SELECT count(*) FROM (SELECT u, v FROM capa
        |                           UNION SELECT u, v FROM capb)) AS n_union
        |)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(n_union AS BIGINT) AS n_union,
        |  CASE WHEN n_both > 0 THEN
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_both AS DOUBLE)
        |  END AS lincoln_petersen,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(n_both AS DOUBLE) + 1.0) - 1.0 AS chapman,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(n_both AS DOUBLE) + 1.0) - 1.0
        |    - CAST(n_union AS DOUBLE) AS est_missed,
        |  CASE WHEN n_b > 0 THEN
        |    CAST(n_both AS DOUBLE) / CAST(n_b AS DOUBLE)
        |  END AS coverage_a,
        |  CASE WHEN n_a > 0 THEN
        |    CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE)
        |  END AS coverage_b
        |FROM agg""".stripMargin),

    // Weakest-link review queue: for every cluster of the
    // q_connected_components world, the lowest-scoring intra-cluster
    // edge (argmin with pinned ties) plus the intra-edge count — the
    // first split a reviewer probes when transitive chaining is
    // suspected. Oracle: the same recursive-CTE CC plus an argmin
    // window over the scored edges.
    Gate("q_weakest_links", (s, dir) => {
      // scored feeds both CC and the weakest-link fold
      val scored = Frames.shared(customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka"), col("kb"),
          levenshtein_sim(col("na"), col("nb")).as("score")))
      val asg = graft.operators.ConnectedComponents.run(
        scored.select(col("ka"), col("kb")))
      graft.operators.Evaluation.weakestLinks(scored, asg, "id",
        clusterCol = "component")
    },
      // same recursive CC walk + an argmin window over the scored edges;
      // every scored edge is intra-cluster by construction (CC ran on
      // exactly these edges), which the join re-proves rather than assumes.
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), $componentWalkCtes, comp AS (
        |  SELECT id, min(r) AS component FROM walk GROUP BY id
        |), intra AS (
        |  SELECT ca.component AS component, p.ka, p.kb, p.s
        |  FROM pairs p
        |  JOIN comp ca ON p.ka = ca.id
        |  JOIN comp cb ON p.kb = cb.id
        |  WHERE ca.component = cb.component
        |), agg AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS n_edges
        |  FROM intra GROUP BY component
        |), weak AS (
        |  SELECT component, ka AS weak_ia, kb AS weak_ib, s AS weak_score
        |  FROM (SELECT component, ka, kb, s, row_number() OVER (
        |          PARTITION BY component ORDER BY s, ka, kb) AS rn
        |        FROM intra) WHERE rn = 1
        |)
        |SELECT a.component, a.n_edges, w.weak_ia, w.weak_ib, w.weak_score
        |FROM agg a JOIN weak w ON a.component = w.component""".stripMargin),

    // Near-miss review queue — the dual of q_weakest_links: scored pairs
    // just BELOW the 0.94 match threshold (2-edit name pairs, s ≈ 0.889)
    // whose endpoints landed in DIFFERENT clusters of the
    // q_connected_components world, top-3 per cluster pair with the
    // cross-edge count. The assignment is COMPLETED with singleton
    // clusters (id → own id for never-matched records — the EntityIds
    // convention the operator documents), so a near miss between two
    // unmatched records is in the queue too. The ≤ k filter sits
    // directly above row_number (InferWindowGroupLimit); ≥ 0.94 pairs
    // are intra-cluster by construction so only true near misses
    // survive.
    Gate("q_near_misses", (s, dir) => {
      // scored feeds CC AND the near-miss queue
      val scored = Frames.shared(customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.88)
        .select(col("ka"), col("kb"),
          levenshtein_sim(col("na"), col("nb")).as("score")))
      val cc = graft.operators.ConnectedComponents.run(
        scored.where(col("score") >= 0.94).select(col("ka"), col("kb")))
      val asg = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
        .join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id"))
          .as("component"))
      graft.operators.Evaluation.nearMissPairs(scored, asg, "id",
        clusterCol = "component", k = 3)
    },
      // near misses: the same CC walk over the >= 0.94 match edges, the
      // assignment completed with singleton clusters (coalesce to own id),
      // then the 0.88-floor scored pairs whose endpoints land in DIFFERENT
      // components, top-3 per unordered cluster pair + cross counts.
      s"""WITH RECURSIVE scored AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.88
        |), pairs AS (
        |  SELECT ka, kb FROM scored WHERE s >= 0.94
        |), $componentWalkCtes, comp0 AS (
        |  SELECT id, min(r) AS component FROM walk GROUP BY id
        |), comp AS (
        |  SELECT c.c_custkey AS id,
        |         coalesce(c0.component, c.c_custkey) AS component
        |  FROM customer c LEFT JOIN comp0 c0 ON c.c_custkey = c0.id
        |), cross_e AS (
        |  SELECT least(ca.component, cb.component) AS cluster_a,
        |    greatest(ca.component, cb.component) AS cluster_b,
        |    p.ka AS ia, p.kb AS ib, p.s AS score
        |  FROM scored p
        |  JOIN comp ca ON p.ka = ca.id
        |  JOIN comp cb ON p.kb = cb.id
        |  WHERE ca.component <> cb.component
        |), counts AS (
        |  SELECT cluster_a, cluster_b, CAST(count(*) AS BIGINT) AS n_cross
        |  FROM cross_e GROUP BY cluster_a, cluster_b
        |), ranked AS (
        |  SELECT cluster_a, cluster_b, ia, ib, score,
        |    CAST(row_number() OVER (PARTITION BY cluster_a, cluster_b
        |      ORDER BY score DESC, ia, ib) AS INT) AS rank
        |  FROM cross_e
        |)
        |SELECT r.cluster_a, r.cluster_b, r.ia, r.ib, r.score, r.rank,
        |       c.n_cross
        |FROM ranked r JOIN counts c
        |  ON r.cluster_a = c.cluster_a AND r.cluster_b = c.cluster_b
        |WHERE r.rank <= 3""".stripMargin),

    // Splink-style graph QA, node level: per-record degree in the
    // verified match graph. The assignment (segment:nation) is COARSER
    // than the edge generator's blocking (nation), so name-similarity
    // edges crossing segments are cross-cluster and must be excluded —
    // the intra-cluster filter is load-bearing, and edgeless records
    // surface with degree 0 rather than vanishing.
    Gate("q_node_degrees", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.nodeDegrees(asg, edges)
    },
      // graph QA: normalize edges (least/greatest + distinct), keep only
      // same-cluster edges, degree = endpoint-exploded count, edgeless
      // records coalesce to 0.
      s"""${matchGraphSql()}, deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |)
        |SELECT asg.id, asg.g AS cluster_id,
        |  CAST(coalesce(deg.d, 0) AS BIGINT) AS degree
        |FROM asg LEFT JOIN deg ON asg.id = deg.id""".stripMargin),
    // Cluster level of the same graph: integer sufficient statistics
    // (n_nodes, n_edges, max_degree) + density and Freeman degree
    // centralisation as pinned-order double ratios (NULL below their
    // n-floors). Edgeless clusters are rows, not absences.
    Gate("q_graph_metrics", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.graphMetrics(asg, edges)
    },
      // same graph, cluster level: Σdeg = 2E folds per cluster; density
      // and centralisation mirror the Scala's pinned all-double order.
      s"""${matchGraphSql()}, deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |), cm AS (
        |  SELECT asg.g, CAST(count(*) AS BIGINT) AS n_nodes,
        |         CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS gsum,
        |         CAST(max(coalesce(deg.d, 0)) AS BIGINT) AS max_degree
        |  FROM asg LEFT JOIN deg ON asg.id = deg.id
        |  GROUP BY asg.g
        |)
        |SELECT g AS cluster_id, n_nodes,
        |  CAST(gsum / 2 AS BIGINT) AS n_edges, max_degree,
        |  CASE WHEN n_nodes >= 2 THEN CAST(gsum AS DOUBLE) /
        |    (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE))
        |  END AS density,
        |  CASE WHEN n_nodes >= 3 THEN
        |    (CAST(n_nodes AS DOUBLE) * CAST(max_degree AS DOUBLE)
        |      - CAST(gsum AS DOUBLE)) /
        |    (CAST(n_nodes - 1 AS DOUBLE) * CAST(n_nodes - 2 AS DOUBLE))
        |  END AS centralisation
        |FROM cm""".stripMargin),
    // Edge level of the same graph: is_bridge per normalized intra
    // edge (removal disconnects the cluster) — per-cluster iterative
    // Tarjan distributed over groups; the fixture graph has real cycles
    // at both sf, so both flag values are load-bearing.
    Gate("q_bridge_edges", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.bridgeEdges(asg, edges).out
    },
      // bridges: per excluded edge, a recursive reachability walk over the
      // remaining intra edges; the edge is a bridge iff its far endpoint
      // never appears in its own walk.
      s"""${matchGraphSql(recursive = true, withG = true)}, walk(xu, xv, node) AS (
        |  SELECT u, v, u FROM intra
        |  UNION
        |  SELECT w.xu, w.xv,
        |    CASE WHEN ee.u = w.node THEN ee.v ELSE ee.u END
        |  FROM walk w JOIN intra ee ON (ee.u = w.node OR ee.v = w.node)
        |  WHERE NOT (ee.u = w.xu AND ee.v = w.xv)
        |)
        |SELECT i.g AS cluster_id, i.u AS url_a, i.v AS url_b,
        |  (r.node IS NULL) AS is_bridge
        |FROM intra i LEFT JOIN walk r
        |  ON r.xu = i.u AND r.xv = i.v AND r.node = i.v""".stripMargin),
    // Node level: articulation records (cut vertices) — a record whose
    // removal splits its cluster, flagged even when none of its edges
    // is a bridge (the shared-bad-row over-merge culprit); one shared
    // Tarjan pass with q_bridge_edges' operator.
    Gate("q_articulation", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.articulationRecords(asg, edges).out
    },
      // articulation: per edge-incident record x, walk from its smallest
      // neighbor avoiding x; x cuts iff some neighbor stays unreached.
      s"""${matchGraphSql(recursive = true, withG = true)}, nbr AS (
        |  SELECT u AS x, v AS n FROM intra UNION SELECT v, u FROM intra
        |), seed AS (
        |  SELECT x, min(n) AS n0 FROM nbr GROUP BY x
        |), walkn(x, node) AS (
        |  SELECT x, n0 FROM seed
        |  UNION
        |  SELECT w.x, CASE WHEN ee.u = w.node THEN ee.v ELSE ee.u END
        |  FROM walkn w JOIN intra ee ON (ee.u = w.node OR ee.v = w.node)
        |  WHERE ee.u <> w.x AND ee.v <> w.x
        |), cnt AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS nn FROM nbr GROUP BY x
        |), rc AS (
        |  SELECT n.x, CAST(count(*) AS BIGINT) AS nr
        |  FROM nbr n JOIN walkn w ON w.x = n.x AND w.node = n.n
        |  GROUP BY n.x
        |)
        |SELECT a.g AS cluster_id, cnt.x AS id,
        |  (coalesce(rc.nr, 0) <> cnt.nn) AS is_articulation
        |FROM cnt LEFT JOIN rc ON cnt.x = rc.x
        |JOIN asg a ON cnt.x = a.id""".stripMargin),
    // Unlinkables curve (Splink's unlinkables_chart for a candidate-pair
    // world): per θ, the share of RECORDS with no incident scored pair
    // ≥ θ. The 0.86 candidate floor leaves many customers with no pair
    // at all (best = NULL), so the no-evidence path is live at both sf.
    Gate("q_unlinkables", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val recs = c.select(col("c_custkey").as("url"))
      val scored = customerPairs(s, dir)
        .where(col("na") =!= col("nb"))
        .select(col("ka").as("url_a"), col("kb").as("url_b"),
          jaro_winkler_sim(col("na"), col("nb")).as("score"))
        .where(col("score") >= 0.86)
      graft.operators.Evaluation.unlinkables(recs, scored,
        Seq(0.86, 0.90, 0.94, 0.97, 0.99))
    },
      // unlinkables: per-record best incident score (NULL when no pair),
      // θ fan-out, strict < at the boundary, exact count division.
      """WITH pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    jaro_winkler_similarity(a.c_name, b.c_name) AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND jaro_winkler_similarity(a.c_name, b.c_name) >= 0.86
        |), best AS (
        |  SELECT id, max(s) AS b
        |  FROM (SELECT ka AS id, s FROM pairs
        |        UNION ALL SELECT kb, s FROM pairs)
        |  GROUP BY id
        |), th AS (
        |  SELECT CAST(t AS DOUBLE) AS theta
        |  FROM (VALUES (0.86), (0.90), (0.94), (0.97), (0.99)) v(t)
        |), j AS (
        |  SELECT best.b, th.theta
        |  FROM customer c LEFT JOIN best ON c.c_custkey = best.id
        |  CROSS JOIN th
        |)
        |SELECT theta, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(count(CASE WHEN b IS NULL OR b < theta THEN 1 END)
        |    AS BIGINT) AS n_unlinkable,
        |  CAST(count(CASE WHEN b IS NULL OR b < theta THEN 1 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_unlinkable
        |FROM j GROUP BY theta""".stripMargin),

    // Per-cluster triangle census over the SAME verified graph as
    // q_graph_metrics/q_bridge_edges: degree-ordered wedge-check
    // triangle counting (Suri-Vassilvitskii orientation, O(E^1.5)
    // total), wedges as decimal-exact Σ d(d−1)/2, transitivity = 3T/W
    // one pinned double division (NULL when wedge-free). The 0.94
    // fixture graph carries real triangles at both sf, so the closed
    // and open wedge paths are both load-bearing.
    Gate("q_transitivity", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.clusterTriangles(asg, edges)
    },
      // triangles: u<v<w three-way self-join over the normalized intra
      // edges (each undirected triangle appears exactly once), wedges as
      // Σ d(d−1)/2 per cluster, the same pinned 3T/W division.
      s"""${matchGraphSql(withG = true)}, deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |), nodes AS (
        |  SELECT DISTINCT id, g
        |  FROM (SELECT u AS id, g FROM intra UNION ALL SELECT v, g FROM intra)
        |), wed AS (
        |  SELECT n.g, CAST(sum(deg.d * (deg.d - 1)) // 2 AS BIGINT) AS w
        |  FROM nodes n JOIN deg ON n.id = deg.id
        |  GROUP BY n.g
        |), tri AS (
        |  SELECT i1.g, CAST(count(*) AS BIGINT) AS t
        |  FROM intra i1
        |  JOIN intra i2 ON i2.u = i1.v
        |  JOIN intra i3 ON i3.u = i1.u AND i3.v = i2.v
        |  GROUP BY i1.g
        |)
        |SELECT asg.g AS cluster_id,
        |  CAST(coalesce(tri.t, 0) AS BIGINT) AS n_triangles,
        |  CAST(coalesce(wed.w, 0) AS BIGINT) AS n_wedges,
        |  CASE WHEN coalesce(wed.w, 0) > 0 THEN
        |    (3.0 * CAST(coalesce(tri.t, 0) AS DOUBLE))
        |      / CAST(wed.w AS DOUBLE)
        |  END AS transitivity
        |FROM (SELECT DISTINCT g FROM asg) asg
        |LEFT JOIN wed ON asg.g = wed.g
        |LEFT JOIN tri ON asg.g = tri.g""".stripMargin),

    // k-core decomposition of the same graph via iterated h-index —
    // integer fixpoint identical to sequential peeling, so the oracle's
    // recursive-CTE replay of the SAME iteration (h₀ = degree, hₜ₊₁ =
    // H-operator over neighbor values) must agree hash-for-hash. The
    // 0.94 fixture graph carries chains, stars AND triangle cores at
    // both sf, so core 0 (edgeless), 1 (tails) and ≥2 (cycles) are all
    // load-bearing rows.
    Gate("q_core_numbers", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir)
      graft.operators.GraphMetrics.coreNumbers(asg, edges)
    },
      s"""${matchGraphSql(recursive = true)}, b AS (
        |  SELECT u, v FROM intra UNION ALL SELECT v, u FROM intra
        |), deg AS (
        |  SELECT u AS id, CAST(count(*) AS BIGINT) AS h FROM b GROUP BY u
        |), hs(iter, id, h) AS (
        |  SELECT 0, id, h FROM deg
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH nv AS (
        |      SELECT b.u AS id, hs.h AS hv FROM b JOIN hs ON b.v = hs.id
        |    ), ranked AS (
        |      SELECT id, hv, row_number() OVER (
        |        PARTITION BY id ORDER BY hv DESC) AS rn FROM nv
        |    ), hidx AS (
        |      SELECT id, CAST(max(least(rn, hv)) AS BIGINT) AS hh
        |      FROM ranked GROUP BY id
        |    ), nxt AS (
        |      SELECT hs.iter + 1 AS iter, hs.id,
        |             least(hs.h, coalesce(hidx.hh, 0)) AS h
        |      FROM hs LEFT JOIN hidx ON hs.id = hidx.id
        |    )
        |    SELECT iter, id, h FROM nxt
        |    WHERE EXISTS (SELECT 1 FROM nxt n JOIN hs o ON n.id = o.id
        |                  WHERE n.h <> o.h)
        |  )
        |), core AS (
        |  SELECT id, min(h) AS core FROM hs GROUP BY id
        |)
        |SELECT asg.id, asg.g AS cluster_id,
        |  CAST(coalesce(core.core, 0) AS BIGINT) AS core_number
        |FROM asg LEFT JOIN core ON asg.id = core.id""".stripMargin),

    // k-truss (k=3) of a denser name-similarity graph (0.92 threshold
    // so triangles exist at gate scale): iterative support peeling to
    // the FIXPOINT — every surviving edge closes >= 1 triangle with
    // other survivors, the edge-cohesion complement to q_core_numbers.
    // The oracle replays the peel as a recursive CTE (previous
    // iteration's edge set -> naive common-neighbor support -> filter),
    // emitting only rounds that removed something; peeling is monotone
    // so the last emitted round IS the fixpoint.
    Gate("q_truss", (s, dir) => {
      val (asg, edges) = matchGraph(s, dir, minSim = 0.92)
      graft.operators.GraphMetrics.trussEdges(asg, edges, k = 3)
    },
      // coreness: the same intra-cluster graph, then the h-index iteration
      // as a recursive CTE — each level recomputes every node's H-operator
      // from the previous level's full value set and stops at the first
      // unchanged level; min(h) per id is the (monotone) fixpoint.
      // recursive peel: each iteration recomputes naive common-neighbor
      // support over the PREVIOUS round's edges and keeps support >= k-2;
      // rounds emit only when something was removed, so max(iter) is the
      // fixpoint (monotone peeling). A round that peels every edge emits
      // nothing, so max(iter) then names the unpeeled round: the final
      // support >= k-2 filter drops nothing at a non-empty fixpoint and
      // every row in that case.
      s"""${matchGraphSql(recursive = true, minSim = 0.92, edges = "e0")}, es(iter, u, v) AS (
        |  SELECT 0, u, v FROM intra
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH adj AS (
        |      SELECT u AS x, v AS w FROM es
        |      UNION ALL SELECT v, u FROM es
        |    ), sup AS (
        |      SELECT e.u, e.v, count(*) AS s
        |      FROM es e
        |      JOIN adj a ON a.x = e.u
        |      JOIN adj b ON b.x = e.v AND b.w = a.w
        |      GROUP BY 1, 2
        |    ), nxt AS (
        |      SELECT e.iter + 1 AS iter, e.u, e.v
        |      FROM es e LEFT JOIN sup ON sup.u = e.u AND sup.v = e.v
        |      WHERE coalesce(sup.s, 0) >= 1
        |    )
        |    SELECT iter, u, v FROM nxt
        |    WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM es)
        |  )
        |), truss AS (
        |  SELECT u, v FROM es WHERE iter = (SELECT max(iter) FROM es)
        |), tadj AS (
        |  SELECT u AS x, v AS w FROM truss
        |  UNION ALL SELECT v, u FROM truss
        |), tsup AS (
        |  SELECT t.u, t.v, CAST(count(*) AS BIGINT) AS s
        |  FROM truss t
        |  JOIN tadj a ON a.x = t.u
        |  JOIN tadj b ON b.x = t.v AND b.w = a.w
        |  GROUP BY 1, 2
        |)
        |SELECT au.g AS cluster_id, t.u AS url_a, t.v AS url_b,
        |  CAST(coalesce(tsup.s, 0) AS BIGINT) AS support
        |FROM truss t
        |JOIN asg au ON t.u = au.id
        |LEFT JOIN tsup ON tsup.u = t.u AND tsup.v = t.v
        |WHERE coalesce(tsup.s, 0) >= 1""".stripMargin),
  )
}
