package graft.operators

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Graph metrics of the verified match graph, per entity cluster: node
  * degrees, density and centralisation, bridges and articulation records,
  * triangles, core numbers and k-truss edges. Each reads the simple
  * intra-cluster edge set of [[intraClusterEdges]]; the whole-component
  * passes run per cluster under an edge cap, or finish on the driver
  * ([[DriverFinish]]). */
object GraphMetrics {
  /** Canonical intra-cluster edge set shared by [[nodeDegrees]] and
    * [[graphMetrics]]: edges are normalized to (u < v), self-loops and
    * duplicates (either direction) removed, and ONLY edges whose two
    * endpoints sit in the same cluster survive — an edge that crosses
    * clusters (possible when `assignment` was produced by a different
    * run or a manual override split a component) contributes to neither
    * side's metrics rather than silently corrupting one. Columns:
    * (__gu, __gv, __gc). */
  private def intraClusterEdges(assignment: DataFrame, edges: DataFrame,
      idCol: String, clusterCol: String,
      aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("__gu"),
        greatest(col(aCol), col(bCol)).as("__gv"))
      .where(col("__gu") =!= col("__gv"))
      .distinct()
    val au = assignment.select(col(idCol).as("__gu"),
      col(clusterCol).as("__gcu"))
    val av = assignment.select(col(idCol).as("__gv"),
      col(clusterCol).as("__gcv"))
    e.join(au, "__gu").join(av, "__gv")
      .where(col("__gcu") === col("__gcv"))
      .select(col("__gu"), col("__gv"), col("__gcu").as("__gc"))
  }

  /** Per-record degree in the verified match graph — Splink's node-level
    * `compute_graph_metrics` output. A record's degree counts its
    * DISTINCT same-cluster match partners (edges are direction- and
    * duplicate-normalized, self-loops dropped, cross-cluster edges
    * excluded — see [[intraClusterEdges]]); records no edge touches
    * (singletons, or members only connected by excluded edges) appear
    * with degree 0, because "this record matched nothing" is exactly the
    * row a review queue wants. Low degree inside a big cluster marks a
    * record held in only by transitivity — the first candidates to
    * re-examine when a cluster looks over-merged.
    *
    * Shapes: edge normalization is one edge-sized distinct; degrees are
    * one map-side-combinable groupBy over the exploded endpoints; the
    * final left join keys on the record id. Nothing pair-quadratic,
    * nothing windowed. Output: (id, cluster_id, degree). */
  def nodeDegrees(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val e = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val deg = e.select(col("__gu").as("__gid"))
      .unionAll(e.select(col("__gv").as("__gid")))
      .groupBy(col("__gid")).agg(count(lit(1)).as("__gdeg"))
    assignment.select(col(idCol), col(clusterCol))
      .join(deg, col(idCol) === col("__gid"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("__gdeg"), lit(0L)).as("degree"))
  }

  /** Per-cluster graph metrics over the verified match edges — Splink's
    * cluster-level `compute_graph_metrics`: size, edge count, density
    * and Freeman degree centralisation. Reading: a large cluster with
    * density near the 2/n spanning-tree floor is held together by a
    * chain of single links (over-merge suspect — [[Evaluation
    * .weakestLinks]] names the link to cut); centralisation near 1 is a
    * hub-and-spoke cluster whose hub record deserves a clerical look
    * (one bad golden-ish record gluing strangers together); density 1 is
    * a clique — every pair independently verified.
    *
    * Definitions (n = n_nodes, E = n_edges, deg over [[nodeDegrees]]'
    * intra-cluster graph):
    *  - `density` = 2E / (n(n−1)), NULL when n < 2 (a singleton has no
    *    pair slots — no evidence, not 0);
    *  - `centralisation` = Σᵢ(max_deg − degᵢ) / ((n−1)(n−2)) — Freeman's
    *    normalization, NULL when n < 3 (the star denominator vanishes).
    *
    * The gate face keeps the integer sufficient statistics (n_nodes,
    * n_edges, max_degree) as longs; the two ratios are computed in
    * pinned all-double order — numerator and denominator each a product
    * of exact long→double casts, one divide — so an oracle mirroring the
    * formula reproduces them bit-for-bit (and n(n−1) can never overflow
    * a long on a 10^12-member pathological cluster, the
    * [[Evaluation.blockingQuality]] lesson). Σ(max−deg) folds as
    * n·max − Σdeg without a second pass.
    *
    * Shapes: one edge-sized distinct, one endpoint-explode groupBy for
    * degrees, one cluster groupBy each for node counts and degree
    * aggregates, one cluster-count-sized join. Clusters are rows even
    * when no edge survived (n_edges 0 — an assignment imported without
    * its evidence shows up instead of vanishing). Output: (cluster_id,
    * n_nodes, n_edges, max_degree, density, centralisation). */
  def graphMetrics(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val deg = nodeDegrees(assignment, edges, idCol, clusterCol, aCol, bCol)
    val n = col("n_nodes").cast("double")
    deg.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("degree")).as("__gsum"),
        max(col("degree")).as("max_degree"))
      .select(col(clusterCol), col("n_nodes"),
        // every intra-cluster edge contributes exactly 2 to __gsum
        (col("__gsum") / lit(2)).cast("long").as("n_edges"),
        col("max_degree"), col("__gsum"))
      .withColumn("density", when(col("n_nodes") >= 2,
        col("__gsum").cast("double") / (n * (col("n_nodes") - 1)
          .cast("double"))))
      .withColumn("centralisation", when(col("n_nodes") >= 3,
        (n * col("max_degree").cast("double") -
          col("__gsum").cast("double")) /
        ((col("n_nodes") - 1).cast("double") *
          (col("n_nodes") - 2).cast("double"))))
      .select(col(clusterCol), col("n_nodes"), col("n_edges"),
        col("max_degree"), col("density"), col("centralisation"))
  }

  /** Bridge flags over the verified match graph — Splink's `is_bridge`
    * edge metric: an intra-cluster edge is a bridge when removing it
    * disconnects its cluster. Bridges are the single points of failure
    * of an entity — each one is ONE pairwise decision holding two
    * otherwise-unrelated record groups together, so the bridge list IS
    * the clerical-review queue for over-merge suspects (where
    * [[Evaluation.weakestLinks]] ranks by score, this ranks by structure;
    * an isolated verified pair is a bridge by definition — cutting it
    * splits the 2-cluster).
    *
    * Semantics are over the SIMPLE intra-cluster graph of
    * [[intraClusterEdges]] (direction/duplicate-normalized, self-loops
    * and cross-cluster edges out) — duplicate rows of one verified pair
    * are artifacts, not parallel evidence, so they must not fake a
    * cycle.
    *
    * Scale shape: bridge-finding is inherently whole-component (every
    * known algorithm walks the component), so the component is the unit
    * of distribution — groups fan out across executors and each runs
    * one O(V+E) iterative Tarjan lowlink pass in arrays local to ITS
    * cluster (the [[graft.operators.Dedup]] lesson applied to graphs:
    * per-bucket work bounded + observable, never corpus-global).
    * Clusters with more than `maxClusterEdges` edges emit nothing here
    * — the group reader stops buffering at the cap, so a monster
    * cluster costs O(cap) memory, not O(cluster) — and `dropped` lists
    * them as (clusterCol, n_edges) with exact sizes (same contract as
    * every capped pair generator in the repo). At real cluster sizes (entity
    * clusters are people/pages, not the corpus) the default cap is
    * effectively "never".
    *
    * Output: (clusterCol, aCol, bCol, is_bridge) — one row per
    * normalized intra-cluster edge, original id/cluster types
    * preserved. */
  def bridgeEdges(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxClusterEdges: Int = 1 << 20): Capped = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val outSchema = StructType(Seq(
      intra.schema("__gc").copy(name = clusterCol),
      intra.schema("__gu").copy(name = aCol),
      intra.schema("__gv").copy(name = bCol),
      StructField("is_bridge", BooleanType, nullable = false)))
    val flagged = perCluster(intra, maxClusterEdges, outSchema) {
      (buf, nodes, eu, ev) =>
        val bridge = lowlinkPass(nodes.length, eu, ev)._1
        buf.iterator.zipWithIndex.map { case (r, k) =>
          Row(r.get(2), r.get(0), r.get(1), bridge(k))
        }
    }
    Capped(flagged, overCapClusters(intra, clusterCol, maxClusterEdges))
  }

  /** `f(edges, nodes, eu, ev)` per cluster of `intra`: its (__gu, __gv,
    * __gc) edge rows, its distinct nodes in first-seen order, and each
    * edge's endpoints as indices into `nodes` (ids compare by value,
    * binary ids by content). Clusters are grouped by the SQL value of
    * `__gc` — the grouping [[overCapClusters]] sizes — and at most
    * `cap` + 1 rows are buffered: a cluster over the cap is detected and
    * skipped without ever materializing past it. */
  private def perCluster(intra: DataFrame, cap: Int, outSchema: StructType)(
      f: (collection.IndexedSeq[Row], collection.IndexedSeq[Any],
        Array[Int], Array[Int]) => Iterator[Row]): DataFrame =
    intra.groupBy(col("__gc"))
      .as[Row, Row](Encoders.row(intra.select(col("__gc")).schema),
        Encoders.row(intra.schema))
      .flatMapGroups { (_: Row, it: Iterator[Row]) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Row]()
        while (it.hasNext && buf.length <= cap) buf += it.next()
        if (buf.length > cap) Iterator.empty
        else {
          val index = new java.util.HashMap[Any, Integer]()
          val nodes = new scala.collection.mutable.ArrayBuffer[Any]()
          def of(x: Any): Int = {
            val key = x match {
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
              case v => v
            }
            var i = index.get(key)
            if (i == null) { i = nodes.length; index.put(key, i); nodes += x }
            i
          }
          val m = buf.length
          val eu = new Array[Int](m); val ev = new Array[Int](m)
          var j = 0
          while (j < m) {
            eu(j) = of(buf(j).get(0)); ev(j) = of(buf(j).get(1)); j += 1
          }
          f(buf, nodes, eu, ev)
        }
      }(Encoders.row(outSchema))

  /** (clusterCol, n_edges) of the clusters over `maxClusterEdges` — the
    * ones the per-cluster passes skip, sized exactly by one map-side-
    * combinable groupBy, nothing buffered. */
  private def overCapClusters(intra: DataFrame, clusterCol: String,
      maxClusterEdges: Int): DataFrame =
    intra.groupBy(col("__gc")).agg(count(lit(1)).as("n_edges"))
      .where(col("n_edges") > maxClusterEdges)
      .select(col("__gc").as(clusterCol), col("n_edges"))

  /** ONE iterative Tarjan lowlink pass over an int-indexed simple graph
    * in CSR arrays, computing bridges (per edge) AND cut vertices /
    * articulation points (per node) together — explicit stack (a
    * 10^5-node chain would blow the JVM stack recursively), parent
    * skipped BY EDGE ID (robust even to parallel edges, though callers
    * pass deduped sets). Bridge: tree edge with low(child) > disc(u);
    * cut: non-root u with a tree child where low(child) ≥ disc(u), or a
    * root with ≥ 2 tree children. O(V+E) time and memory, all primitive
    * arrays. */
  private def lowlinkPass(n: Int, eu: Array[Int],
      ev: Array[Int]): (Array[Boolean], Array[Boolean]) = {
    val m = eu.length
    val deg = new Array[Int](n)
    var j = 0
    while (j < m) { deg(eu(j)) += 1; deg(ev(j)) += 1; j += 1 }
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(start, n)
    val adjN = new Array[Int](2 * m); val adjE = new Array[Int](2 * m)
    j = 0
    while (j < m) {
      adjN(pos(eu(j))) = ev(j); adjE(pos(eu(j))) = j; pos(eu(j)) += 1
      adjN(pos(ev(j))) = eu(j); adjE(pos(ev(j))) = j; pos(ev(j)) += 1
      j += 1
    }
    val disc = Array.fill(n)(-1); val low = new Array[Int](n)
    val parentEdge = new Array[Int](n)
    val stackNode = new Array[Int](n); val stackPtr = new Array[Int](n)
    val isBridge = new Array[Boolean](m)
    val isCut = new Array[Boolean](n)
    var timer = 0
    var root = 0
    while (root < n) {
      if (disc(root) == -1) {
        var top = 0
        var rootChildren = 0
        stackNode(0) = root; stackPtr(0) = start(root)
        parentEdge(root) = -1
        disc(root) = timer; low(root) = timer; timer += 1
        while (top >= 0) {
          val u = stackNode(top)
          if (stackPtr(top) < start(u + 1)) {
            val p = stackPtr(top); stackPtr(top) += 1
            val e = adjE(p); val w = adjN(p)
            if (e != parentEdge(u)) {
              if (disc(w) == -1) {
                disc(w) = timer; low(w) = timer; timer += 1
                parentEdge(w) = e
                if (top == 0) rootChildren += 1
                top += 1; stackNode(top) = w; stackPtr(top) = start(w)
              } else if (disc(w) < low(u)) low(u) = disc(w)
            }
          } else {
            top -= 1
            if (top >= 0) {
              val par = stackNode(top)
              if (low(u) < low(par)) low(par) = low(u)
              if (low(u) > disc(par)) isBridge(parentEdge(u)) = true
              // non-root articulation: some tree child can't reach
              // above par without par
              if (top > 0 && low(u) >= disc(par)) isCut(par) = true
            }
          }
        }
        if (rootChildren >= 2) isCut(root) = true
      }
      root += 1
    }
    (isBridge, isCut)
  }

  /** Articulation records (cut vertices) of the verified match graph —
    * the node-level sibling of [[bridgeEdges]]: a record whose removal
    * disconnects its cluster. Where a bridge is one fragile DECISION, an
    * articulation record is one fragile RECORD — the classic over-merge
    * culprit is a single bad row (a shared placeholder email, a
    * tokenized-away name) that alone connects two real entities, and it
    * is exactly a cut vertex even when its incident edges individually
    * sit in cycles. Complements `centralisation` (which flags hubs only
    * statistically) with the exact structural test.
    *
    * Same distribution contract as [[bridgeEdges]]: per-cluster
    * iterative Tarjan (ONE shared lowlink pass computes both metrics),
    * groups buffered only to `maxClusterEdges` (+1 detection row),
    * oversized clusters emit nothing here and are listed in `dropped`.
    * Output: one row per record incident to
    * ≥ 1 intra-cluster edge — an edgeless record can't cut anything —
    * with its flag: (clusterCol, idCol, is_articulation). */
  def articulationRecords(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxClusterEdges: Int = 1 << 20): Capped = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val outSchema = StructType(Seq(
      intra.schema("__gc").copy(name = clusterCol),
      intra.schema("__gu").copy(name = idCol),
      StructField("is_articulation", BooleanType, nullable = false)))
    val flagged = perCluster(intra, maxClusterEdges, outSchema) {
      (buf, nodes, eu, ev) =>
        val cut = lowlinkPass(nodes.length, eu, ev)._2
        nodes.iterator.zipWithIndex.map { case (id, k) =>
          Row(buf.head.get(2), id, cut(k))
        }
    }
    Capped(flagged, overCapClusters(intra, clusterCol, maxClusterEdges))
  }

  /** Per-cluster triangle census over the verified match graph — the
    * cohesion counterpart of [[graphMetrics]]' density: `transitivity`
    * = 3·triangles / wedges (the global clustering coefficient,
    * restricted to the cluster) measures how much of the evidence
    * CLOSES. Reading: density says how many pairs were verified at all;
    * transitivity says whether those verifications corroborate each
    * other — a cluster can be moderately dense yet triangle-free (a
    * bipartite-ish merge of two record groups, every wedge open), which
    * is exactly the over-merge shape [[bridgeEdges]] flags edge-by-edge
    * and this flags in one scalar. Triangle-rich clusters survive any
    * single clerical reversal; transitivity 0 clusters are one
    * retraction away from splitting.
    *
    * Scale shape: triangle counting NEVER enumerates per-vertex
    * neighborhood squares blindly — edges are ORIENTED from
    * lower-(degree, id) to higher-(degree, id) endpoint first (the
    * MapReduce triangle-counting move of Suri & Vassilvitskii, WWW'11),
    * so wedge enumeration is Σᵥ C(outdeg(v), 2) = O(E^{3/2}) total
    * (Chiba-Nishizeki bound) regardless of skew — a hot record with
    * degree d contributes d oriented IN-edges and only O(√E) out-edges.
    * The pipeline is three equi-joins and two groupBys: degree join,
    * oriented-wedge self-join on the source, closing-edge equi-join on
    * (b, c) — no windows, no per-group buffering, no caps needed (the
    * orientation IS the skew remedy, unlike the buffered Tarjan passes
    * which cap). Wedge counts fold as Σ d(d−1)/2 in decimal(38,0)
    * (the [[Evaluation.blockingQuality]] overflow lesson — a degree-3e9
    * record would overflow a long product).
    *
    * Semantics over the SIMPLE intra-cluster graph of
    * [[intraClusterEdges]] (duplicates/self-loops/cross-cluster edges
    * out — a duplicated verified pair must not fake a closed triangle).
    * Every cluster in the assignment is a row (edgeless → 0 triangles,
    * 0 wedges); `transitivity` = 3T/W as one pinned double division,
    * NULL when the cluster has no wedge (a lone edge closes nothing —
    * no evidence, not 0). Output: (clusterCol, n_triangles, n_wedges,
    * transitivity). */
  def clusterTriangles(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val dec = "decimal(38,0)"
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val (deg, tri) = triangles(intra, Seq("__gc"))
    // wedges per cluster: each edge-incident node appears once per side
    // it touches — distinct to once — then Σ d(d−1)/2 over the cluster
    val wedges = intra.select(col("__gu").as("__tid"), col("__gc"))
      .unionAll(intra.select(col("__gv").as("__tid"), col("__gc")))
      .distinct()
      .join(deg, "__tid")
      .groupBy(col("__gc"))
      .agg((sum(col("__tdeg").cast(dec) * (col("__tdeg").cast(dec) - 1))
        / 2).cast("long").as("n_wedges"))
    val nTri = tri.groupBy(col("__gc")).agg(count(lit(1)).as("n_triangles"))
    assignment.select(col(clusterCol)).distinct()
      .join(wedges.withColumnRenamed("__gc", clusterCol), Seq(clusterCol),
        "left")
      .join(nTri.withColumnRenamed("__gc", clusterCol), Seq(clusterCol),
        "left")
      .select(col(clusterCol),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"))
      .withColumn("transitivity", when(col("n_wedges") > 0,
        lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double")))
  }

  /** Per-record core number (coreness) in the verified match graph — the
    * k-core view of cluster robustness that degree alone misses: a
    * record's core number is the largest k such that it survives
    * repeatedly deleting every record with fewer than k remaining
    * same-cluster matches. Reading for review queues: `core = 1` inside
    * a big cluster marks a record dangling off the cluster by a single
    * chain (the classic over-merge appendage — [[bridgeEdges]] names the
    * edge, this names the whole tail); a high min-core cluster is
    * edit-tolerant (no single clerical deletion can shed members).
    *
    * Algorithm: iterated h-index (Lü et al. 2016, "The H-index of a
    * network node and its relation to degree and coreness" — public
    * result): h₀(v) = deg(v), hₜ₊₁(v) = H({hₜ(u) : u ∈ N(v)}) where H is
    * the largest h with ≥ h neighbors valued ≥ h. The sequence is
    * monotone non-increasing and its fixpoint is exactly coreness, which
    * makes it the distributed formulation of peeling: each round is two
    * stock shuffles (join values onto the bidirected edge list, then a
    * per-node window + groupBy for the H-operator) — no global priority
    * queue, no sequential peel order. All values are integers, so the
    * fixpoint is bit-exact and algorithm-independent: the DuckDB oracle
    * replays the same iteration as a recursive CTE and must agree
    * hash-for-hash.
    *
    * Scale shapes: the bidirected intra-cluster edge list is built once
    * and reused every round ([[intraClusterEdges]] normalization:
    * dedup'd, self-loops out, cross-cluster edges out); per-round state
    * is one (id, h) frame, materialized by [[Frames.shared]] (the
    * convergence aggregate right after is the single action per round)
    * exactly like [[ConnectedComponents]]. The
    * H-operator's window partitions by node id, so its cost is bounded
    * by max degree, not cluster size; a 10^7-degree hub serializes one
    * task for its own sort (AQE cannot split a window partition) — on
    * graphs with such hubs, cap them upstream ([[Linkage]] pair caps
    * already bound degree by construction). Rounds: ≤ a few dozen on
    * real graphs (empirically O(√n) worst case, tiny on web-shaped
    * graphs); `maxIter` is a job-killing `require`, not a silent
    * truncation. Records with no surviving edge get core 0.
    *
    * Output: (idCol, clusterCol, core_number: Long). */
  def coreNumbers(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxIter: Int = 200): DataFrame = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    // bidirected edge list, read by the finish and by every round
    val b = Frames.shared(intra
      .select(col("__gu").as("__cu"), col("__gv").as("__cv"))
      .unionAll(intra.select(col("__gv").as("__cu"), col("__gu").as("__cv"))))

    // Driver finish ([[DriverFinish]]): coreness is a unique integer
    // function of the edge set (the h-index fixpoint IS coreness), so the
    // classic O(E) peel over the collected bidirected edge list computes
    // the same values as every distributed round (2 shuffles + a window +
    // an action each). Ids are hashed, so only hashable id types finish.
    val spark = assignment.sparkSession
    val coreCap = DriverFinish.cap(spark, "core.driverFinishEdges")
    val finished = DriverFinish.collected(b, Seq("__cu", "__cv"), coreCap).map { rows =>
      val idx = new java.util.HashMap[Any, Integer]()
      rows.foreach { r =>
        idx.computeIfAbsent(r.get(0), _ => Integer.valueOf(idx.size))
      }
      val n = idx.size
      val deg = new Array[Int](n)
      rows.foreach(r => deg(idx.get(r.get(0))) += 1)
      val adjStart = new Array[Int](n + 1)
      var i = 0
      while (i < n) { adjStart(i + 1) = adjStart(i) + deg(i); i += 1 }
      val fill = adjStart.clone()
      val adj = new Array[Int](rows.length)
      rows.foreach { r =>
        val u = idx.get(r.get(0)); adj(fill(u)) = idx.get(r.get(1))
        fill(u) += 1
      }
      // Batagelj–Zaveršnik bucket peel: process nodes in nondecreasing
      // degree; each processed node's coreness is its current degree,
      // and its unprocessed higher-degree neighbors lose one
      val core = deg.clone()
      val maxDeg = if (n == 0) 0 else core.max
      val bin = new Array[Int](maxDeg + 2)
      core.foreach(d => bin(d) += 1)
      var s = 0
      var d = 0
      while (d <= maxDeg) { val t = bin(d); bin(d) = s; s += t; d += 1 }
      val vert = new Array[Int](n)
      val posv = new Array[Int](n)
      i = 0
      while (i < n) {
        posv(i) = bin(core(i)); vert(posv(i)) = i; bin(core(i)) += 1
        i += 1
      }
      d = maxDeg
      while (d > 0) { bin(d) = bin(d - 1); d -= 1 }
      bin(0) = 0
      i = 0
      while (i < n) {
        val v = vert(i)
        var j = adjStart(v)
        while (j < adjStart(v + 1)) {
          val u = adj(j)
          if (core(u) > core(v)) {
            val du = core(u); val pu = posv(u)
            val pw = bin(du); val w = vert(pw)
            if (u != w) {
              posv(u) = pw; vert(pu) = w; posv(w) = pu; vert(pw) = u
            }
            bin(du) += 1
            core(u) -= 1
          }
          j += 1
        }
        i += 1
      }
      DriverFinish.frame(spark, new StructType()
          .add("__cid", b.schema("__cu").dataType).add("__ch", LongType),
        idx.asScala.toSeq.map { case (id, k) => Row(id, core(k).toLong) })
    }

    // round state: the empty probe and the first round's two joins
    var h = finished.getOrElse(Frames.shared(b.groupBy(col("__cu").as("__cid"))
      .agg(count(lit(1)).as("__ch"))))
    var iter = 0
    var done = finished.isDefined || h.isEmpty // edgeless: nothing to do
    while (!done && iter < maxIter) {
      // neighbor values: (node, h(neighbor)) for every directed edge
      val nv = b.join(h, b("__cv") === h("__cid"))
        .select(b("__cu").as("__cid"), col("__ch").as("__chv"))
      // H-operator: rank neighbor values descending; H = max min(rank, v)
      // (tie order among equal values cannot change min(rank, v)'s max)
      val w = W.partitionBy(col("__cid")).orderBy(col("__chv").desc)
      val hidx = nv.select(col("__cid"), col("__chv"),
          row_number().over(w).cast("long").as("__crn"))
        .groupBy(col("__cid"))
        .agg(max(least(col("__crn"), col("__chv"))).as("__chh"))
      // round state: the change count and the next round's two joins
      val next = Frames.shared(h.join(hidx, Seq("__cid"), "left")
        .select(col("__cid"), col("__ch").as("__cold"),
          least(col("__ch"), coalesce(col("__chh"), lit(0L))).as("__ch")))
      // single action per round: materializes `next` AND counts changes
      val changed = next.agg(
        sum(when(col("__ch") =!= col("__cold"), 1L).otherwise(0L)))
        .head.getLong(0)
      h = next.select(col("__cid"), col("__ch"))
      done = changed == 0L
      iter += 1
    }
    require(done, s"coreNumbers did not converge in $maxIter rounds")
    assignment.select(col(idCol), col(clusterCol))
      .join(h, col(idCol) === col("__cid"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("__ch"), lit(0L)).as("core_number"))
  }

  /** The triangles of a canonical (u < v) edge frame `(__gu, __gv, …)`
    * by degree-oriented wedge enumeration: each edge is oriented toward
    * its higher-(degree, id) end (u < v already holds, so equal degrees
    * keep u → v), and each triangle is found ONCE from its lowest corner
    * as an oriented wedge b ← src → c with rank(b) < rank(c), closed by
    * the edge b → c (Σ outdeg² ≈ O(E^1.5) wedge candidates). Returns the
    * degree frame `(__tid, __tdeg)` and the triangles `(__src, __b, __c,
    * carry…)`, `carry` taken from the edge src → b. */
  private def triangles(edges: DataFrame,
      carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val deg = edges.select(col("__gu").as("__tid"))
      .unionAll(edges.select(col("__gv").as("__tid")))
      .groupBy(col("__tid")).agg(count(lit(1)).as("__tdeg"))
    val keep = col("__du") <= col("__dv")
    val dirE = edges
      .join(deg.select(col("__tid").as("__gu"), col("__tdeg").as("__du")),
        "__gu")
      .join(deg.select(col("__tid").as("__gv"), col("__tdeg").as("__dv")),
        "__gv")
      .select(Seq(when(keep, col("__gu")).otherwise(col("__gv")).as("__src"),
        when(keep, col("__gv")).otherwise(col("__gu")).as("__dst"),
        when(keep, col("__dv")).otherwise(col("__du")).as("__dd")) ++
        carry.map(col): _*)
    val x = dirE.select(Seq(col("__src"), col("__dst").as("__b"),
      col("__dd").as("__db")) ++ carry.map(col): _*)
    val y = dirE.select(col("__src"), col("__dst").as("__c"),
      col("__dd").as("__dc"))
    val tri = x.join(y, Seq("__src"))
      .where(col("__db") < col("__dc") ||
        (col("__db") === col("__dc") && col("__b") < col("__c")))
      .join(dirE.select(col("__src").as("__b"), col("__dst").as("__c")),
        Seq("__b", "__c"))
      .select(Seq(col("__src"), col("__b"), col("__c")) ++ carry.map(col): _*)
    (deg, tri)
  }

  /** Per-edge triangle support over a canonical (u < v) edge frame: each
    * of its [[triangles]] credits all three of its edges. Edges in no
    * triangle are absent (callers coalesce to 0). */
  private def edgeSupport(cur: DataFrame): DataFrame = {
    val (_, tri) = triangles(cur)
    tri.select(least(col("__src"), col("__b")).as("__gu"),
        greatest(col("__src"), col("__b")).as("__gv"))
      .unionAll(tri.select(least(col("__src"), col("__c")).as("__gu"),
        greatest(col("__src"), col("__c")).as("__gv")))
      .unionAll(tri.select(least(col("__b"), col("__c")).as("__gu"),
        greatest(col("__b"), col("__c")).as("__gv")))
      .groupBy(col("__gu"), col("__gv"))
      .agg(count(lit(1)).as("__sup"))
  }

  /** k-truss of the verified match graph, per cluster (Cohen 2008): the
    * maximal subgraph in which EVERY surviving edge closes at least
    * k−2 triangles with other surviving edges — the edge-cohesion
    * complement to [[coreNumbers]] (a k-truss is always inside the
    * (k−1)-core, but demands triangle evidence, not just degree):
    * truss edges are links corroborated by mutual neighbors, exactly
    * the redundancy a defensible ER merge wants, while bridges and
    * chains peel away. Classic QA read: an over-merged cluster's
    * k-truss (k ≥ 4) keeps its verified core and drops the spurious
    * chain that glued two entities together.
    *
    * Algorithm: iterative peeling to the FIXED POINT — compute per-edge
    * triangle support (degree-oriented wedge join, each triangle from
    * its lowest-degree corner), delete edges with support < k−2,
    * repeat until no deletion (peeling is monotone, so extra rounds
    * are no-ops — which is also what makes the unrolled-SQL oracle
    * exact with any generous round budget). Deterministic: deletions
    * depend only on the current edge set, never on order. One action
    * per round (the surviving-edge count), each round materialized by
    * [[Frames.shared]], rounds bounded by `maxIter` (each round deletes
    * ≥ 1 edge or stops, so ≤ |E| rounds; in practice a handful).
    *
    * Output: (cluster, u, v, support) — the surviving edges with their
    * final (converged) support, support ≥ k−2 by construction. */
  def trussEdges(assignment: DataFrame, edges: DataFrame, k: Int,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxIter: Int = 10000): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    // read by the count, the finish and the first round's support join
    var cur = Frames.shared(intraClusterEdges(assignment, edges, idCol,
      clusterCol, aCol, bCol))
    var prev = cur.count()

    // Driver finish ([[DriverFinish]]): the maximal k-truss is a UNIQUE
    // subgraph of the edge set (peeling is confluent — deletions depend
    // only on the current edge set, never order), so an in-process peel
    // over adjacency sets of the collected intra-cluster edges computes
    // the same survivors and final supports as O(rounds) wedge-join
    // shuffles. Ids are hashed, so only hashable id types finish.
    val spark = assignment.sparkSession
    if (DriverFinish.fitsHashed(cur, Seq("__gu", "__gv"),
        DriverFinish.cap(spark, "truss.driverFinishEdges"), prev)) {
      val rows = cur.collect() // (__gu, __gv, __gc)
      val live = new java.util.HashMap[(Any, Any), Any]() // edge -> cluster
      val adj = new java.util.HashMap[Any, java.util.HashSet[Any]]()
      def link(u: Any, v: Any): Unit =
        adj.computeIfAbsent(u, _ => new java.util.HashSet[Any]()).add(v)
      rows.foreach { r =>
        live.put((r.get(0), r.get(1)), r.get(2))
        link(r.get(0), r.get(1)); link(r.get(1), r.get(0))
      }
      def support(u: Any, v: Any): Long = {
        val nu = adj.get(u); val nv = adj.get(v)
        if (nu == null || nv == null) 0L
        else {
          val (small, big) = if (nu.size <= nv.size) (nu, nv) else (nv, nu)
          var c = 0L
          val it = small.iterator()
          while (it.hasNext) if (big.contains(it.next())) c += 1
          c
        }
      }
      var changed = true
      while (changed) {
        changed = false
        val doomed = new scala.collection.mutable.ArrayBuffer[(Any, Any)]()
        val it = live.keySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (support(e._1, e._2) < k - 2) doomed += e
        }
        if (doomed.nonEmpty) {
          changed = true
          doomed.foreach { case (u, v) =>
            live.remove((u, v))
            val nu = adj.get(u); if (nu != null) nu.remove(v)
            val nv = adj.get(v); if (nv != null) nv.remove(u)
          }
        }
      }
      val sch = cur.schema
      return DriverFinish.frame(spark, new StructType()
          .add(clusterCol, sch("__gc").dataType).add(aCol, sch("__gu").dataType)
          .add(bCol, sch("__gv").dataType).add("support", LongType),
        live.asScala.toSeq.map { case ((u, v), c) => Row(c, u, v, support(u, v)) })
    }

    var iter = 0
    var done = prev == 0L
    while (!done && iter < maxIter) {
      // round state: the count and the next round's support join
      val next = Frames.shared(cur
        .join(edgeSupport(cur), Seq("__gu", "__gv"), "left")
        .where(coalesce(col("__sup"), lit(0L)) >= k - 2)
        .select(col("__gu"), col("__gv"), col("__gc")))
      val n = next.count() // the round's single action; materializes next
      cur = next
      done = n == prev
      prev = n
      iter += 1
    }
    require(done, s"trussEdges did not converge in $maxIter rounds")
    cur.join(edgeSupport(cur), Seq("__gu", "__gv"), "left")
      .select(col("__gc").as(clusterCol), col("__gu").as(aCol),
        col("__gv").as(bCol), coalesce(col("__sup"), lit(0L)).as("support"))
  }
}
