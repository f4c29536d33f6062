package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Splink-style graph QA (node degrees, cluster density/centralisation)
  * and the unlinkables curve, on hand-computed fixtures plus brute-force
  * random cross-checks and the edge-normalization/null contracts. */
class GraphMetricsSpec extends SparkFunSuite {

  import spark.implicits._

  // clusters: A = {1,2,3,4}, B = {5,6}, C = {7} (singleton)
  private lazy val asg = Seq(
    (1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"),
    (5L, "B"), (6L, "B"), (7L, "C")).toDF("id", "cluster_id")

  // intra-A edges (1,2),(2,3),(3,4),(1,3); intra-B edge (5,6);
  // noise that must be normalized away: duplicate (1,2), reversed (3,2),
  // self-loop (4,4), and a CROSS-cluster edge (4,5).
  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 6L),
    (1L, 2L), (3L, 2L), (4L, 4L), (4L, 5L)).toDF("url_a", "url_b")

  test("nodeDegrees: normalization, cross-cluster exclusion, zero rows") {
    val got = GraphMetrics.nodeDegrees(asg, edges)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "A", 2L), (2L, "A", 2L), (3L, "A", 3L),
      (4L, "A", 1L), (5L, "B", 1L), (6L, "B", 1L), (7L, "C", 0L)))
  }

  test("graphMetrics: density/centralisation and their NULL floors") {
    val rows = GraphMetrics.graphMetrics(asg, edges)
      .orderBy("cluster_id").collect()
    assert(rows.length == 3)
    // A: n=4, E=4, Σdeg=8, max=3
    assert(rows(0).getLong(1) == 4L && rows(0).getLong(2) == 4L &&
      rows(0).getLong(3) == 3L)
    assert(rows(0).getDouble(4) == 8.0 / (4.0 * 3.0))
    assert(rows(0).getDouble(5) == (4.0 * 3.0 - 8.0) / (3.0 * 2.0))
    // B: n=2, E=1 — a verified pair is a clique of 2; centralisation
    // undefined below n=3
    assert(rows(1).getLong(1) == 2L && rows(1).getLong(2) == 1L)
    assert(rows(1).getDouble(4) == 1.0 && rows(1).isNullAt(5))
    // C: singleton — no pair slots, both ratios NULL, row still present
    assert(rows(2).getLong(1) == 1L && rows(2).getLong(2) == 0L &&
      rows(2).getLong(3) == 0L)
    assert(rows(2).isNullAt(4) && rows(2).isNullAt(5))
  }

  test("graphMetrics: edgeless cluster set — all zero/NULL, no absences") {
    val none = Seq.empty[(Long, Long)].toDF("url_a", "url_b")
    val rows = GraphMetrics.graphMetrics(asg, none).collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("nodeDegrees matches brute force on a random graph") {
    val rng = new scala.util.Random(7)
    val n = 40
    val asgSeq = (1 to n).map(i => (i.toLong, s"c${i % 4}"))
    val edgeSeq = Seq.fill(120)((rng.nextInt(n) + 1L, rng.nextInt(n) + 1L))
    // reference: canonical intra-cluster edge set, then count partners
    val cluster = asgSeq.toMap
    val canon = edgeSeq.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b && cluster(a) == cluster(b) }
      .distinct
    val refDeg = (1 to n).map { i =>
      (i.toLong, canon.count { case (a, b) => a == i || b == i }.toLong)
    }.toMap
    val got = GraphMetrics.nodeDegrees(
        asgSeq.toDF("id", "cluster_id").repartition(5),
        edgeSeq.toDF("url_a", "url_b").repartition(7))
      .select("id", "degree").as[(Long, Long)].collect().toMap
    assert(got == refDeg)
    // and Σdeg = 2E per cluster, folded through graphMetrics
    val gm = GraphMetrics.graphMetrics(asgSeq.toDF("id", "cluster_id"),
        edgeSeq.toDF("url_a", "url_b"))
      .select("cluster_id", "n_edges").as[(String, Long)].collect().toMap
    val refE = canon.groupBy(e => cluster(e._1)).map { case (c, es) =>
      (c, es.size.toLong) }
    assert(gm == refE)
  }

  test("unlinkables: hand-computed curve incl. the no-pair NULL path") {
    val recs = (1L to 5L).toDF("url")
    val scored = Seq((1L, 2L, 0.9), (2L, 3L, 0.5))
      .toDF("url_a", "url_b", "score")
    val got = Evaluation.unlinkables(recs, scored, Seq(0.4, 0.6, 0.95))
      .orderBy("theta").as[(Double, Long, Long, Double)].collect().toSeq
    // best: 1→0.9, 2→0.9, 3→0.5, 4/5→no evidence (count everywhere)
    assert(got == Seq((0.4, 5L, 2L, 0.4), (0.6, 5L, 3L, 0.6),
      (0.95, 5L, 5L, 1.0)))
  }

  test("unlinkables: empty pair frame strands every record at every θ") {
    val recs = (1L to 4L).toDF("url")
    val scored = Seq.empty[(Long, Long, Double)]
      .toDF("url_a", "url_b", "score")
    val got = Evaluation.unlinkables(recs, scored, Seq(0.1, 0.9))
      .orderBy("theta").as[(Double, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0.1, 4L, 4L, 1.0), (0.9, 4L, 4L, 1.0)))
  }

  test("unlinkables: boundary is strict (best == θ is linkable)") {
    val recs = (1L to 2L).toDF("url")
    val scored = Seq((1L, 2L, 0.7)).toDF("url_a", "url_b", "score")
    val got = Evaluation.unlinkables(recs, scored, Seq(0.7))
      .as[(Double, Long, Long, Double)].head()
    assert(got == ((0.7, 2L, 0L, 0.0)))
  }

  test("unlinkables: a repeated threshold is rejected, not counted twice") {
    // one θ listed twice would count every record twice in its row
    val recs = (1L to 2L).toDF("url")
    val scored = Seq((1L, 2L, 0.7)).toDF("url_a", "url_b", "score")
    val e = intercept[IllegalArgumentException](
      Evaluation.unlinkables(recs, scored, Seq(0.7, 0.7)))
    assert(e.getMessage.contains("unlinkables"), e.getMessage)
  }

  // ------------------------------------------------------- bridge edges

  private def bridgeSet(asgDf: org.apache.spark.sql.DataFrame,
      edgeDf: org.apache.spark.sql.DataFrame, cap: Int = 1 << 20) =
    GraphMetrics.bridgeEdges(asgDf, edgeDf, maxClusterEdges = cap).out
      .where(col("is_bridge"))
      .select("url_a", "url_b").as[(Long, Long)].collect().toSet

  test("bridgeEdges: chain = all bridges, cycle = none, pendant = one") {
    val chainAsg = (1L to 4L).map((_, "A")).toDF("id", "cluster_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("url_a", "url_b")
    assert(bridgeSet(chainAsg, chain) == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    val cyc = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("url_a", "url_b")
    assert(bridgeSet(chainAsg, cyc) == Set.empty)
    // cycle 1-2-3 + pendant 3-4: only the pendant is a bridge, and the
    // full frame still carries every edge with its flag
    val pend = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("url_a", "url_b")
    assert(bridgeSet(chainAsg, pend) == Set((3L, 4L)))
    assert(GraphMetrics.bridgeEdges(chainAsg, pend).out.count() == 4L)
  }

  test("bridgeEdges: duplicates/reversals don't fake a cycle; " +
      "cross-cluster edges are out; isolated pair is a bridge") {
    // (1,2) duplicated and reversed stays ONE simple edge → bridge
    val asg2 = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("id", "cluster_id")
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L), (2L, 3L))
      .toDF("url_a", "url_b")
    // cross-cluster (2,3) excluded; both intra pairs are isolated pairs
    assert(bridgeSet(asg2, e) == Set((1L, 2L), (3L, 4L)))
  }

  test("bridgeEdges matches brute-force removal on random graphs") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 14
      val asgDf = (1 to n).map(i => (i.toLong, s"c${i % 2}"))
        .toDF("id", "cluster_id")
      val raw = Seq.fill(24)((rng.nextInt(n) + 1L, rng.nextInt(n) + 1L))
      val cluster = (1 to n).map(i => (i.toLong, i % 2)).toMap
      val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b && cluster(a) == cluster(b) }
        .distinct
      // reference: edge is a bridge iff removing it breaks u↝v
      def reachable(es: Seq[(Long, Long)], from: Long, to: Long): Boolean = {
        val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
        val seen = scala.collection.mutable.Set(from)
        val q = scala.collection.mutable.Queue(from)
        while (q.nonEmpty) {
          val u = q.dequeue()
          adj.getOrElse(u, Nil).foreach { w =>
            if (seen.add(w)) q.enqueue(w)
          }
        }
        seen(to)
      }
      val ref = canon.filter { e =>
        !reachable(canon.filterNot(_ == e), e._1, e._2)
      }.toSet
      assert(bridgeSet(asgDf, raw.toDF("url_a", "url_b")) == ref,
        s"trial $trial")
    }
  }

  private def cutSet(asgDf: org.apache.spark.sql.DataFrame,
      edgeDf: org.apache.spark.sql.DataFrame) =
    GraphMetrics.articulationRecords(asgDf, edgeDf).out
      .where(col("is_articulation"))
      .select("id").as[Long].collect().toSet

  test("articulationRecords: chain/cycle/pendant/shared-node cases") {
    val asg5 = (1L to 5L).map((_, "A")).toDF("id", "cluster_id")
    // chain 1-2-3-4: interior nodes cut
    assert(cutSet(asg5, Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("url_a", "url_b")) == Set(2L, 3L))
    // cycle: nothing cuts
    assert(cutSet(asg5, Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("url_a", "url_b")) == Set.empty)
    // two triangles sharing node 3: a cut vertex with NO bridge edge —
    // the case degree/bridge views both miss
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L)).toDF("url_a", "url_b")
    assert(cutSet(asg5, twoTri) == Set(3L))
    assert(bridgeSet(asg5, twoTri) == Set.empty)
    // one row per edge-incident record, flag both ways
    val all = GraphMetrics.articulationRecords(asg5, twoTri).out
      .as[(String, Long, Boolean)].collect().toSet
    assert(all == Set(("A", 1L, false), ("A", 2L, false), ("A", 3L, true),
      ("A", 4L, false), ("A", 5L, false)))
  }

  test("articulationRecords matches brute-force node removal") {
    val rng = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 14
      val asgDf = (1 to n).map(i => (i.toLong, s"c${i % 2}"))
        .toDF("id", "cluster_id")
      val raw = Seq.fill(26)((rng.nextInt(n) + 1L, rng.nextInt(n) + 1L))
      val cluster = (1 to n).map(i => (i.toLong, i % 2)).toMap
      val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b && cluster(a) == cluster(b) }
        .distinct
      def reach(es: Seq[(Long, Long)], from: Long): Set[Long] = {
        val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
        val seen = scala.collection.mutable.Set(from)
        val q = scala.collection.mutable.Queue(from)
        while (q.nonEmpty) {
          adj.getOrElse(q.dequeue(), Nil)
            .foreach(w => if (seen.add(w)) q.enqueue(w))
        }
        seen.toSet
      }
      // x cuts iff its neighbors aren't all mutually reachable without x
      val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct
      val ref = nodes.filter { x =>
        val nbrs = canon.collect {
          case (a, b) if a == x => b
          case (a, b) if b == x => a
        }.distinct
        val without = canon.filter(e => e._1 != x && e._2 != x)
        nbrs.size > 1 && !nbrs.tail.forall(reach(without, nbrs.head))
      }.toSet
      assert(cutSet(asgDf, raw.toDF("url_a", "url_b")) == ref, s"trial $trial")
    }
  }

  test("bridgeEdges cap: oversized cluster dropped, observable, bounded") {
    val asgDf = (1L to 5L).map((_, "A")).toDF("id", "cluster_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("url_a", "url_b")
    assert(bridgeSet(asgDf, chain, cap = 3) == Set.empty)
    val dropped = GraphMetrics.bridgeEdges(asgDf, chain,
        maxClusterEdges = 3).dropped
      .as[(String, Long)].collect().toSeq
    assert(dropped == Seq(("A", 4L)))
    // at cap ≥ size nothing drops
    assert(GraphMetrics.bridgeEdges(asgDf, chain,
      maxClusterEdges = 4).dropped.count() == 0L)
  }

  test("bridgeEdges/articulationRecords: a null and an empty-string cluster " +
      "are grouped apart; null-cluster edges are out") {
    // "" holds chain 1-2-3, null holds chain 4-5-6: 2 edges each, 4
    // together, cap 3
    val asgDf = Seq((1L, ""), (2L, ""), (3L, ""), (4L, null), (5L, null),
      (6L, null)).toDF("id", "cluster_id")
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L)).toDF("url_a", "url_b")
    val bridges = GraphMetrics.bridgeEdges(asgDf, e, maxClusterEdges = 3)
    assert(bridges.out.as[(String, Long, Long, Boolean)].collect().toSet ==
      Set(("", 1L, 2L, true), ("", 2L, 3L, true)))
    assert(bridges.dropped.count() == 0L)
    val cuts = GraphMetrics.articulationRecords(asgDf, e, maxClusterEdges = 3)
    assert(cuts.out.as[(String, Long, Boolean)].collect().toSet ==
      Set(("", 1L, false), ("", 2L, true), ("", 3L, false)))
    assert(cuts.dropped.count() == 0L)
  }

  test("bridgeEdges/articulationRecords: binary cluster and record ids " +
      "give the flags of the same ids as strings") {
    // A: cycle 1-2-3 + pendant 3-4; B: chain 5-6-7
    val asgDf = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "B"),
      (6L, "B"), (7L, "B")).toDF("id", "cluster_id")
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L), (6L, 7L))
      .toDF("url_a", "url_b")
    val bin = (c: String) => col(c).cast("string").cast("binary")
    val hexId = (c: String) => hex(bin(c))
    def flags(asg: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame, ids: String => Column) = (
      GraphMetrics.bridgeEdges(asg, edges).out
        .select(col("cluster_id").cast("string"), ids("url_a"), ids("url_b"),
          col("is_bridge"))
        .as[(String, String, String, Boolean)].collect().toSet,
      GraphMetrics.articulationRecords(asg, edges).out
        .select(col("cluster_id").cast("string"), ids("id"),
          col("is_articulation"))
        .as[(String, String, Boolean)].collect().toSet)
    val byString = flags(asgDf, e, c => col(c).cast("string"))
    assert(byString._1.count(_._4) == 3 && byString._2.count(_._3) == 2)
    val binCluster = asgDf.withColumn("cluster_id", col("cluster_id").cast("binary"))
    assert(flags(binCluster, e, c => col(c).cast("string")) == byString)
    // binary record ids too, compared through their hex form
    val hexAsg = asgDf.select(hexId("id").as("id"), col("cluster_id"))
    val hexEdges = e.select(hexId("url_a").as("url_a"), hexId("url_b").as("url_b"))
    val binAsg = binCluster.withColumn("id", bin("id"))
    val binEdges = e.select(bin("url_a").as("url_a"), bin("url_b").as("url_b"))
    assert(flags(binAsg, binEdges, c => hex(col(c))) ==
      flags(hexAsg, hexEdges, col))
  }

  // ------------------------------------------------------- triangles

  test("clusterTriangles: hand fixture incl. normalization noise") {
    // A: edges (1,2)(2,3)(3,4)(1,3) → one triangle {1,2,3};
    // degrees 2,2,3,1 → wedges 1+1+3+0 = 5; B: lone edge → 0 wedges;
    // C: edgeless singleton → zero row. The shared `edges` frame carries
    // a duplicate, a reversal, a self-loop, and a cross-cluster edge —
    // none may fake a wedge or close a triangle.
    val rows = GraphMetrics.clusterTriangles(asg, edges)
      .orderBy("cluster_id").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 5L &&
      rows(0).getDouble(3) == 3.0 / 5.0)
    assert(rows(1).getLong(1) == 0L && rows(1).getLong(2) == 0L &&
      rows(1).isNullAt(3))
    assert(rows(2).getLong(1) == 0L && rows(2).getLong(2) == 0L &&
      rows(2).isNullAt(3))
  }

  test("clusterTriangles: K4 is fully transitive, a 4-cycle closes nothing") {
    val asg2 = (1L to 8L).map(i => (i, if (i <= 4) "K" else "S"))
      .toDF("id", "cluster_id")
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L)).toDF("url_a", "url_b")
    val got = GraphMetrics.clusterTriangles(asg2, e)
      .orderBy("cluster_id").collect()
    assert(got(0).getLong(1) == 4L && got(0).getLong(2) == 12L &&
      got(0).getDouble(3) == 1.0)
    assert(got(1).getLong(1) == 0L && got(1).getLong(2) == 4L &&
      got(1).getDouble(3) == 0.0)
  }

  test("clusterTriangles matches brute force on random graphs") {
    val rng = new scala.util.Random(41)
    for (round <- 0 until 3) {
      val n = 30
      val asgSeq = (1 to n).map(i => (i.toLong, s"c${i % 3}"))
      val cluster = asgSeq.toMap
      val edgeSeq = Seq.fill(150 + round * 40)(
        (rng.nextInt(n) + 1L, rng.nextInt(n) + 1L))
      val canon = edgeSeq
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b && cluster(a) == cluster(b) }
        .distinct
      val eset = canon.toSet
      val refTri = (for {
        u <- 1L to n; v <- (u + 1) to n; w <- (v + 1) to n
        if eset((u, v)) && eset((v, w)) && eset((u, w))
      } yield cluster(u)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val refWed = canon.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .groupBy { case (id, _) => cluster(id) }
        .view.mapValues(_.map { case (_, d) => d * (d - 1) / 2 }.sum).toMap
      val got = GraphMetrics.clusterTriangles(
          asgSeq.toDF("id", "cluster_id").repartition(5),
          edgeSeq.toDF("url_a", "url_b").repartition(7))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .toMap
      for (c <- Seq("c0", "c1", "c2")) {
        assert(got(c)._1 == refTri.getOrElse(c, 0L), s"triangles $c")
        assert(got(c)._2 == refWed.getOrElse(c, 0L), s"wedges $c")
      }
    }
  }

  /** Sequential peeling reference for coreness: repeatedly delete the
    * minimum-degree node, recording the running max of that minimum. */
  private def peelCores(nodes: Seq[Long],
      canon: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    nodes.foreach(n => adj(n) = scala.collection.mutable.Set.empty[Long])
    canon.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    val alive = scala.collection.mutable.Set(nodes: _*)
    while (alive.nonEmpty) {
      val v = alive.minBy(n => (adj(n).size.toLong, n))
      k = math.max(k, adj(v).size.toLong)
      core(v) = k
      adj(v).foreach(u => adj(u) -= v)
      adj(v).clear()
      alive -= v
    }
    core.toMap
  }

  test("coreNumbers: triangle core, chain tail, edgeless zero") {
    // A: triangle {1,2,3} + tail 3-4 → cores 2,2,2,1; B: edge → 1,1;
    // C: singleton → 0. Noise edges (dup/reverse/self/cross) must not
    // perturb anything.
    val got = GraphMetrics.coreNumbers(asg, edges)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "A", 2L), (2L, "A", 2L), (3L, "A", 2L),
      (4L, "A", 1L), (5L, "B", 1L), (6L, "B", 1L), (7L, "C", 0L)))
  }

  test("coreNumbers: edgeless graph converges immediately to all-zero") {
    val none = Seq.empty[(Long, Long)].toDF("url_a", "url_b")
    val got = GraphMetrics.coreNumbers(asg, none)
      .select("core_number").as[Long].collect()
    assert(got.length == 7 && got.forall(_ == 0L))
  }

  /** Random clustered graph: n nodes, node i in cluster `c{i % clusters}`,
    * m random edges; returns (assignment, raw edges, canonical intra-
    * cluster edges). */
  private def randomGraph(seed: Int, n: Int, clusters: Int, m: Int)
      : (Seq[(Long, String)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val rng = new scala.util.Random(seed)
    val asgSeq = (1 to n).map(i => (i.toLong, s"c${i % clusters}"))
    val cluster = asgSeq.toMap
    val edgeSeq = Seq.fill(m)((rng.nextInt(n) + 1L, rng.nextInt(n) + 1L))
    val canon = edgeSeq
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b && cluster(a) == cluster(b) }
      .distinct
    (asgSeq, edgeSeq, canon)
  }

  private def checkCores(seed: Int): Unit = {
    val n = 36
    val (asgSeq, edgeSeq, canon) = randomGraph(seed, n, 3, 150)
    val ref = peelCores((1 to n).map(_.toLong), canon)
    val got = GraphMetrics.coreNumbers(
        asgSeq.toDF("id", "cluster_id").repartition(5),
        edgeSeq.toDF("url_a", "url_b").repartition(7))
      .select("id", "core_number").as[(Long, Long)].collect().toMap
    assert(got == ref, s"seed $seed")
  }

  test("coreNumbers matches sequential peeling on random graphs") {
    Seq(3, 11, 42).foreach(checkCores)
  }

  test("coreNumbers: clique minus one edge — uniform high core") {
    // K6 missing edge (1,2): every node still has core 4
    val asg6 = (1L to 6L).map((_, "A")).toDF("id", "cluster_id")
    val e6 = (for { u <- 1L to 6L; v <- (u + 1) to 6L
      if !(u == 1L && v == 2L) } yield (u, v)).toDF("url_a", "url_b")
    val got = GraphMetrics.coreNumbers(asg6, e6)
      .select("core_number").as[Long].collect()
    assert(got.length == 6 && got.forall(_ == 4L))
  }

  // ------------------------------------------------------------- k-truss

  /** Sequential reference: peel edges with support < k−2 to fixpoint. */
  private def peelTruss(edges: Seq[(Long, Long)],
      k: Int): Set[(Long, Long)] = {
    var cur = edges.toSet
    var changed = true
    while (changed) {
      def nb(x: Long) =
        cur.collect { case (a, b) if a == x => b
                      case (a, b) if b == x => a }
      val keep = cur.filter { case (u, v) => (nb(u) & nb(v)).size >= k - 2 }
      changed = keep != cur
      cur = keep
    }
    cur
  }

  test("trussEdges: bowtie cascade — k=3 keeps both triangles, k=4 empties") {
    // two triangles sharing edge (2,3): shared edge has support 2, the
    // others 1. k=4 removes the outer edges, which strands the shared
    // edge next round — the cascade must run to the fixpoint, not stop
    // after one pass. Cap 0 runs the distributed rounds and their
    // triangle support; the default cap runs the driver finish.
    def bowtie(): Unit = {
      val asg = (1L to 5L).map((_, "A")).toDF("id", "cluster_id")
      val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
        .toDF("url_a", "url_b")
      val k3 = GraphMetrics.trussEdges(asg, e, k = 3)
        .select("url_a", "url_b", "support").as[(Long, Long, Long)]
        .collect().toSet
      assert(k3 == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
        (2L, 4L, 1L), (3L, 4L, 1L)))
      assert(GraphMetrics.trussEdges(asg, e, k = 4).count() == 0L)
      // a K5 survives k=5 (every edge closes 3 triangles), dies at k=6
      val asg5 = (1L to 5L).map((_, "A")).toDF("id", "cluster_id")
      val e5 = (for { u <- 1L to 5L; v <- (u + 1) to 5L } yield (u, v))
        .toDF("url_a", "url_b")
      val t5 = GraphMetrics.trussEdges(asg5, e5, k = 5)
      assert(t5.count() == 10L &&
        t5.select("support").as[Long].collect().forall(_ == 3L))
      assert(GraphMetrics.trussEdges(asg5, e5, k = 6).count() == 0L)
      intercept[IllegalArgumentException](GraphMetrics.trussEdges(asg, e, 2))
    }
    withConf("graft.truss.driverFinishEdges", "0")(bowtie())
    bowtie()
  }

  private def checkTruss(seed: Int): Unit = {
    val (asgSeq, edgeSeq, canon) = randomGraph(seed, 30, 2, 160)
    for (k <- Seq(3, 4)) {
      val kept = peelTruss(canon, k)
      def nb(x: Long) = kept.collect { case (a, b) if a == x => b
                                       case (a, b) if b == x => a }
      val ref = kept.map { case (u, v) => (u, v, (nb(u) & nb(v)).size.toLong) }
      val got = GraphMetrics.trussEdges(
          asgSeq.toDF("id", "cluster_id").repartition(5),
          edgeSeq.toDF("url_a", "url_b").repartition(7), k)
        .select("url_a", "url_b", "support").as[(Long, Long, Long)]
        .collect().toSet
      assert(got == ref, s"seed $seed k $k")
    }
  }

  test("trussEdges matches sequential peeling on random graphs") {
    Seq(5, 23).foreach(checkTruss)
  }

  test("driver finish: coreNumbers and trussEdges at cap 0 and the default equal peeling") {
    // cap 0 forces the distributed rounds; unset is the default cap
    withConf("graft.core.driverFinishEdges", "0")(checkCores(42))
    checkCores(42)
    withConf("graft.truss.driverFinishEdges", "0")(checkTruss(23))
    checkTruss(23)
  }
}
