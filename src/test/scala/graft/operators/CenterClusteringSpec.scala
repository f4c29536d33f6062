package graft.operators

import scala.collection.mutable

import graft.SparkFunSuite

/** Center / merge-center clustering: the parallel rounds must equal a
  * LITERAL sequential replay of the pinned scan on random graphs, chains,
  * and stars; merge-center must equal its pinned order-free definition;
  * and the star invariant (every member directly θ-linked to its center)
  * must hold. */
class CenterClusteringSpec extends SparkFunSuite {

  import spark.implicits._

  /** Literal sequential scan: sim DESC, ties (min id, max id) ASC. */
  private def seqCenters(edges: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map { case (a, b, s) => (math.min(a, b), math.max(a, b), s) }
      .groupBy(e => (e._1, e._2))
      .map { case ((la, lb), es) => (la, lb, es.map(_._3).max) }
      .toSeq.sortBy { case (la, lb, s) => (-s, la, lb) }
    val center = mutable.Map.empty[Long, Long]
    val isCenter = mutable.Set.empty[Long]
    for ((la, lb, _) <- canon) {
      val aAsg = center.contains(la)
      val bAsg = center.contains(lb)
      if (!aAsg && !bAsg) {
        center(la) = la; isCenter += la; center(lb) = la
      } else if (isCenter(la) && !bAsg) center(lb) = la
      else if (isCenter(lb) && !aAsg) center(la) = lb
    }
    // coverage = nodes with at least one real (non-self-loop) edge —
    // matching centers(): self-loop-only nodes are not in the frame
    val nodes = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach(n => if (!center.contains(n)) center(n) = n)
    center.toMap
  }

  /** Pinned order-free merge-center: centers pass + union-find over
    * assignment edges and every edge touching a center. */
  private def seqMergeCenters(edges: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val asg = seqCenters(edges)
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    asg.foreach { case (id, c) => union(id, c) }
    val centers = asg.collect { case (id, c) if id == c => id }.toSet
    edges.foreach { case (a, b, _) =>
      if (a != b && (centers(a) || centers(b))) union(a, b)
    }
    asg.keys.map(id => id -> find(id)).toMap
  }

  private def runCenters(edges: Seq[(Long, Long, Double)]): Map[Long, Long] =
    CenterClustering.centers(edges.toDF("id_a", "id_b", "sim"))
      .as[(Long, Long)].collect().toMap

  private def runMerge(edges: Seq[(Long, Long, Double)]): Map[Long, Long] =
    CenterClustering.mergeCenters(edges.toDF("id_a", "id_b", "sim"))
      .as[(Long, Long)].collect().toMap

  test("parallel centers == sequential scan on random graphs") {
    val rng = new scala.util.Random(83)
    for (trial <- 0 until 2) {
      val n = 30 + trial * 10
      val edges = (0 until n * 3).map { _ =>
        val a = rng.nextInt(n).toLong
        val b = rng.nextInt(n).toLong
        (a, b, math.rint(rng.nextDouble() * 20) / 20.0) // coarse sims → ties
      }.filter(e => e._1 != e._2)
      assert(runCenters(edges) == seqCenters(edges), s"trial $trial")
    }
  }

  test("parallel centers == sequential on chains (desc, asc, valley)") {
    // chain 0-1-2-...-k with three similarity shapes that force different
    // fire orders (descending = worst-case round count)
    val k = 10
    def chain(simAt: Int => Double) =
      (0 until k).map(i => (i.toLong, (i + 1).toLong, simAt(i)))
    for ((nm, es) <- Seq(
      ("desc", chain(i => 1.0 - i * 0.01)),
      ("asc", chain(i => 0.5 + i * 0.01)),
      ("valley", chain(i => 0.5 + math.abs(i - k / 2) * 0.01)))) {
      assert(runCenters(es) == seqCenters(es), nm)
    }
  }

  test("star: hub wins everything; members never chain") {
    // hub 0 similar to 1..10 (desc), plus weak rim edges 1-2, 2-3
    val es = (1 to 10).map(i => (0L, i.toLong, 1.0 - i * 0.01)) ++
      Seq((1L, 2L, 0.5), (2L, 3L, 0.4))
    val got = runCenters(es)
    assert(got == seqCenters(es))
    assert((1 to 10).forall(i => got(i.toLong) == 0L))
    // star invariant: every member has a direct input edge to its center
    val edgeSet = es.flatMap(e => Seq((e._1, e._2), (e._2, e._1))).toSet
    got.foreach { case (id, c) => if (id != c) assert(edgeSet((id, c))) }
  }

  test("mergeCenters == pinned order-free reference on random graphs") {
    val rng = new scala.util.Random(89)
    for (trial <- 0 until 2) {
      val n = 20 + trial * 8
      val edges = (0 until n * 2).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong,
          math.rint(rng.nextDouble() * 10) / 10.0)
      }.filter(e => e._1 != e._2)
      assert(runMerge(edges) == seqMergeCenters(edges), s"trial $trial")
    }
  }

  test("mergeCenters merges through a center, not through members") {
    // two clusters: center 1 (members 2,3), center 10 (members 11,12);
    // a member-member bridge 3-11 must NOT merge; a member-center bridge
    // 3-10 must.
    val base = Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (10L, 11L, 0.95),
      (10L, 12L, 0.95))
    val memberBridge = base :+ (3L, 11L, 0.2)
    val gm = runMerge(memberBridge)
    assert(gm(1L) != gm(10L), s"member bridge merged: $gm")
    val centerBridge = base :+ (3L, 10L, 0.2)
    val gc = runMerge(centerBridge)
    assert(gc(1L) == gc(10L) && gc(1L) == 1L, s"center bridge missed: $gc")
  }

  test("driver finish (round-0 and mid-loop) equals the distributed loop") {
    val rng = new scala.util.Random(101)
    val edges = (0 until 150).map { _ =>
      val a = rng.nextInt(60).toLong
      val b = rng.nextInt(60).toLong
      (a, b, math.rint(rng.nextDouble() * 20) / 20.0)
    }.filter(e => e._1 != e._2)
    val want = seqCenters(edges)
    def withCap(cap: Long): Map[Long, Long] = {
      spark.conf.set("graft.centers.driverFinishEdges", cap.toString)
      try runCenters(edges)
      finally spark.conf.unset("graft.centers.driverFinishEdges")
    }
    assert(withCap(0L) == want, "distributed loop")
    assert(withCap(1000000L) == want, "round-0 driver finish")
    // small cap: several distributed rounds, then the mid-loop sequential
    // finish picks up the shrunk frontier
    assert(withCap(10L) == want, "mid-loop driver finish")
    // merge-center composes the finish with CC's own driver finish
    assert(runMerge(edges) == seqMergeCenters(edges))
  }

  test("driver finish: -0.0/0.0 similarity ties follow SQL order at every cap") {
    // SQL sorts -0.0 == 0.0, so the two edges tie and (1,3) scans first
    // by (min id, max id): 1 becomes the center, 3 its member, and (2,3)
    // is skipped. Ordering 0.0 above -0.0 would seed 2 instead.
    val es = Seq((2L, 3L, 0.0), (1L, 3L, -0.0))
    val want = seqCenters(es.map { case (a, b, s) => (a, b, s + 0.0) })
    assert(want == Map(1L -> 1L, 3L -> 1L, 2L -> 2L))
    for (cap <- Seq("0", "1", "1000000"))
      assert(withConf("graft.centers.driverFinishEdges", cap)(runCenters(es))
        == want, s"cap $cap")
  }

  test("parallel-edge dedup keeps max sim; isolated singletons covered") {
    val es = Seq((1L, 2L, 0.3), (2L, 1L, 0.9), (1L, 2L, 0.1), (5L, 5L, 1.0))
    val got = runCenters(es)
    assert(got == seqCenters(es))
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got.get(5L).isEmpty) // self-loop-only node is dropped entirely
  }
}
