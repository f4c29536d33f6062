package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins [[PivotClustering.run]] to the SEQUENTIAL KwikCluster it claims to
  * equal: visit nodes by the LCG rank, unvisited node → pivot, pivot
  * claims all unclaimed neighbors. Random graphs catch rank/tie drift;
  * the triangle-with-tail and chain fixtures pin the claiming rules; the
  * chain contrast shows the anti-chaining property vs connected
  * components. */
class PivotClusteringSpec extends SparkFunSuite {
  import scala.collection.mutable

  private def rank(id: Long): (Long, Long) =
    ((id * 1103515245L + 12345L) % 2147483648L, id)

  private def sequentialKwik(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      if (u != v) {
        nbrs.getOrElseUpdate(u, mutable.Set.empty) += v
        nbrs.getOrElseUpdate(v, mutable.Set.empty) += u
      }
    }
    val assigned = mutable.Map.empty[Long, Long]
    nbrs.keys.toSeq.sortBy(rank).foreach { u =>
      if (!assigned.contains(u)) {
        assigned(u) = u
        // claim order does not matter: every unclaimed neighbor goes to u
        nbrs(u).foreach(v => if (!assigned.contains(v)) assigned(v) = u)
      }
    }
    assigned.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    PivotClustering.run(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (for {
      u <- 0L until 60L; v <- (u + 1) until 60L
      if rnd.nextDouble() < 0.06
    } yield (u, v)).toSeq
  }

  test("parallel rounds equal sequential KwikCluster on random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val edges = randomEdges(seed)
      assert(run(edges) == sequentialKwik(edges), s"seed $seed")
    }
  }

  test("driver finish at cap 0 and the default equals sequential KwikCluster") {
    for (seed <- Seq(1, 2, 3)) {
      val edges = randomEdges(seed)
      val want = sequentialKwik(edges)
      assert(withConf("graft.mis.driverFinishRows", "0")(run(edges)) == want,
        s"seed $seed: rounds")
      assert(run(edges) == want, s"seed $seed: default cap")
    }
  }

  test("chains do NOT merge transitively (contrast with CC)") {
    val chain = (0L until 9L).map(i => (i, i + 1))
    val pivot = run(chain)
    val cc = {
      import spark.implicits._
      ConnectedComponents.run(chain.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(cc.values.toSet.size == 1) // CC chains everything together
    assert(pivot.values.toSet.size > 1) // pivots split the chain
    assert(pivot == sequentialKwik(chain))
    // every cluster is a star: members are direct neighbors of the pivot
    pivot.foreach { case (id, c) =>
      assert(id == c || math.abs(id - c) == 1)
    }
  }

  test("triangle with tail: tail never joins through the triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(run(edges) == sequentialKwik(edges))
  }

  test("every node is covered and clusters are pivot-centered") {
    val rnd = new scala.util.Random(11)
    val edges = (for {
      u <- 0L until 80L; v <- (u + 1) until 80L
      if rnd.nextDouble() < 0.04
    } yield (u, v)).toSeq
    val got = run(edges)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == nodes)
    val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (id, c) =>
      assert(id == c || nbrs(id).contains(c),
        s"node $id assigned to non-neighbor pivot $c")
    }
  }
}
