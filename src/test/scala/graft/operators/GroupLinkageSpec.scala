package graft.operators

import scala.collection.mutable

import graft.SparkFunSuite

/** Group linkage (On et al. ICDE'07): per-group-pair greedy matching must
  * equal the sequential greedy reference scoped to each group pair, and
  * the normalized similarity must equal the hand formula with the ordered
  * matched-weight fold. */
class GroupLinkageSpec extends SparkFunSuite {

  import spark.implicits._

  /** sequential greedy within ONE group pair (score DESC, rl, rr). */
  private def seqGreedy(pairs: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] = {
    val sorted = pairs.sortBy { case (l, r, s) => (-s, l, r) }
    val takenL = mutable.Set.empty[Long]
    val takenR = mutable.Set.empty[Long]
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    sorted.foreach { case (l, r, s) =>
      if (!takenL(l) && !takenR(r)) { takenL += l; takenR += r; out += ((l, r, s)) }
    }
    out.toSeq
  }

  private def refSim(groupsL: Map[Long, Seq[Long]], groupsR: Map[Long, Seq[Long]],
      scores: Seq[(Long, Long, Double)]): Map[(Long, Long), (Long, Double, Double)] = {
    val byPair = scores.flatMap { case (rl, rr, s) =>
      for {
        ga <- groupsL.collect { case (g, ms) if ms.contains(rl) => g }
        gb <- groupsR.collect { case (g, ms) if ms.contains(rr) => g }
      } yield ((ga, gb), (rl, rr, s))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byPair.map { case ((ga, gb), cand) =>
      val m = seqGreedy(cand)
      // ordered left fold over (rl, rr)-sorted matched list
      val msum = m.sortBy(x => (x._1, x._2)).foldLeft(0.0)(_ + _._3)
      val sim = msum / (groupsL(ga).size + groupsR(gb).size - m.size).toDouble
      (ga, gb) -> ((m.size.toLong, msum, sim))
    }
  }

  private lazy val groupsL = (0L until 4L).map(g =>
    g -> (0 until 6).map(i => g * 100 + i.toLong)).toMap
  private lazy val groupsR = (0L until 4L).map(g =>
    g -> (0 until 5).map(i => 1000 + g * 100 + i.toLong)).toMap
  private lazy val randomScores: Seq[(Long, Long, Double)] = {
    val rng = new scala.util.Random(97)
    for {
      l <- groupsL.values.flatten.toSeq; r <- groupsR.values.flatten.toSeq
      if rng.nextDouble() < 0.3
    } yield (l, r, math.rint(rng.nextDouble() * 50) / 10.0)
  }

  /** groupLinkage over the random fixture (its candidate rows plus
    * `extra` repeated ones) vs the sequential reference. */
  private def checkRandom(extra: Seq[(Long, Long, Double)] = Nil): Unit = {
    val left = groupsL.toSeq.flatMap { case (g, ms) => ms.map(m => (g, m)) }
      .toDF("gid", "rid")
    val right = groupsR.toSeq.flatMap { case (g, ms) => ms.map(m => (g, m)) }
      .toDF("gid", "rid")
    val scored = (randomScores ++ extra).toDF("id_l", "id_r", "score")

    val got = Linkage.groupLinkage(left, right, scored)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    val ref = refSim(groupsL.view.mapValues(_.toSeq).toMap,
      groupsR.view.mapValues(_.toSeq).toMap, randomScores)
    assert(got.keySet == ref.keySet)
    for (k <- ref.keys) assert(got(k) == ref(k), s"group pair $k")
  }

  private val capKey = "graft.greedy.driverFinishEdges"

  test("matches the sequential per-group-pair reference on random input") {
    checkRandom()
  }

  test("driver finish at cap 0 and the default equals the sequential reference") {
    // 40 candidate rows repeated: a duplicate of a matched pair matches once
    for (extra <- Seq(Nil, randomScores.take(40))) {
      withConf(capKey, "0")(checkRandom(extra)) // distributed rounds only
      withConf(capKey, "1")(checkRandom(extra))
      checkRandom(extra)
    }
  }

  test("driver finish: AQE off and 1, 7 or 64 shuffle partitions give the reference at cap 0 and the default") {
    withConf("spark.sql.adaptive.enabled", "false") {
      for (p <- Seq("1", "7", "64")) withConf("spark.sql.shuffle.partitions", p) {
        withConf(capKey, "0")(checkRandom())
        checkRandom()
      }
    }
  }

  /** Null group ids on the left: group 7 = {1}, the null group = {2, 3}. */
  private def nullGroupRows(maxIter: Int): Seq[Seq[Any]] = {
    val left = Seq((Some(7L), 1L), (None, 2L), (None, 3L)).toDF("gid", "rid")
    val right = Seq((9L, 11L), (9L, 12L)).toDF("gid", "rid")
    val scored = Seq((1L, 11L, 1.0), (2L, 12L, 0.8), (3L, 11L, 0.9))
      .toDF("id_l", "id_r", "score")
    Linkage.groupLinkage(left, right, scored, maxIter = maxIter)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
  }

  test("driver finish: a null group id drains at cap 0 and 1 to the default-cap rows") {
    // records with a null group id are in no group: only (7, 9) is reported
    val want = nullGroupRows(1000)
    assert(want == Seq(Seq(7L, 9L, 1L, 2L, 1L, 1.0, 0.5)))
    for (cap <- Seq("0", "1"))
      assert(withConf(capKey, cap)(nullGroupRows(20)) == want, s"cap $cap")
  }

  test("driver finish: null-group candidates never reach the greedy rounds") {
    // both null groups hold 5 records whose candidates form a descending
    // chain of 9 edges; the distributed rounds would need 5 rounds for it
    val left = ((Some(7L), 1L) +: (11L to 15L).map(r => (Option.empty[Long], r)))
      .toDF("gid", "rid")
    val right = ((Some(9L), 2L) +: (21L to 25L).map(r => (Option.empty[Long], r)))
      .toDF("gid", "rid")
    val chain = (0 until 9).map(i =>
      (11L + (i + 1) / 2, 21L + i / 2, 0.9 - 0.05 * i))
    val scored = ((1L, 2L, 1.0) +: chain).toDF("id_l", "id_r", "score")
    def rows(maxIter: Int) = Linkage.groupLinkage(left, right, scored,
      maxIter = maxIter).collect().map(_.toSeq).toSeq
    val want = Seq(Seq(7L, 9L, 1L, 1L, 1L, 1.0, 1.0))
    assert(rows(1000) == want)
    assert(withConf(capKey, "0")(rows(2)) == want)
  }

  test("driver finish: tied non-BMP and BMP rids follow SQL order at every cap") {
    // x ties between U+FF21 and U+1F600. SQL orders by code point, so the
    // sequential scan gives x U+FF21 first and y, whose only candidate is
    // U+FF21, stays unmatched. UTF-16 order would give x U+1F600 and then
    // match y as well (n_matched 2, matched_sum 1.5).
    val (bmp, astral) = ("\uFF21", "\uD83D\uDE00")
    val left = Seq((7L, "x"), (7L, "y")).toDF("gid", "rid")
    val right = Seq((9L, bmp), (9L, astral)).toDF("gid", "rid")
    val scored = Seq(("x", bmp, 1.0), ("x", astral, 1.0), ("y", bmp, 0.5))
      .toDF("id_l", "id_r", "score")
    for (cap <- Seq("0", "1", "1000000")) {
      val row = withConf(capKey, cap)(
        Linkage.groupLinkage(left, right, scored).collect()).toSeq
      assert(row.map(r => (r.getLong(4), r.getDouble(5))) == Seq((1L, 1.0)),
        s"cap $cap")
    }
  }

  test("hand case: perfect sub-match and the normalization formula") {
    // A = {1,2,3}, B = {11,12}: matches (1,11,1.0), (2,12,0.8)
    // sim = 1.8 / (3 + 2 - 2) = 0.6
    val left = Seq((7L, 1L), (7L, 2L), (7L, 3L)).toDF("gid", "rid")
    val right = Seq((9L, 11L), (9L, 12L)).toDF("gid", "rid")
    val scored = Seq((1L, 11L, 1.0), (2L, 12L, 0.8), (3L, 11L, 0.9))
      .toDF("id_l", "id_r", "score")
    val row = Linkage.groupLinkage(left, right, scored).collect()(0)
    assert(row.getLong(2) == 3L && row.getLong(3) == 2L) // n_l, n_r
    assert(row.getLong(4) == 2L)                          // n_matched
    assert(row.getDouble(5) == 1.8)
    assert(row.getDouble(6) == 1.8 / 3.0)
  }

  test("a record in two group pairs matches independently per pair") {
    // rl=1 is in group A7 vs B9 and A7 vs B8 — greedy runs per pair
    val left = Seq((7L, 1L)).toDF("gid", "rid")
    val right = Seq((9L, 11L), (8L, 21L)).toDF("gid", "rid")
    val scored = Seq((1L, 11L, 0.9), (1L, 21L, 0.7)).toDF("id_l", "id_r", "score")
    val got = Linkage.groupLinkage(left, right, scored)
      .collect().map(r => (r.getLong(1), r.getDouble(6))).toMap
    assert(got(9L) == 0.9 / 1.0 && got(8L) == 0.7 / 1.0)
  }
}
