package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Meta-blocking: blocking-graph weights (CBS / JS) on a hand-computed
  * block collection, WEP/WNP integer-mean cuts, salted-tier weight
  * preservation, and hard-cap block exclusion (graph AND block counts). */
class MetaBlockingSpec extends SparkFunSuite {

  import spark.implicits._

  // records 1..4; blocks: k1={1,2,3}, k2={1,2}, k3={2,3}, k4={3,4}
  // edges (cbs): (1,2)=2 [k1,k2], (1,3)=1 [k1], (2,3)=2 [k1,k3],
  //              (3,4)=1 [k4]
  // block counts: 1→2 (k1,k2), 2→3 (k1,k2,k3), 3→3 (k1,k3,k4), 4→1 (k4)
  private lazy val keys = Seq(
    (1L, "k1"), (2L, "k1"), (3L, "k1"),
    (1L, "k2"), (2L, "k2"),
    (2L, "k3"), (3L, "k3"),
    (3L, "k4"), (4L, "k4")).toDF("url", "key")

  private def graphRows(bucketCap: Int = 200) =
    MetaBlocking.blockingGraph(keys, bucketCap = bucketCap).out
      .orderBy("url_a", "url_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toList

  test("blockingGraph computes CBS, block counts, and JS exactly") {
    val g = graphRows()
    assert(g == List(
      (1L, 2L, 2L, 2L, 3L, 2.0 / 3.0),
      (1L, 3L, 1L, 2L, 3L, 1.0 / 4.0),
      (2L, 3L, 2L, 3L, 3L, 2.0 / 4.0),
      (3L, 4L, 1L, 3L, 1L, 1.0 / 3.0)))
  }

  test("salted tier preserves CBS multiplicity (bucketCap=1 ≡ plain)") {
    // bucketCap=1 forces EVERY block through the fragment-replicate grid
    assert(graphRows(bucketCap = 1) == graphRows())
  }

  test("WEP keeps edges at or above the integer-exact global mean") {
    // Σw = 6 over 4 edges → keep w·4 ≥ 6, i.e. cbs = 2 edges only
    val kept = MetaBlocking.wepPrune(MetaBlocking.blockingGraph(keys).out)
      .select("url_a", "url_b").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (2L, 3L)))
  }

  test("WNP keeps edges ≥ either endpoint's mean incident weight") {
    // node sums/degrees: 1→(3,2) mean 1.5; 2→(4,2) mean 2; 3→(4,3) mean 4/3;
    // 4→(1,1) mean 1. (1,2): 2≥1.5 keep; (1,3): 1<1.5 and 3·3<4 drop;
    // (2,3): keep; (3,4): 1·3<4 but 1·1≥1 keep (endpoint 4's only edge).
    val kept = MetaBlocking.wnpPrune(MetaBlocking.blockingGraph(keys).out)
      .select("url_a", "url_b").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("CNP keeps each endpoint's top-k incident edges, pinned tie-break") {
    val g = MetaBlocking.blockingGraph(keys).out
    // k=1: node1 top = (1,2) w2; node2 tie w2/w2 breaks by opposite id →
    // (1,2); node3 top = (2,3) w2; node4 top = its only edge (3,4).
    // (1,3) is in nobody's top-1 → dropped.
    val k1 = MetaBlocking.cnpPrune(g, 1)
      .select("url_a", "url_b").as[(Long, Long)].collect().toSet
    assert(k1 == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    // k=2: every edge is in some endpoint's top-2
    assert(MetaBlocking.cnpPrune(g, 2).count() == 4)
  }

  test("blockFilter keeps each record's ⌈r·n⌉ smallest blocks, pinned ties") {
    // sizes: k1=3, k2=2, k3=2, k4=2. Per record (size ASC, key ASC):
    //   1: k2(2), k1(3)        → n=2, ⌈2/2⌉=1 → keep k2
    //   2: k2(2), k3(2), k1(3) → n=3, ⌈3/2⌉=2 → keep k2, k3 (tie by key)
    //   3: k3(2), k4(2), k1(3) → n=3 → keep k3, k4
    //   4: k4(2)               → n=1, ⌈1/2⌉=1 → keep k4
    val kept = MetaBlocking.blockFilter(keys)
      .as[(Long, String)].collect().toSet
    assert(kept == Set((1L, "k2"), (2L, "k2"), (2L, "k3"), (3L, "k3"),
      (3L, "k4"), (4L, "k4")))
    // r = 1 keeps everything
    assert(MetaBlocking.blockFilter(keys, ratioNum = 1, ratioDen = 1)
      .count() == keys.count())
    // invalid ratio is a clear error
    val e = intercept[IllegalArgumentException] {
      MetaBlocking.blockFilter(keys, ratioNum = 3, ratioDen = 2)
    }
    assert(e.getMessage.contains("blockFilter"))
  }

  test("blockFilter composes with blockingGraph (filter upstream)") {
    val g = MetaBlocking.blockingGraph(MetaBlocking.blockFilter(keys)).out
      .orderBy("url_a", "url_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList
    // retained collection: k2={1,2}, k3={2,3}, k4={3,4} → chain edges
    assert(g == List((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)))
  }

  test("blocks above hardCap are excluded from edges AND block counts") {
    // k1 (size 3) over hardCap=2: its pairs disappear and the per-record
    // block counts drop accordingly, so JS stays graph-consistent
    val capped = MetaBlocking.blockingGraph(keys, bucketCap = 2, hardCap = 2)
    // the record is the block the cap removed, with its size
    assert(capped.dropped.as[(String, Long)].collect().toSeq == Seq(("k1", 3L)))
    assert(MetaBlocking.blockingGraph(keys).dropped.count() == 0L)
    val g = capped.out
      .orderBy("url_a", "url_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toList
    // remaining blocks: k2={1,2}, k3={2,3}, k4={3,4}; counts 1→1, 2→2,
    // 3→2, 4→1
    assert(g == List(
      (1L, 2L, 1L, 1L, 2L, 1.0 / 2.0),
      (2L, 3L, 1L, 2L, 2L, 1.0 / 3.0),
      (3L, 4L, 1L, 2L, 1L, 1.0 / 2.0)))
  }
}
