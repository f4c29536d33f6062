package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins [[Linkage.dynamicBlockKeys]]: blocks descend whole, records settle
  * at the COARSEST fitting depth, and never-fitting records are excluded
  * but observable via the result's `dropped`. */
class DynamicBlockingSpec extends SparkFunSuite {
  import spark.implicits._

  // 30 records share p0 = "x"; p1 splits them 3 × 10; p2 splits each 10
  // into 5 × 2. Plus 20 records whose ENTIRE chain is identical ("hot").
  private def fixture = {
    val fine = (0 until 30).map(i =>
      (i.toLong, "x", s"g${i % 3}", s"h${i % 15}"))
    val hot = (100 until 120).map(i => (i.toLong, "hot", "hot", "hot"))
    (fine ++ hot).toDF("id", "p0", "p1", "p2")
  }

  private val parts = Seq(col("p0"), col("p1"), col("p2"))

  test("records settle at the coarsest depth whose block fits") {
    val got = Linkage.dynamicBlockKeys(fixture, "id", parts, cap = 12L).out
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    // p0 block "x" holds 30 > 12 → descend; p1 blocks hold 10 ≤ 12 → depth 1
    (0 until 30).foreach { i =>
      assert(byId(i.toLong) == ((s"x:g${i % 3}", 1)), s"id $i")
    }
    // hot chain is 20 > 12 at EVERY depth → not settled
    (100 until 120).foreach(i => assert(!byId.contains(i.toLong)))
  }

  test("cap above the root size settles everything at depth 0") {
    val got = Linkage.dynamicBlockKeys(fixture, "id", parts, cap = 50L).out
    assert(got.where(col("depth") =!= 0).count() == 0)
    assert(got.count() == 50)
  }

  test("never-fitting records are observable, not silent") {
    val blocked = Linkage.dynamicBlockKeys(fixture, "id", parts, cap = 12L)
    val dropped = blocked.dropped.collect()
    assert(dropped.length == 20)
    assert(dropped.forall(_.getString(1) == "hot:hot:hot"))
    assert(dropped.forall(_.getLong(2) == 20L))
    // settled ∪ dropped = everything: nothing vanishes silently
    val settled = blocked.out.count()
    assert(settled + dropped.length == 50)
  }

  test("tight cap pushes records to the finest depth") {
    val got = Linkage.dynamicBlockKeys(fixture, "id", parts, cap = 3L).out
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // p1 blocks hold 10 > 3; p2 blocks hold 2 ≤ 3 → depth 2 keys
    assert(got.length == 30)
    got.foreach { case (id, key, d) =>
      assert(d == 2)
      assert(key == s"x:g${id % 3}:h${id % 15}")
    }
  }
}
