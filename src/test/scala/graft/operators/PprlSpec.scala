package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.functions._

/** PPRL over CLK Bloom filters: bit-sampling block keys must read the
  * packed filter exactly, identical filters must share every band key,
  * the linkage must find typo'd twins without ever touching the raw
  * identifiers, and the candidate cap must drop observably. */
class PprlSpec extends SparkFunSuite {
  import spark.implicits._

  test("samplePositions: deterministic, distinct within band, in range") {
    val p1 = Pprl.samplePositions(512, bands = 8, bitsPerBand = 16, seed = 42L)
    val p2 = Pprl.samplePositions(512, bands = 8, bitsPerBand = 16, seed = 42L)
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
    assert(p1.length == 8)
    p1.foreach { band =>
      assert(band.length == 16)
      assert(band.distinct.length == 16)
      assert(band.forall(p => p >= 0 && p < 512))
    }
    // different seed, different sample
    val p3 = Pprl.samplePositions(512, 8, 16, seed = 7L)
    assert(p1.map(_.toSeq).toSeq != p3.map(_.toSeq).toSeq)
  }

  test("blockKeys reads the packed filter: identical filters share all keys") {
    val enc = Seq(("a1", "phillips"), ("a2", "phillips"), ("a3", "wozniak"))
      .toDF("id", "nn")
      .select(col("id"), clk_sig(col("nn"), 512, 4).as("sig"))
    val keys = Pprl.blockKeys(enc, "id", "sig", m = 512)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(keys.count(_._1 == "a1") == 8) // one key per band
    val k1 = keys.filter(_._1 == "a1").map(_._2).toSet
    val k2 = keys.filter(_._1 == "a2").map(_._2).toSet
    assert(k1 == k2) // identical filter -> identical keys
    // keys are band-prefixed 0/1 strings over 16 sampled bits
    k1.foreach { k =>
      val Array(b, bits) = k.split(":", 2)
      assert(b.toInt >= 0 && b.toInt < 8)
      assert(bits.length == 16 && bits.forall(c => c == '0' || c == '1'))
    }
    // key bits match clk_bits membership at the sampled positions
    val bits1 = Seq(Tuple1("phillips")).toDF("nn")
      .select(clk_bits(col("nn"), 512, 4)).head().getSeq[Int](0).toSet
    val pos = Pprl.samplePositions(512, 8, 16, 42L)
    val want = pos.zipWithIndex.map { case (ps, b) =>
      s"$b:" + ps.map(p => if (bits1.contains(p)) "1" else "0").mkString
    }.toSet
    assert(k1 == want)
  }

  test("linkTables finds typo'd twins blind to identifiers") {
    val names = Seq("jonathan phillips", "maria wozniak", "chen wei",
      "amara okafor", "luis hernandez")
    val a = names.zipWithIndex.map { case (n, i) => (s"a$i", n) }
      .toDF("id", "nn")
      .select(col("id"), clk_sig(col("nn"), 512, 4).as("sig"))
    // b side: one-char typo per name
    val b = names.zipWithIndex.map { case (n, i) =>
      (s"b$i", n.updated(2, 'x')) }
      .toDF("id", "nn")
      .select(col("id"), clk_sig(col("nn"), 512, 4).as("sig"))
    val linked = Pprl.linkTables(a, b, "id", "sig", m = 512, theta = 0.6).out
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // every twin survives; no cross-name pair reaches theta
    val pairs = linked.map(p => (p._1, p._2)).toSet
    assert((0 until 5).forall(i => pairs.contains((s"a$i", s"b$i"))),
      s"missing twins in $pairs")
    assert(pairs.forall { case (x, y) => x.drop(1) == y.drop(1) },
      s"cross-name pair above theta: $pairs")
    linked.foreach(p => assert(p._3 >= 0.6 && p._3 < 1.0))
  }

  test("hot band keys drop observably under the cap") {
    // 40 identical filters: every band bucket has 40 members on each side
    val a = (1 to 40).map(i => (s"a$i", "samename")).toDF("id", "nn")
      .select(col("id"), clk_sig(col("nn"), 512, 4).as("sig"))
    val capped = Pprl.linkTables(a, a, "id", "sig", m = 512,
      theta = 0.5, bucketCap = 10)
    assert(capped.out.count() == 0)
    val dropped = capped.dropped
    assert(dropped.count() == 16) // 8 bands x 2 sides
    assert(dropped.agg(min(col("n"))).head().getLong(0) == 40L)
    // with the default cap the same input links fully
    assert(Pprl.linkTables(a, a, "id", "sig", m = 512, theta = 0.5).out
      .count() == 40L * 40L)
  }
}
