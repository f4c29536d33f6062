package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class SimilaritySpec extends SparkFunSuite {
  import spark.implicits._

  test("cosine on hand vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), 1.0 / math.sqrt(2.0)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
    ).toDF("a", "b", "want")
    df.select(Similarity.cosine(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
          s"${r.getDouble(0)} vs ${r.getDouble(1)}")
      }
  }

  test("precomputed-norm cosine is BIT-identical to the fused cosine") {
    // the ANN operators fold one dot per pair and reuse per-vector norms;
    // that decomposition must equal cosine_sim exactly (==), not within
    // epsilon — the DuckDB oracles hash the values
    val rng = new scala.util.Random(3)
    val vecs = Seq.fill(64)(Array.fill(64)(rng.nextFloat() * 2 - 1))
    val df = (for (a <- vecs; b <- vecs) yield (a, b)).toDF("a", "b")
    val rows = df.select(
      graft.functions.cosine_sim(col("a"), col("b")).as("fused"),
      (graft.functions.vec_dot(col("a"), col("b")) /
        (graft.functions.vec_norm(col("a")) * graft.functions.vec_norm(col("b"))))
        .as("pre")).collect()
    rows.foreach { r =>
      val (f, p) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToRawLongBits(f) ==
        java.lang.Double.doubleToRawLongBits(p), s"$f != $p")
    }
  }

  test("norm decomposition holds even for LENGTH-MISMATCHED vectors") {
    // dot folds the common prefix; each norm folds its OWN full array —
    // so the identity survives a truncated/padded vector in the table
    // (cosineF's tail loops extend the same strict left folds)
    val a = Array.tabulate(32)(i => (i + 1) * 0.1f)
    val b = Array.tabulate(64)(i => (65 - i) * 0.05f)
    val r = Seq((a, b), (b, a)).toDF("a", "b").select(
      graft.functions.cosine_sim(col("a"), col("b")).as("fused"),
      (graft.functions.vec_dot(col("a"), col("b")) /
        (graft.functions.vec_norm(col("a")) * graft.functions.vec_norm(col("b"))))
        .as("pre")).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1)))
    }
  }

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.9f, 0.2f)),
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(top((1L, 1)) == 2L) // 0.994 beats 0.976
    assert(top((1L, 2)) == 4L)
    assert(top((3L, 1)) == 4L) // y-heavy neighbor
  }

  test("mutualTopK keeps exactly the reciprocal pairs and kills the hub") {
    // hub h sits between two tight clusters: it is everyone's 1-NN-ish
    // neighbor, but each cluster member reciprocates its own twin first.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),    // cluster A
      (2L, Array(0.99f, 0.01f)),  // A twin
      (3L, Array(0.0f, 1.0f)),    // cluster B
      (4L, Array(0.01f, 0.99f)),  // B twin
      (5L, Array(0.7f, 0.7f)),    // hub
    ).toDF("vec_id", "embedding")
    val top1 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 1)
    val mutual = Similarity.mutualTopK(top1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // twins reciprocate at k = 1; the hub reciprocates nobody
    assert(mutual == Set((1L, 2L), (3L, 4L)))
    // the hub IS in every member's top-2 (it would pollute one-sided
    // kNN dedup there), yet at k = 1 no mutual pair touches it
    val top2 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 2)
    val oneSided = top2.collect().map(_.getLong(1)).toSet
    assert(oneSided.contains(5L))
    // mutual pairs are a subset of the one-sided pairs, with both ranks
    val m2 = Similarity.mutualTopK(top2).collect()
    m2.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(3) <= 2 && r.getInt(4) <= 2)
    }
    // at k = 2 the hub becomes mutual with its own 2-neighborhood, so
    // relaxing k grows the pair set monotonically
    assert(m2.length >= 2)
  }

  test("lshTopK achieves useful recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3, dim = 64,
      bands = 8, planesPerBand = 4).out
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(f"LSH recall@3 = $recall%.3f (bands=8, planes=4)")
    // near-random embeddings are LSH's worst case; still well above the
    // single-bucket-collision floor. Clustered real-world embeddings score
    // far higher — measured, not assumed (this pins the contract).
    assert(recall >= 0.3, f"recall $recall%.3f")
    // every reported cosine must be exact (spot check against brute scores)
    val bruteCos = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    Similarity.lshTopK(emb, "vec_id", "embedding", k = 3, dim = 64,
      bands = 8, planesPerBand = 4).out.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("ivfTopK achieves useful recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
    val bruteSet = brute.select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 3,
      nCentroids = 16, nProbe = 4)
    val ivfRows = ivf.collect()
    val ivfSet = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet & ivfSet).size.toDouble / bruteSet.size
    info(f"IVF recall@3 = $recall%.3f (nCentroids=16, nProbe=4)")
    assert(recall >= 0.5, f"recall $recall%.3f")
    // reported cosines are exact, and no (query, neighbor) pair repeats
    val bruteCos = brute.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ivfRows.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(c == r.getDouble(3)))
    }
    assert(ivfRows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
      == ivfRows.length)
    // determinism: a second run returns the identical result set
    val again = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 3,
      nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivfSet)
  }

  test("ivf persisted index: save/load/probe is BIT-identical to direct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val direct = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 3,
      nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val cents = Similarity.fitIvf(emb, "vec_id", "embedding",
      nCentroids = 16, iters = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index_spec").toString
    Similarity.saveIvf(emb, "vec_id", "embedding", cents, dir)
    // centroid model round-trips bit-exactly (floats are IEEE in parquet)
    val back = Similarity.loadCentroids(spark, dir)
    assert(back.length == cents.length)
    assert(back.toIndexedSeq.map(_.toIndexedSeq)
      == cents.toIndexedSeq.map(_.toIndexedSeq))
    // probe through the reloaded index ≡ the direct path, bit-for-bit
    val indexed = Similarity.ivfProbe(Similarity.loadIvfIndex(spark, dir),
      emb, "vec_id", "embedding", back, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(indexed == direct)
    // the index holds every vector exactly once (one inverted list each)
    val idx = Similarity.loadIvfIndex(spark, dir)
    assert(idx.count() == emb.count())
    assert(idx.select("neighbor_id").distinct().count() == emb.count())
  }

  test("ivf candidate set stays sub-quadratic (the scale contract)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    // k large enough that nothing is cut by the top-k window: the surviving
    // rows ARE the candidate pairs the probe join produced
    val cand = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 1000000,
      nCentroids = 16, nProbe = 4).count()
    // probing 4 of 16 lists caps expected work near n²·(nProbe/nCentroids)
    assert(cand < n * n / 2,
      s"IVF produced near-quadratic candidates: $cand vs ${n * n}")
  }

  test("lsh hot-bucket cap drops are observable, never silent") {
    // identical vectors: every band's bucket holds ALL of them — the
    // densest-sign-pattern shape that concentrates Σ bucket² at scale
    val emb = (1L to 12L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 8, bucketCap = 5, hardCap = 5)
    assert(capped.out.count() == 0)
    val dropped = capped.dropped.collect()
    assert(dropped.length == 4) // one bucket per band, all 12 members
    assert(dropped.forall(_.getLong(1) == 12L))
    // with the cap above the bucket size, candidates come back in full
    assert(Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 8, bucketCap = 12).out.count() == 12 * 3)
    // default hardCap: the same hot buckets ride the salted tier instead
    // of dropping — full recall with no straggler bucket task
    assert(Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 8, bucketCap = 5).out.count() == 12 * 3)
  }

  test("lsh salted tier is lossless (bucketCap=1 equals uncapped, bit-exact)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plain = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 8, planesPerBand = 4, bucketCap = Int.MaxValue).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // bucketCap=1 forces EVERY multi-member bucket through the salted
    // grid — the grid loses and invents nothing (the ANN analogue of
    // q_dedup_simhash_salted), including identical ranks and cosines
    val salted = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 8, planesPerBand = 4, bucketCap = 1, saltGroups = 4).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(salted == plain)
  }

  test("lsh recall is unchanged by a cap that does not bite (default cap)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // no bucket at this scale is anywhere near the default plain-tier cap
    // (so neither the salted tier nor any finite hardCap would engage)…
    assert(Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 8, planesPerBand = 4, hardCap = 2000).dropped
      .count() == 0)
    // …so the capped result is IDENTICAL to an effectively-uncapped run
    val capped = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 8, planesPerBand = 4).out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 8, planesPerBand = 4, bucketCap = Int.MaxValue).out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("lsh bucket sizes stay sub-quadratic (the scale contract)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val planes = Similarity.hyperplanes(64, 4, 6, 42L)
    assert(planes.length == 4 && planes(0).length == 6 && planes(0)(0).length == 64)
    // candidate pair count well below n^2
    val cand = Similarity.lshTopK(emb, "vec_id", "embedding", k = 1000, dim = 64).out
      .count()
    assert(cand < n * n / 4, s"LSH produced near-quadratic candidates: $cand vs ${n * n}")
  }

  test("multi-probe at probeBits=0 is BIT-identical to single-probe lshTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val single = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
        dim = 64, bands = 8, planesPerBand = 4).out
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    val zero = Similarity.lshMultiProbeTopK(emb, "vec_id", "embedding",
        k = 3, dim = 64, bands = 8, planesPerBand = 4, probeBits = 0).out
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    assert(zero == single)
    intercept[IllegalArgumentException](Similarity.lshMultiProbeTopK(emb,
      "vec_id", "embedding", k = 3, dim = 64, probeBits = 2).out)
  }

  test("multi-probe recall >= single-probe recall, scores stay exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    // fewer planes per band -> sparser single-probe recall; 1-bit probes
    // must recover a visible share of the one-plane-flip misses
    val rSingle = recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
      k = 3, dim = 64, bands = 4, planesPerBand = 8).out)
    val rMulti = recallOf(Similarity.lshMultiProbeTopK(emb, "vec_id",
      "embedding", k = 3, dim = 64, bands = 4, planesPerBand = 8).out)
    info(f"single=$rSingle%.3f multi=$rMulti%.3f (bands=4, planes=8)")
    assert(rMulti >= rSingle)
    assert(rMulti > rSingle + 0.05,
      f"multi-probe gained nothing: $rSingle%.3f -> $rMulti%.3f")
    // reported cosines are exact (brute-force agreement on shared pairs)
    val bruteCos = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    Similarity.lshMultiProbeTopK(emb, "vec_id", "embedding", k = 3,
      dim = 64, bands = 4, planesPerBand = 8).out.collect().foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("rrfFuse: hand-checked scores, redundancy outranks single high rank") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("q", "c", "r")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("q", "c", "r")
    val got = Similarity.rrfFuse(Seq(a, b), "q", "c", "r", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    // c=20 is rank 2 + rank 1 -> 1/62 + 1/61: beats either solo rank 1
    assert(got == List(
      (20L, 1.0 / 62.0 + 1.0 / 61.0, 1L),
      (10L, 1.0 / 61.0, 2L),
      (30L, 1.0 / 62.0, 3L)))
    // duplicate rows in one list collapse to MIN rank (no double count)
    val aDup = a.unionAll(Seq((1L, 10L, 5L)).toDF("q", "c", "r"))
    val got2 = Similarity.rrfFuse(Seq(aDup, b), "q", "c", "r", k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got2.toList == got.map(t => (t._1, t._2)))
    intercept[IllegalArgumentException](
      Similarity.rrfFuse(Seq(a), "q", "c", "r", k = 3))
    intercept[IllegalArgumentException](
      Similarity.rrfFuse(Seq(a, b), "q", "c", "r", k = 3, k0 = 0))
  }

  test("multi-probe salted hot tier is lossless and partition-independent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // bucketCap=1 forces EVERY multi-member index bucket through the
    // asymmetric salted join; result must equal the uncapped plain path
    val plain = Similarity.lshMultiProbeTopK(emb, "vec_id", "embedding",
        k = 3, dim = 64, bands = 4, planesPerBand = 6).out
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    val salted = Similarity.lshMultiProbeTopK(emb, "vec_id", "embedding",
        k = 3, dim = 64, bands = 4, planesPerBand = 6, bucketCap = 1,
        saltGroups = 8).out
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    val repart = Similarity.lshMultiProbeTopK(emb.repartition(11), "vec_id",
        "embedding", k = 3, dim = 64, bands = 4, planesPerBand = 6).out
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    assert(repart == plain)
  }
}
