package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.HashFamily

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *  - [[bruteForceTopK]] — exact cosine top-k; the correctness baseline.
  *    Quadratic: right for ≤10^5 vectors or as the per-bucket verifier.
  *  - [[lshTopK]] — banded random-hyperplane LSH: candidates only meet
  *    inside shared (band, signature) buckets, so cost is Σ bucket², not
  *    n². This is the 100 TB-scale path; recall vs brute force is measured
  *    in SimilaritySpec, not assumed.
  *
  * Dot products run through `zip_with`/`aggregate` (codegen'd higher-order
  * functions) as a strict left fold in double — the same fold DuckDB's
  * `list_sum(list_transform(...))` performs, which is what makes the
  * cosine oracle bit-exact.
  */
object Similarity {

  /** Strict left-fold dot product in double (higher-order-function form;
    * kept as the readable reference — the hot path uses [[cosine]]). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the fused codegen kernel
    * ([[graft.functions.cosine_sim]]): bit-identical to
    * `dot / (norm * norm)` in left-fold doubles, ~20× faster than the
    * interpreted higher-order-function form. */
  def cosine(a: Column, b: Column): Column = graft.functions.cosine_sim(a, b)

  /** Pairwise cosine from a precomputed-norm pair: bit-identical to
    * [[cosine]] (same left folds, same sqrt, same division) but the n²
    * pair loop folds ONE dot instead of dot + both norms — the norms are
    * computed once per VECTOR and carried as a scalar column. On the
    * brute-force baseline that is a third of the flops. */
  private def cosPre(va: Column, na: Column, vb: Column, nb: Column): Column =
    graft.functions.vec_dot(va, vb) / (na * nb)

  /** The `k` best (vec_id, neighbor_id, rank, cos) per vec_id, ties by
    * neighbor_id. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Exact top-k neighbors per vector by cosine (ties broken by neighbor
    * id ascending — deterministic). Output: (vec_id, neighbor_id, rank, cos). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val a = emb.select(col(idCol).as("vec_id"), col(vecCol).as("va"),
      graft.functions.vec_norm(col(vecCol)).as("na"))
    val b = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("vb"),
      graft.functions.vec_norm(col(vecCol)).as("nb"))
    val scored = a.join(b, col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosPre(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
    topK(scored, k)
  }

  /** Reciprocal (mutual) top-k matches: the pairs where EACH side ranks
    * the other among its k nearest by cosine — the classic
    * reciprocal-nearest-neighbor criterion that suppresses hub vectors
    * (a centroid-ish record that is everyone's neighbor but reciprocates
    * almost nobody — the dominant false-positive mode of one-sided kNN
    * dedup). Consumes any (vec_id, neighbor_id, rank, cos) top-k frame —
    * [[bruteForceTopK]], [[lshTopK]], or [[ivfTopK]] — so the filter
    * composes with every ANN tier; cost is one self-equi-join on the
    * (k·n)-row top-k frame, never on the vectors themselves. cos is
    * fold-order-identical in both directions (per-component multiply is
    * commutative, the sum order is the index order either way), so the
    * join needs no tolerance. Output: (ia, ib, cos, rank_ab, rank_ba)
    * with ia < ib. */
  def mutualTopK(topk: DataFrame): DataFrame = {
    val ab = topk.select(col("vec_id").as("ia"), col("neighbor_id").as("ib"),
      col("rank").as("rank_ab"), col("cos"))
      .where(col("ia") < col("ib"))
    val ba = topk.select(col("vec_id").as("ib2"), col("neighbor_id").as("ia2"),
      col("rank").as("rank_ba"))
      .where(col("ia2") < col("ib2"))
    ab.join(ba, col("ia") === col("ia2") && col("ib") === col("ib2"))
      .select(col("ia"), col("ib"), col("cos"),
        col("rank_ab"), col("rank_ba"))
  }

  /** Per-query recall of an approximate top-k frame against the exact
    * one — the acceptance metric every ANN tier ships with (an LSH/IVF
    * configuration is only "done" with its recall@k measured, not
    * assumed). Both inputs are (vec_id, neighbor_id, rank, cos) frames
    * ([[bruteForceTopK]] for `exact`; [[lshTopK]]/[[ivfTopK]] for
    * `approx`). Per exact-side query: `n_exact` ground-truth neighbors,
    * `n_hit` of them recovered by the approximate frame, recall =
    * n_hit / n_exact. Queries the approximate tier missed entirely still
    * appear (recall 0.0) — silently dropping them would inflate the
    * macro average. One equi-join on (vec_id, neighbor_id) over two
    * (k·n)-row frames + one map-side-combinable groupBy; the vectors
    * themselves are never touched. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = approx.select(col("vec_id"), col("neighbor_id"),
      lit(1L).as("__hit"))
    exact.select(col("vec_id"), col("neighbor_id"))
      .join(hit, Seq("vec_id", "neighbor_id"), "left")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Deterministic random hyperplanes: `bands` bands × `planesPerBand`
    * planes, components from splitmix64 mapped to [-1, 1). Public because
    * they are plan-time constants: the driver oracle inlines them as SQL
    * literals to re-derive the exact bucket assignment. */
  def hyperplanes(dim: Int, bands: Int, planesPerBand: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(bands, planesPerBand, dim) { (b, p, d) =>
      val r = mix(seed ^ mix(b * 1000003L + p * 1009L + d))
      (r >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  // ------------------------------------------------------------------ IVF

  /** Public fit entry for the fit-once/probe-many shape: fit the coarse
    * quantizer once, persist it via [[saveIvf]], and every later probe job
    * [[loadCentroids]] instead of re-collecting the sample and re-running
    * Lloyd (which [[ivfTopK]] otherwise does per call). */
  def fitIvf(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, iters: Int = 8, sampleN: Int = 4096,
      seed: Long = 42L, hashOrder: String = "xxhash64"): Array[Array[Float]] =
    fitCentroids(emb.select(col(idCol).as("id"), col(vecCol).as("v")),
      nCentroids, iters, sampleN, seed, hashOrder)

  /** Spherical-k-means coarse quantizer fit on a deterministic bounded
    * sample. The sample (≤ `sampleN` vectors, picked by hash order so it is
    * corpus-wide and reproducible) is collected to the driver — the model
    * is O(nCentroids × dim) like MLlib's KMeans; the DATA never is. Lloyd
    * iterations run in a fixed order in double precision, so the returned
    * centroids are bit-deterministic for a given (input, seed). */
  private[operators] def fitCentroids(base: DataFrame, nCentroids: Int,
      iters: Int, sampleN: Int, seed: Long,
      hashOrder: String = "xxhash64"): Array[Array[Float]] = {
    // hashOrder picks the deterministic sample shuffle: xxhash64 is the
    // production default; sha256 gives the identical semantics in a hash
    // both Spark and ANSI SQL compute bit-equally, which (with iters=0)
    // makes the whole IVF index/probe path DuckDB-oracle-checkable.
    val ord =
      if (HashFamily.isSha256(hashOrder, "xxhash64"))
        sha2(concat(col("id").cast("string"), lit(":" + seed)), 256)
      else xxhash64(col("id"), lit(seed))
    val rows = base
      .orderBy(ord, col("id"))
      .limit(sampleN)
      .collect()
    val pts: Array[Array[Double]] = rows.map { r =>
      val v = r.getSeq[Float](1).toArray
      val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      if (n == 0.0) v.map(_.toDouble) else v.map(_.toDouble / n)
    }
    if (pts.isEmpty) return Array(Array(0.0f))
    val kk = math.min(nCentroids, pts.length)
    var cents: Array[Array[Double]] = pts.take(kk).map(_.clone())
    val dim = pts(0).length
    for (_ <- 1 to iters) {
      val sums = Array.fill(kk, dim)(0.0)
      val counts = new Array[Long](kk)
      pts.foreach { p =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var d = 0.0
          var i = 0
          while (i < dim) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else {
          val mean = sums(c).map(_ / counts(c))
          val n = math.sqrt(mean.foldLeft(0.0)((acc, x) => acc + x * x))
          if (n == 0.0) mean else mean.map(_ / n)
        }
      }
    }
    cents.map(_.map(_.toFloat))
  }

  private def litVec(c: Array[Float]): Column =
    array(c.toIndexedSeq.map(x => lit(x)): _*)

  /** Per-centroid cosine scores as (cos, -id) structs. The row vector's
    * norm appears once (codegen subexpression elimination folds the
    * repeated vec_norm into one evaluation) and each centroid's norm is a
    * plan-time Scala constant computed with the IDENTICAL left fold the
    * kernel uses — so each score is bit-identical to the fused
    * cosine_sim(v, centroid) while folding one dot per centroid instead
    * of dot + both norms. */
  private def centScores(v: Column, cents: Array[Array[Float]]): Seq[Column] = {
    val nv = graft.functions.vec_norm(v)
    cents.indices.map { i =>
      val nc = math.sqrt(cents(i).foldLeft(0.0)(
        (acc, x) => acc + x.toDouble * x.toDouble))
      struct((graft.functions.vec_dot(v, litVec(cents(i))) / (nv * lit(nc)))
        .as("c"), lit(-i).as("ni"))
    }
  }

  /** argmax over centroids by cosine; ties break to the LOWER centroid id
    * (struct max on (cos, -id)). Pure codegen'd expressions — evaluated
    * per row inside whole-stage codegen, no UDF. */
  private def nearestCid(v: Column, cents: Array[Array[Float]]): Column =
    array_max(array(centScores(v, cents): _*)).getField("ni") * -1

  /** The `nProbe` nearest centroid ids, best first. Ties break to the
    * LOWER centroid id — the SAME order as [[nearestCid]], so on an exact
    * tie a vector's own inverted list is always the first list probed
    * (a mismatched tie order would probe the own list last or drop it
    * past nProbe, a silent recall leak). */
  private def probeCids(v: Column, cents: Array[Array[Float]],
      nProbe: Int): Column =
    transform(slice(reverse(array_sort(array(centScores(v, cents): _*))), 1, nProbe),
      s => s.getField("ni") * -1)

  /** IVF (inverted-file) ANN top-k — the classic coarse-quantizer scale
    * path, complementing [[lshTopK]].
    *
    * Index: every vector lands in exactly ONE inverted list (its nearest
    * centroid), so index size is n rows regardless of recall tuning.
    * Probe: each query fans out to its `nProbe` nearest centroids, so the
    * candidate set is the union of nProbe lists — cost Σ probed-list sizes,
    * not n². One shuffle on the centroid id + the per-vector top-k window.
    * No (query, neighbor) pair can repeat (a neighbor is indexed once and
    * probe cids are distinct), so no dedup pass is needed.
    * Recall vs brute force is measured in SimilaritySpec, not assumed. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 8,
      sampleN: Int = 4096, seed: Long = 42L,
      hashOrder: String = "xxhash64"): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cents = fitCentroids(base, nCentroids, iters, sampleN, seed, hashOrder)
    ivfProbe(ivfIndex(emb, idCol, vecCol, cents), emb, idCol, vecCol,
      cents, k, nProbe)
  }

  // ------------------------------------------- persistable IVF index

  /** The persistable inverted-file index of a corpus: every vector in
    * exactly ONE list — (cid, neighbor_id, vb, nb) with the vector's norm
    * precomputed so probes never re-fold it. [[Dedup.bandIndex]]'s
    * build-once shape applied to ANN: write this (partitioned by `cid` at
    * scale so a probe's fan-out prunes to its nProbe lists) plus the
    * centroids ([[saveIvf]] does both), and every probe-many job reads
    * them back instead of re-assigning the corpus. Append-only growth is
    * trivial — assignment is per-vector, so indexing a new batch with the
    * SAME centroids and appending is exactly the merged index (unlike the
    * band index there is no cross-batch cap interaction); re-fit centroids
    * only when drift degrades recall, which is a full rebuild. */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Float]]): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v")).select(
      nearestCid(col("v"), cents).as("cid"),
      col("id").as("neighbor_id"), col("v").as("vb"),
      graft.functions.vec_norm(col("v")).as("nb"))

  /** Top-k probe of a (possibly parquet-round-tripped) [[ivfIndex]].
    * Bit-identical to [[ivfTopK]] given the same centroids: identical
    * score expressions, identical (cos desc, neighbor_id asc) tie order.
    * Queries need not be the indexed corpus — this is the
    * search-the-corpus-for-new-batch shape; self-matches (same id both
    * sides) are excluded. */
  def ivfProbe(index: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Array[Array[Float]], k: Int,
      nProbe: Int = 4): DataFrame = {
    val probes = queries.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .select(col("vec_id"), col("v").as("va"),
        graft.functions.vec_norm(col("v")).as("na"),
        explode(probeCids(col("v"), cents, nProbe)).as("cid"))
    val scored = probes.join(index, "cid")
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosPre(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
    topK(scored, k)
  }

  /** Fitted centroids as a persistable (cid, centroid) frame. Floats are
    * IEEE binary in parquet, so save→load round-trips the model bit-exactly
    * ([[loadCentroids]]; SimilaritySpec pins indexed ≡ direct). */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toIndexedSeq) }
      .toDF("cid", "centroid")
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] = {
    val rows = spark.read.parquet(s"$path/centroids").collect()
    val byCid = rows.map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    require(byCid.size == rows.length, s"duplicate cids in IVF model at $path")
    require(byCid.keySet == (0 until byCid.size).toSet,
      s"gappy cid set in IVF model at $path: ${byCid.keySet.toSeq.sorted}")
    (0 until byCid.size).map(byCid).toArray
  }

  /** Persist centroids + inverted lists under one root: `$path/centroids`
    * and `$path/index`. The index is written partitioned by `cid`, so a
    * probe job reading it back scans only the lists it fans out to
    * (partition pruning on the probe cids at scale). */
  def saveIvf(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Float]], path: String): Unit = {
    centroidFrame(emb.sparkSession, cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    ivfIndex(emb, idCol, vecCol, cents)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/index")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/index")
      .select(col("cid").cast("int").as("cid"), col("neighbor_id"),
        col("vb"), col("nb"))

  // ------------------------------------------------------------------ LSH

  /** (id, v, band key) bucket assignment for the hyperplane LSH of
    * [[lshTopK]]. */
  private def lshBucketed(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int, planesPerBand: Int, seed: Long): DataFrame = {
    val planes = hyperplanes(dim, bands, planesPerBand, seed)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    // band signature = ONE fused codegen call per band (hyperplane_sig);
    // the interpreted higher-order `dot` here used to dominate the whole
    // operator (~20× the fused cost). Bit semantics identical: bit p set
    // iff the left-fold double dot with plane p is > 0.
    val bandKeys = (0 until bands).map { bnd =>
      concat(lit(s"$bnd:"),
        graft.functions.hyperplane_sig(col("v"), planes(bnd))).as(s"band$bnd")
    }
    base.select(col("id") +: col("v") +:
        graft.functions.vec_norm(col("v")).as("nrm") +: bandKeys: _*)
      .select(col("id"), col("v"), col("nrm"),
        explode(array((0 until bands).map(bnd => col(s"band$bnd")): _*)).as("key"))
  }

  /** Banded random-hyperplane LSH top-k. Each vector lands in `bands`
    * buckets keyed by the sign pattern of `planesPerBand` projections;
    * candidates = pairs sharing any bucket; exact cosine ranks them.
    * Single shuffle on the bucket key + window per vec_id.
    *
    * Three-tier policy of [[Tiers]]: with b planes a band has only 2^b
    * buckets, so at 100× corpus growth every bucket is 100× larger and
    * the join cost Σ bucket² concentrates in the densest sign patterns.
    * The vector and its norm ride through both tiers as payload
    * (replication cost saltGroups × vector bytes per salted row, which
    * beats re-shuffling the corpus to re-attach them by id). The default
    * hardCap is lossless (nothing dropped).
    *
    * A finite `hardCap` is lossy (recall, not correctness — dropped
    * buckets shrink candidate sets); `dropped` lists the (key, n) buckets
    * it cut. Dropping costs recall, so measure it (SimilaritySpec does) —
    * but an over-hard-cap bucket means the band carries too few planes to
    * discriminate at the corpus's density, and paying its |bucket|² cost
    * buys near-random candidates anyway; the scale remedies are more
    * planes per band, or letting the (default, lossless) salted tier
    * carry it. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      dim: Int, bands: Int = 4, planesPerBand: Int = 6,
      seed: Long = 42L, bucketCap: Int = 2000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped = {
    // the bucketing feeds the sizing aggregate and the join-back
    val bucketed = Frames.shared(
      lshBucketed(emb, idCol, vecCol, dim, bands, planesPerBand, seed))
    // Score each canonical (a < b) pair once, then mirror it: cosPre is
    // bit-commutable (x*y = y*x term-for-term, same fold order), so both
    // directions carry the exact cosine. A pair sharing several bands
    // repeats with identical cos, so max() dedups it exactly on scalars
    // only (the 64-float vectors never enter the dedup shuffle) and the
    // partial aggregate combines duplicates map-side.
    Tiers.pairs(bucketed, Seq("key"), "id", bucketCap, hardCap, saltGroups,
        payload = Seq("v", "nrm"))
      .map(p => topK(p
        .select(col("id_a"), col("id_b"),
          cosPre(col("v_a"), col("nrm_a"), col("v_b"), col("nrm_b")).as("cos"))
        .select(explode(array(
            struct(col("id_a").as("vec_id"), col("id_b").as("neighbor_id")),
            struct(col("id_b").as("vec_id"), col("id_a").as("neighbor_id")))).as("d"),
          col("cos"))
        .groupBy(col("d.vec_id").as("vec_id"), col("d.neighbor_id").as("neighbor_id"))
        .agg(max(col("cos")).as("cos")), k))
  }

  /** (id, band, sig) integer signatures — the un-stringified face of
    * [[lshBucketed]], shared by multi-probe (which must perturb the sig
    * BITS, impossible on the concatenated key). No vectors here: the
    * probe fan-out below multiplies rows, so it multiplies scalars only. */
  private def lshSigs(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int, planesPerBand: Int, seed: Long): DataFrame = {
    val planes = hyperplanes(dim, bands, planesPerBand, seed)
    val sigCols = (0 until bands).map(b =>
      graft.functions.hyperplane_sig(col("v"), planes(b)).as(s"sig$b"))
    emb.select(col(idCol).as("id") +: col(vecCol).as("v") +: Nil: _*)
      .select(col("id") +: sigCols: _*)
      .select(col("id"), posexplode(
        array((0 until bands).map(b => col(s"sig$b")): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("sig"))
  }

  /** Multi-probe LSH top-k (Lv et al. VLDB'07): each vector INDEXES
    * under its true band signatures but PROBES its own bucket plus every
    * single-bit perturbation of each band signature — a vector whose
    * true neighbor fell just across one hyperplane (the dominant LSH
    * miss mode: one near-zero projection flips one bit) is recovered
    * without adding bands or re-hashing the corpus. Candidates are a
    * strict superset of [[lshTopK]]'s at the same (bands, planesPerBand),
    * so recall can only improve — at the cost of probing
    * (planesPerBand + 1)× more buckets per band, the standard
    * memory-vs-recall trade multi-probe was invented for (fewer bands,
    * same recall).
    *
    * probeBits = 0 degenerates to single-probe and is spec-pinned equal
    * to [[lshTopK]]; probeBits = 1 probes all single-bit flips
    * (deterministic probe set — no query-adaptive scoring, so the
    * whole operator stays an oracle-replayable projection chain).
    *
    * Scale shape — DIFFERENT from lshTopK, deliberately: signatures are
    * (id, band, sig) scalars with NO vector attached, so the
    * (planesPerBand+1)-way probe explosion multiplies integers, never
    * embedding bytes; the probe⋈index equi-join emits bare (qid, id)
    * candidate pairs; ONE distinct dedups multi-band/multi-probe
    * collisions on scalars; exactly then are vectors+norms re-attached
    * by two primary-key equi-joins for one cosine per UNIQUE pair
    * (lshTopK instead scores per collision and max-dedups — equal
    * results, but under a probe fan-out that would score each pair up
    * to 2·(planesPerBand+1)·bands times). Index-side skew tiers are
    * [[Tiers.probe]]'s; `dropped` lists the buckets over `hardCap` under
    * [[lshTopK]]'s (key, n) schema and keys. */
  def lshMultiProbeTopK(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, bands: Int = 4, planesPerBand: Int = 6,
      probeBits: Int = 1, seed: Long = 42L, bucketCap: Int = 2000,
      hardCap: Int = Int.MaxValue, saltGroups: Int = 16): Capped = {
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 (single-probe) or 1 (1-bit flips), got $probeBits")
    val sigs = lshSigs(emb, idCol, vecCol, dim, bands, planesPerBand, seed)
    val index = sigs.select(
      concat(col("band"), lit(":"), col("sig")).as("key"), col("id"))
    val probeSigs =
      if (probeBits == 0) array(col("sig"))
      else array(col("sig") +: (0 until planesPerBand).map(j =>
        col("sig").bitwiseXOR(lit(1 << j))): _*)
    val probes = sigs
      .select(col("id").as("qid"), col("band"),
        explode(probeSigs).as("psig"))
      .select(concat(col("band"), lit(":"), col("psig")).as("key"),
        col("qid"))
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.vec_norm(col(vecCol)).as("nrm"))
    Tiers.probe(index, probes, Seq("key"), "id", "qid", bucketCap, hardCap,
        saltGroups).map { cand =>
      val scored = cand.select(col("qid"), col("id"))
        .where(col("qid") =!= col("id")).distinct()
        .join(base.select(col("id").as("qid"), col("v").as("va"),
          col("nrm").as("na")), "qid")
        .join(base.select(col("id"), col("v").as("vb"),
          col("nrm").as("nb")), "id")
        .select(col("qid").as("vec_id"), col("id").as("neighbor_id"),
          cosPre(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
      topK(scored, k)
    }
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher SIGIR'09) — merge
    * several per-query ranked candidate lists into one, score =
    * Σ_lists 1/(k0 + rank): the standard score-free ensemble for hybrid
    * retrieval (LSH + IVF, embedding + lexical, two independent index
    * draws). Rank-based, so incomparable scores (cosine vs Jaccard vs
    * edit similarity) fuse without calibration, and a candidate found by
    * SEVERAL retrievers outranks one found high by a single retriever —
    * exactly the redundancy-rewarding behavior an ER candidate stage
    * wants before expensive verification.
    *
    * Inputs must share (idCol, candCol, rankCol) with rank >= 1 per
    * query; a (query, candidate) absent from a list contributes 0 from
    * that list (the published convention). Each list is deduped on
    * (query, candidate) by MIN rank first, so a pathological input with
    * duplicate rows cannot double-count. The fused score is evaluated as
    * ONE fixed-order expression (list order = argument order), so it is
    * bit-deterministic and oracle-replayable; ties break by candidate id
    * ascending. Output: (idCol, candCol, rrf_score, rank) — top `k` per
    * query.
    *
    * 100 TB shape: L−1 full-outer equi-joins on (query, candidate) over
    * top-k-sized frames (k·|queries| rows each — retrieval outputs, not
    * corpora) + one per-query top-k window; nothing touches the
    * underlying corpus. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, candCol: String,
      rankCol: String, k: Int, k0: Int = 60): DataFrame = {
    require(lists.size >= 2, s"need >= 2 lists to fuse, got ${lists.size}")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val renamed = lists.zipWithIndex.map { case (df, i) =>
      df.groupBy(col(idCol).as("__id"), col(candCol).as("__cand"))
        .agg(min(col(rankCol)).cast("double").as(s"__r$i"))
    }
    val joined = renamed.reduce((a, b) =>
      a.join(b, Seq("__id", "__cand"), "full_outer"))
    val score = lists.indices.map(i =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__score").desc, col("__cand").asc)
    joined.withColumn("__score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("__id").as(idCol), col("__cand").as(candCol),
        col("__score").as("rrf_score"), col("rank"))
  }
}
