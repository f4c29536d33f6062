package graft
package gates

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._

/** Gates of vector similarity search: brute-force, mutual, LSH,
  * multi-probe and IVF top-k, their recall, rank fusion, and embedding
  * dedup. */
private[graft] object SimilarityGates {

  /** The top-3 tail of the ANN oracles over a `(vec_id, neighbor_id,
    * cos)` CTE named `from`: ranked by cosine descending, ties to the
    * smaller neighbor id. */
  private def top3Sql(from: String): String =
    s"""ranked AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM $from
       |)
       |SELECT vec_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3""".stripMargin

  /** DuckDB cosine over two 64-dim float list columns — the same strict
    * left folds as the fused cosine_sim kernel (pattern proven bit-exact by
    * q_ann_bruteforce). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** Exact cosine top-3 (the q_ann_bruteforce oracle, factored so
    * q_ann_recall can compose it with the LSH derivation). */
  private val oracleSqlBruteForce: String =
    s"""WITH pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), ${top3Sql("pairs")}""".stripMargin

  private def annLshOracle: String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 4, 6, 42L)
    // CAST('<shortest-roundtrip-repr>' AS DOUBLE): a bare decimal literal
    // would parse as DECIMAL and lose the exact binary64 value
    def dot(plane: Array[Double]): String = {
      val lits = plane.map(v => s"CAST('$v' AS DOUBLE)").mkString(",")
      s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ([$lits])[i]))"
    }
    val bandKeys = (0 until 4).map { b =>
      val bits = (0 until 6).map { p =>
        s"(CASE WHEN ${dot(planes(b)(p))} > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"'$b:' || CAST($bits AS VARCHAR)"
    }.mkString(", ")
    s"""WITH buckets AS (
       |  SELECT vec_id, unnest([$bandKeys]) AS key FROM embeddings
       |), sized AS (
       |  SELECT key, count(*) AS n FROM buckets GROUP BY key
       |), good AS (
       |  SELECT b.vec_id, b.key FROM buckets b JOIN sized s USING (key)
       |  WHERE s.n <= 2000
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM good a JOIN good b ON a.key = b.key AND a.vec_id <> b.vec_id
       |), scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c JOIN embeddings ea ON c.vec_id = ea.vec_id
       |              JOIN embeddings eb ON c.neighbor_id = eb.vec_id
       |), ${top3Sql("scored")}""".stripMargin
  }

  private def annIvfOracle: String =
    s"""WITH ordered AS (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY sha256(CAST(vec_id AS VARCHAR) || ':42') ASC, vec_id ASC) AS rn
       |  FROM embeddings
       |), cents AS (
       |  SELECT rn - 1 AS cid,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
       |      / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS REAL)) AS cent
       |  FROM ordered WHERE rn <= 16
       |), vc AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cent")} AS cs
       |  FROM embeddings e CROSS JOIN cents c
       |), vcr AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rr
       |  FROM vc
       |), assigned AS (
       |  SELECT vec_id AS neighbor_id, cid FROM vcr WHERE rr = 1
       |), probes AS (
       |  SELECT vec_id, cid FROM vcr WHERE rr <= 4
       |), scored AS (
       |  SELECT p.vec_id, a.neighbor_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.vec_id <> a.neighbor_id
       |  JOIN embeddings ea ON ea.vec_id = p.vec_id
       |  JOIN embeddings eb ON eb.vec_id = a.neighbor_id
       |), ${top3Sql("scored")}""".stripMargin

  val all: Seq[Gate] = Seq(
    // brute-force cosine top-k (exact ANN baseline)
    Gate("q_ann_bruteforce", (s, dir) => graft.operators.Similarity.bruteForceTopK(
      spread(s.read.parquet(s"$dir/embeddings.parquet")), "vec_id", "embedding", k = 3),
      oracleSqlBruteForce),

    // reciprocal top-k: pairs where EACH side ranks the other in its
    // top-3 — the hub-suppressing mutual-kNN dedup criterion, one
    // equi-join over the top-k frame (composes with any ANN tier).
    Gate("q_ann_mutual", (s, dir) => graft.operators.Similarity.mutualTopK(
      graft.operators.Similarity.bruteForceTopK(
        spread(s.read.parquet(s"$dir/embeddings.parquet")), "vec_id", "embedding", k = 3)),
      // mutual kNN: the same ranked CTE joined to itself with the roles
      // swapped; cos is fold-order-identical in both directions so the
      // equi-join needs no tolerance.
      """WITH pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT vec_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM pairs
        |)
        |SELECT a.vec_id AS ia, a.neighbor_id AS ib, a.cos,
        |       a.rank AS rank_ab, b.rank AS rank_ba
        |FROM ranked a JOIN ranked b
        |  ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
        |WHERE a.rank <= 3 AND b.rank <= 3 AND a.vec_id < a.neighbor_id""".stripMargin),

    // banded hyperplane-LSH ANN (scale path). The hyperplanes are
    // plan-time constants, so the oracle re-derives the exact bucket
    // assignment in SQL with the planes inlined as literals — bucketing,
    // candidate join, cosine, and top-k window all hash-checked.
    Gate("q_ann_lsh", (s, dir) => graft.operators.Similarity.lshTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, dim = 64).out,
      annLshOracle),

    // LSH salted-tier losslessness proof: bucketCap=1 forces EVERY
    // multi-member band bucket through the salted grid self-join; the
    // result must equal the plain-tier oracle bit-for-bit — the grid
    // loses and invents nothing (ANN analogue of q_dedup_simhash_salted).
    Gate("q_ann_lsh_salted", (s, dir) => graft.operators.Similarity.lshTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, dim = 64, bucketCap = 1, saltGroups = 8).out,
      // the salted-tier run must reproduce the PLAIN-tier oracle exactly
      // (the 2000-bucket cut in annLshOracle never bites at gate SFs, so
      // the oracle is the uncapped candidate set either way)
      annLshOracle),

    // Multi-probe LSH (Lv et al. VLDB'07): vectors INDEX under their
    // true band signatures but PROBE every single-bit perturbation too,
    // recovering the one-plane-flip misses without extra bands. The
    // probe fan-out multiplies (id, band, sig) scalars only — vectors
    // re-attach by primary key AFTER the candidate distinct, so each
    // unique pair is scored once. Candidates are a strict superset of
    // q_ann_lsh's; oracle re-derives sig ints, xor-perturbed probe
    // keys, the probe-index join, and the top-k window.
    Gate("q_ann_multiprobe", (s, dir) => graft.operators.Similarity
      .lshMultiProbeTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        k = 3, dim = 64).out,
      // Multi-probe LSH oracle: integer band signatures re-derived with the
      // planes inlined, probe keys = sig plus every single-bit xor, then
      // the probe-index join / pair distinct / cosine / top-k window —
      // the [[graft.operators.Similarity.lshMultiProbeTopK]] defaults
      // (bands=4, planesPerBand=6, probeBits=1, bucketCap=2000).
      {
        val planes = graft.operators.Similarity.hyperplanes(64, 4, 6, 42L)
        def dot(plane: Array[Double]): String = {
          val lits = plane.map(v => s"CAST('$v' AS DOUBLE)").mkString(",")
          s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ([$lits])[i]))"
        }
        def sig(b: Int): String = (0 until 6).map { p =>
          s"(CASE WHEN ${dot(planes(b)(p))} > 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString("(", " + ", ")")
        val indexKeys = (0 until 4)
          .map(b => s"'$b:' || CAST(${sig(b)} AS VARCHAR)").mkString(", ")
        val probeKeys = (0 until 4).flatMap { b =>
          s"'$b:' || CAST(${sig(b)} AS VARCHAR)" +:
            (0 until 6).map(j =>
              s"'$b:' || CAST(xor(${sig(b)}, ${1 << j}) AS VARCHAR)")
        }.mkString(", ")
        s"""WITH buckets AS (
           |  SELECT vec_id, unnest([$indexKeys]) AS key FROM embeddings
           |), sized AS (
           |  SELECT key, count(*) AS n FROM buckets GROUP BY key
           |), good AS (
           |  SELECT b.vec_id, b.key FROM buckets b JOIN sized s USING (key)
           |  WHERE s.n <= 2000
           |), probes AS (
           |  SELECT vec_id AS qid, unnest([$probeKeys]) AS key FROM embeddings
           |), cand AS (
           |  SELECT DISTINCT p.qid AS vec_id, g.vec_id AS neighbor_id
           |  FROM probes p JOIN good g ON p.key = g.key AND p.qid <> g.vec_id
           |), scored AS (
           |  SELECT c.vec_id, c.neighbor_id,
           |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
           |  FROM cand c JOIN embeddings ea ON c.vec_id = ea.vec_id
           |              JOIN embeddings eb ON c.neighbor_id = eb.vec_id
           |), ${top3Sql("scored")}""".stripMargin
      }),

    // Reciprocal-rank fusion (Cormack et al. SIGIR'09): two directed
    // same-nation candidate rankings per customer — by the Jaro kernel
    // and by normalized-Levenshtein similarity — fused score-free as
    // Σ 1/(60 + rank), top-3 per query. Rank agreement between engines
    // rests on the kernels' bit-equality (q_jaro_sim /
    // q_levenshtein_sim gates); the fused score is ONE fixed-order
    // expression, ties by candidate id.
    Gate("q_rrf_fuse", (s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          col("c_name").as("nm"))
      val pairs = c.select(col("nk"), col("id").as("qid"), col("nm").as("qn"))
        .join(c.select(col("nk"), col("id").as("cid"), col("nm").as("cn")),
          "nk")
        .where(col("qid") =!= col("cid"))
      def top10(sim: org.apache.spark.sql.Column) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
        pairs.select(col("qid"), col("cid"), sim.as("sim"))
          .withColumn("r", row_number().over(w)).where(col("r") <= 10)
          .select(col("qid"), col("cid"), col("r"))
      }
      graft.operators.Similarity.rrfFuse(Seq(
          top10(graft.functions.jaro_sim(col("qn"), col("cn"))),
          top10(graft.functions.levenshtein_sim(col("qn"), col("cn")))),
        "qid", "cid", "r", k = 3)
    },
      // two kernel-ranked top-10 lists, full-outer fused with the
      // fixed-order Σ 1/(60+rank) expression, top-3 window.
      """WITH p AS (
        |  SELECT a.c_custkey AS qid, b.c_custkey AS cid,
        |         a.c_name AS qn, b.c_name AS cn
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
        |), la AS (
        |  SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS r
        |  FROM (SELECT qid, cid, CASE WHEN qn = cn THEN 1.0
        |          ELSE jaro_similarity(qn, cn) END AS sim FROM p) z
        |  QUALIFY r <= 10
        |), lb AS (
        |  SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS r
        |  FROM (SELECT qid, cid, CASE WHEN qn = cn THEN 1.0
        |          ELSE 1.0 - CAST(levenshtein(qn, cn) AS DOUBLE)
        |               / greatest(length(qn), length(cn)) END AS sim
        |        FROM p) z
        |  QUALIFY r <= 10
        |), f AS (
        |  SELECT coalesce(la.qid, lb.qid) AS qid,
        |    coalesce(la.cid, lb.cid) AS cid,
        |    coalesce(CAST(1 AS DOUBLE)
        |        / (CAST(60 AS DOUBLE) + CAST(la.r AS DOUBLE)),
        |      CAST(0 AS DOUBLE))
        |    + coalesce(CAST(1 AS DOUBLE)
        |        / (CAST(60 AS DOUBLE) + CAST(lb.r AS DOUBLE)),
        |      CAST(0 AS DOUBLE)) AS rrf_score
        |  FROM la FULL JOIN lb ON la.qid = lb.qid AND la.cid = lb.cid
        |)
        |SELECT qid, cid, rrf_score,
        |  CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf_score DESC, cid ASC) AS BIGINT)
        |    AS rank
        |FROM f QUALIFY rank <= 3""".stripMargin),

    // Recall@k of the LSH tier against the exact baseline — the ANN
    // acceptance metric, computed per query (missed queries appear with
    // recall 0.0, keeping the macro average honest). One equi-join over
    // the two (k·n)-row top-k frames; the oracle composes the LSH and
    // brute-force derivations and replays the same join.
    Gate("q_ann_recall", (s, dir) => {
      val emb = spread(s.read.parquet(s"$dir/embeddings.parquet"))
      graft.operators.Similarity.recallAtK(
        graft.operators.Similarity.lshTopK(emb, "vec_id", "embedding",
          k = 3, dim = 64).out,
        graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          k = 3))
    },
      // recall@k: the LSH and brute-force derivations composed as derived
      // tables (nested CTEs), then the same per-query left-join fold.
      s"""WITH lsh AS (SELECT * FROM ($annLshOracle) x),
        |exact AS (SELECT * FROM (${oracleSqlBruteForce}) y),
        |j AS (
        |  SELECT e.vec_id,
        |    CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM exact e LEFT JOIN lsh l
        |    ON e.vec_id = l.vec_id AND e.neighbor_id = l.neighbor_id
        |)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(hit) AS BIGINT) AS n_hit,
        |  CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        |FROM j GROUP BY vec_id""".stripMargin),

    // IVF coarse-quantizer ANN (second scale path). Driven with iters=0 +
    // sha256 sample order so the centroid set (first 16 sample vectors,
    // normalized) is SQL-derivable: index assignment, probe fan-out, and
    // top-k are all hash-checked. The Lloyd fit itself (iters>0) is pure
    // driver-side model fitting, covered by SimilaritySpec recall tests.
    Gate("q_ann_ivf", (s, dir) => graft.operators.Similarity.ivfTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, nCentroids = 16, nProbe = 4, iters = 0, hashOrder = "sha256"),
      annIvfOracle),

    // fit-once/probe-many IVF: the fitted centroids AND the inverted
    // lists are persisted (index partitioned by cid — probe jobs prune to
    // the lists they fan out to), reloaded, and probed — must hash-match
    // q_ann_ivf exactly: the index round-trip is a cost refactoring, not
    // new semantics (floats are IEEE binary in parquet).
    Gate("q_ann_ivf_indexed", (s, dir) => {
      val sim = graft.operators.Similarity
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = sim.fitIvf(emb, "vec_id", "embedding",
        nCentroids = 16, iters = 0, hashOrder = "sha256")
      val ivfDir = tempTree("graft_ivf_index")
      sim.saveIvf(emb, "vec_id", "embedding", cents, ivfDir)
      sim.ivfProbe(sim.loadIvfIndex(s, ivfDir), emb, "vec_id", "embedding",
        sim.loadCentroids(s, ivfDir), k = 3, nProbe = 4)
    },
      annIvfOracle),

    // embedding-cosine near-dup pairs blocked by label
    Gate("q_dedup_embedding_cosine", (s, dir) => graft.operators.Dedup.embeddingCosinePairs(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      "label", tau = 0.25),
      """WITH scored AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT ia, ib, cos FROM scored WHERE cos >= 0.25""".stripMargin),
  )
}
