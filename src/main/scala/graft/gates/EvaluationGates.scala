package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._
import graft.operators.Frames

/** Gates of linkage evaluation: two-table linkage and its threshold,
  * ROC and PR curves, best and greedy matches, the cluster-agreement
  * metrics (B-cubed, MUC, ARI, partition and information agreement) and
  * the confusion tables. */
private[graft] object EvaluationGates {

  /** The two-corpus linkage the linkage and ROC gates evaluate: customer
    * vs supplier names blocked on nationkey, every blocked pair scored
    * (theta = 1.0), and the suffix-equality truth (Customer#…001 ↔
    * Supplier#…001) as (id_l, id_r). */
  private def linkage(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("bk"))
    val supp = s.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_nationkey").as("bk"))
    val scored = graft.operators.Linkage.linkTables(cust, supp, "id",
      "name", "bk", theta = 1.0, bucketPairCap = 1000000L).out
    val labeled = cust
      .select(col("id").as("id_l"), substring(col("name"), -9, 9).as("__sfx"))
      .join(supp.select(col("id").as("id_r"),
        substring(col("name"), -9, 9).as("__sfx")), "__sfx")
      .select(col("id_l"), col("id_r"))
    (scored, labeled)
  }

  /** Shared CTE chain of the two-corpus linkage oracle (customer vs
    * supplier blocked on nationkey, composite JW+Dice in `scored`) —
    * reused by q_link_tables and q_best_match. */
  private val linkTablesCtes =
    """lk AS (
      |  SELECT c_custkey AS id, c_nationkey AS key, c_name AS name FROM customer
      |), rk AS (
      |  SELECT s_suppkey AS id, s_nationkey AS key, s_name AS name FROM supplier
      |), nl AS (
      |  SELECT key, count(*) AS n FROM lk GROUP BY key
      |), nr AS (
      |  SELECT key, count(*) AS n FROM rk GROUP BY key
      |), good AS (
      |  SELECT nl.key FROM nl JOIN nr ON nl.key = nr.key
      |  WHERE nl.n * nr.n <= 1000000
      |), pairs AS (
      |  SELECT DISTINCT l.id AS id_l, r.id AS id_r,
      |         l.name AS name_l, r.name AS name_r
      |  FROM lk l JOIN good g ON l.key = g.key
      |       JOIN rk r ON r.key = l.key
      |), exploded AS (
      |  SELECT id_l, id_r, unnest(string_split(name_l, '')) AS ch,
      |         1 AS ac, 0 AS bc FROM pairs
      |  UNION ALL
      |  SELECT id_l, id_r, unnest(string_split(name_r, '')) AS ch,
      |         0 AS ac, 1 AS bc FROM pairs
      |), counts AS (
      |  SELECT id_l, id_r, ch, sum(ac) AS ca, sum(bc) AS cb
      |  FROM exploded GROUP BY id_l, id_r, ch
      |), sums AS (
      |  SELECT id_l, id_r, sum(least(ca, cb)) AS inter,
      |         sum(ca) + sum(cb) AS total
      |  FROM counts GROUP BY id_l, id_r
      |), scored AS (
      |  SELECT p.id_l, p.id_r,
      |    CASE WHEN p.name_l = p.name_r THEN 1.0
      |         ELSE jaro_winkler_similarity(p.name_l, p.name_r) END AS jw,
      |    CASE WHEN p.name_l = p.name_r THEN 1.0
      |         ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END AS dice
      |  FROM pairs p JOIN sums s ON p.id_l = s.id_l AND p.id_r = s.id_r
      |)""".stripMargin

  /** SQL mirror of [[linkage]] as a `WITH` list: [[linkTablesCtes]],
    * then `base (id_l, id_r, score)` with score = jw + dice, `labeled`,
    * the suffix-equality truth, and `flag (score, t)`, t = 1 on a true
    * pair. */
  private val flagCtes =
    s"""WITH $linkTablesCtes,
      |base AS (
      |  SELECT id_l, id_r, jw + dice AS score
      |  FROM scored WHERE jw + dice >= 1.0
      |), labeled AS (
      |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
      |  FROM customer c JOIN supplier s
      |    ON right(c.c_name, 9) = right(s.s_name, 9)
      |), flag AS (
      |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
      |  FROM base b LEFT JOIN labeled l
      |    ON b.id_l = l.id_l AND b.id_r = l.id_r
      |)""".stripMargin

  /** [[flagCtes]] and `cells (score, n, t)`: the pair count and the true
    * pair count of each distinct score, the rocCurve cells. */
  private val scoreCellsCtes =
    s"""$flagCtes, cells AS (
      |  SELECT score, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(t) AS BIGINT) AS t
      |  FROM flag GROUP BY score
      |)""".stripMargin

  /** The confusion-weighted edit-distance DP of the confusion gates, as
    * an oracle over `pairs (id, a, b)`: customer names `a` of every
    * `every`-th key against the probe expression `b`. The q_nw_sim
    * window recursion takes min, with indels at 2 and the substitution
    * cost CASE generated from StrSimKernels.ocrConfusions (one rule
    * list): 0 on equal chars, 1 on a listed confusable pair, else 2.
    * `select` projects each pair from its last cell `d.cell`, null when
    * a = b. */
  private def confusionDpSql(b: String, every: Int, select: String): String = {
    val confPairs = graft.strsim.StrSimKernels.ocrConfusions
      .flatMap { case (x, y) => Seq(s"'$x$y'", s"'$y$x'") }
      .mkString(", ")
    val cost = s"""CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)] THEN 0
                  |  WHEN (xa[(t+1)//(m+1)] || xb[(t+1)%(m+1)])
                  |    IN ($confPairs) THEN 1
                  |  ELSE 2 END""".stripMargin
    s"""WITH RECURSIVE pairs AS (
       |  SELECT c_custkey AS id, c_name AS a,
       |    $b AS b
       |  FROM customer WHERE c_custkey % $every = 0
       |), prep AS (
       |  SELECT id, string_split(a, '') AS xa, string_split(b, '') AS xb,
       |         length(a) AS n, length(b) AS m
       |  FROM pairs WHERE a <> b
       |), dp AS (
       |  SELECT id, xa, xb, n, m,
       |         0 AS t, CAST(0 AS BIGINT) AS cell,
       |         list_transform(range(1, 2*m + 5),
       |           k -> CAST(NULL AS BIGINT)) AS win
       |  FROM prep
       |  UNION ALL
       |  SELECT id, xa, xb, n, m, t + 1 AS t,
       |    CASE
       |      WHEN (t+1) % (m+1) = 0 THEN CAST(2*((t+1) // (m+1)) AS BIGINT)
       |      WHEN (t+1) // (m+1) = 0 THEN CAST(2*((t+1) % (m+1)) AS BIGINT)
       |      ELSE least(
       |        nw[m+3] + ($cost),
       |        nw[m+4] + 2,
       |        nw[2*m+4] + 2)
       |    END AS cell,
       |    nw AS win
       |  FROM (SELECT *, win[2:] || [cell] AS nw
       |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
       |)
       |$select
       |FROM pairs p
       |LEFT JOIN (SELECT id, cell FROM dp
       |           WHERE t = (n+1)*(m+1) - 1) d
       |  ON p.id = d.id""".stripMargin
  }

  /** The cluster-agreement gates' input: customer ids with a predicted
    * partition (segment:nation) and a reference one (name suffix). */
  private def partitions(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey").as("id"),
      concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("cluster_id"),
      substring(col("c_name"), 16, 3).as("truth_id"))

  val all: Seq[Gate] = Seq(
    // Adjusted Rand Index (Hubert-Arabie): chance-corrected pair-counting
    // agreement between two partitions of the customers (nation vs
    // market segment) — integer sufficient statistics (decimal-folded
    // pair sums), ONE double division at the end.
    Gate("q_adjusted_rand", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Evaluation.adjustedRandStats(
        c.select(col("c_custkey").as("id"),
          col("c_nationkey").cast("string").as("cluster_id"),
          col("c_mktsegment").as("truth_id")))
    },
      // Adjusted Rand Index: contingency pair sums in HUGEINT (the s2_*
      // terms carry 2·ΣC(·,2), all even → // 2 exact), the cleared-fraction
      // formula, one CASTed double division.
      """WITH asg AS (
        |  SELECT c_custkey AS id, CAST(c_nationkey AS VARCHAR) AS a,
        |         c_mktsegment AS b
        |  FROM customer
        |), cell AS (
        |  SELECT a, b, count(*) AS nij FROM asg GROUP BY a, b
        |), sij AS (
        |  SELECT sum(nij * (nij - 1)) AS s2_ij, sum(nij) AS n FROM cell
        |), sa AS (
        |  SELECT sum(na * (na - 1)) AS s2_a FROM (
        |    SELECT a, sum(nij) AS na FROM cell GROUP BY a)
        |), sb AS (
        |  SELECT sum(nb * (nb - 1)) AS s2_b FROM (
        |    SELECT b, sum(nij) AS nb FROM cell GROUP BY b)
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(s2_ij // 2 AS BIGINT) AS s_ij,
        |  CAST(s2_a // 2 AS BIGINT) AS s_a,
        |  CAST(s2_b // 2 AS BIGINT) AS s_b,
        |  CASE WHEN n * (n - 1) * (s2_a + s2_b) - 2 * s2_a * s2_b <> 0 THEN
        |    CAST(2 * (n * (n - 1) * s2_ij - s2_a * s2_b) AS DOUBLE) /
        |    CAST(n * (n - 1) * (s2_a + s2_b) - 2 * s2_a * s2_b AS DOUBLE)
        |  END AS ari
        |FROM sij, sa, sb""".stripMargin),

    // two-corpus linkage (A vs B — crawl-vs-registry shape): customer and
    // supplier names blocked on nationkey, composite JW+Dice score ≥ θ;
    // per-key pair product capped (mirrored in the oracle's sized CTE)
    Gate("q_link_tables", (s, dir) => linkage(s, dir)._1,
      s"""WITH $linkTablesCtes
        |SELECT id_l, id_r, jw, dice, jw + dice AS score
        |FROM scored WHERE jw + dice >= 1.0""".stripMargin),

    // Decision-threshold sweep over the two-corpus linkage: P/R/F1 at ten
    // θ values against suffix-equality truth (Customer#…001 ↔
    // Supplier#…001), in ONE pass (explode over the θ literals, map-side
    // combined). Truth pairs blocked apart (different nationkey) never
    // reach the scorer and surface as irreducible fn — the recall ceiling
    // blocking imposes, which is exactly what the curve should show.
    Gate("q_threshold_sweep", (s, dir) => {
      val (scored, labeled) = linkage(s, dir)
      graft.operators.Evaluation.thresholdSweep(scored, labeled,
        Seq(1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9))
    },
      // Threshold sweep: per-θ confusion counts over the linkage scores vs
      // suffix-equality truth; counts are integer aggregates, P/R one exact
      // division each (NULL when the denominator is 0), f1 pinned to
      // (2·p)·r/(p+r) with 0.0 at tp=0. θ literals CAST to DOUBLE (DuckDB
      // parses bare decimals as DECIMAL).
      s"""$flagCtes, thetas AS (
        |  SELECT unnest([CAST(1.0 AS DOUBLE), CAST(1.1 AS DOUBLE),
        |    CAST(1.2 AS DOUBLE), CAST(1.3 AS DOUBLE), CAST(1.4 AS DOUBLE),
        |    CAST(1.5 AS DOUBLE), CAST(1.6 AS DOUBLE), CAST(1.7 AS DOUBLE),
        |    CAST(1.8 AS DOUBLE), CAST(1.9 AS DOUBLE)]) AS theta
        |), per AS (
        |  SELECT t.theta,
        |    CAST(sum(CASE WHEN f.score >= t.theta THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
        |    CAST(sum(CASE WHEN f.score >= t.theta THEN f.t ELSE 0 END) AS BIGINT) AS tp
        |  FROM thetas t CROSS JOIN flag f GROUP BY t.theta
        |), ntrue AS (SELECT count(*) AS n FROM labeled
        |), pr AS (
        |  SELECT p.theta, p.n_pred, p.tp, p.n_pred - p.tp AS fp,
        |    n.n - p.tp AS fn,
        |    CASE WHEN p.n_pred > 0 THEN
        |      CAST(p.tp AS DOUBLE) / CAST(p.n_pred AS DOUBLE) END AS "precision",
        |    CASE WHEN n.n > 0 THEN
        |      CAST(p.tp AS DOUBLE) / CAST(n.n AS DOUBLE) END AS recall
        |  FROM per p, ntrue n
        |)
        |SELECT theta, n_pred, tp, fp, fn, "precision", recall,
        |  CASE WHEN tp > 0 THEN
        |    CAST(2.0 AS DOUBLE) * "precision" * recall / ("precision" + recall)
        |  ELSE CAST(0.0 AS DOUBLE) END AS f1
        |FROM pr""".stripMargin),

    // ROC operating curve of the two-corpus linkage scorer vs
    // suffix-equality truth: one row per distinct score (cumulative
    // tp/fp, exact tpr/fpr divisions). The cumulative counts are one
    // distributed running sum (Frames.runningSums) — no corpus-sized
    // single-partition window (PipelinePlanSpec-checked discipline),
    // while the oracle can afford the plain window.
    Gate("q_roc_curve", (s, dir) => {
      val (scored, labeled) = linkage(s, dir)
      graft.operators.Evaluation.rocCurve(scored, labeled)
    },
      // ROC curve: same flagged-score derivation as q_threshold_sweep, one
      // cell per distinct score, cumulative tp/fp by a descending-score
      // window (the oracle can afford the single-partition window the
      // Spark side replaces with a distributed running sum).
      s"""$scoreCellsCtes, cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), tot AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS p,
        |         CAST(count(*) - sum(t) AS BIGINT) AS nn
        |  FROM flag
        |)
        |SELECT c.score, c.n, c.t, c.tp, c.fp,
        |  CASE WHEN tot.p > 0 THEN
        |    CAST(c.tp AS DOUBLE) / CAST(tot.p AS DOUBLE) END AS tpr,
        |  CASE WHEN tot.nn > 0 THEN
        |    CAST(c.fp AS DOUBLE) / CAST(tot.nn AS DOUBLE) END AS fpr
        |FROM cum c, tot""".stripMargin),

    // Exact Mann-Whitney AUC (half-credit ties) of the same scorer, in
    // all-integer decimal(38,0) arithmetic with ONE final division —
    // bit-reproducible by the oracle's HUGEINT fold.
    Gate("q_roc_auc", (s, dir) => {
      val (scored, labeled) = linkage(s, dir)
      graft.operators.Evaluation.auc(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    },
      // Exact AUC: the Mann-Whitney fold over the same score cells, all
      // integer (HUGEINT mirrors decimal(38,0)), one final division.
      s"""$scoreCellsCtes, cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(sum(t) AS BIGINT) AS n_pos,
        |    CAST(sum(n - t) AS BIGINT) AS n_neg,
        |    sum(CAST(t AS HUGEINT) * CAST(fp AS HUGEINT)) AS tfp,
        |    sum(CAST(t AS HUGEINT) * CAST(n - t AS HUGEINT)) AS ties
        |  FROM cum
        |)
        |SELECT n_scores, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(2 * (CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT) - tfp)
        |         + ties AS DOUBLE)
        |    / CAST(2 * CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT)
        |           AS DOUBLE) END AS auc
        |FROM agg""".stripMargin),

    // Precision-recall curve of the same scorer — the operating view that
    // stays informative under the blocking-candidate class imbalance ROC
    // flatters (fp moves fpr microscopically but craters precision). Pure
    // projection over the rocCurve cell frame; precision's denominator is
    // the cumulative count at s (never 0), recall re-emits tpr.
    Gate("q_pr_curve", (s, dir) => {
      val (scored, labeled) = linkage(s, dir)
      graft.operators.Evaluation.prCurve(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    },
      // PR curve: the q_roc_curve cumulative cells projected to
      // precision = tp/(tp+fp) (cumulative n at s — never 0) and
      // recall = tpr (same exact division).
      s"""$scoreCellsCtes, cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), tot AS (SELECT CAST(sum(t) AS BIGINT) AS p FROM flag)
        |SELECT c.score, c.n, c.t, c.tp, c.fp,
        |  CAST(c.tp AS DOUBLE) / CAST(c.tp + c.fp AS DOUBLE) AS "precision",
        |  CASE WHEN tot.p > 0 THEN
        |    CAST(c.tp AS DOUBLE) / CAST(tot.p AS DOUBLE) END AS recall
        |FROM cum c, tot""".stripMargin),

    // Average precision (area under the step PR curve): the per-threshold
    // division is irreducible, so the scalar is a SEQUENTIAL IEEE fold
    // over the score-DESC cell frame — term order and op order pinned,
    // replayed by the oracle as an ordered list_reduce left fold.
    Gate("q_avg_precision", (s, dir) => {
      val (scored, labeled) = linkage(s, dir)
      graft.operators.Evaluation.averagePrecision(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    },
      // Average precision: the same cells folded SEQUENTIALLY in score-DESC
      // order — each term (t/P)·(tp/(tp+fp)) in the operator's pinned op
      // order, summed by a list_reduce left fold seeded with 0.0 (the
      // prepended element), mirroring Spark's aggregate(arr, 0.0, ...).
      s"""$scoreCellsCtes, cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cn
        |  FROM cells
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(sum(t) AS BIGINT) AS n_pos,
        |    list(struct_pack(t := t, tp := tp, cn := cn)
        |         ORDER BY score DESC) AS cells_ord
        |  FROM cum
        |)
        |SELECT n_scores, n_pos,
        |  CASE WHEN n_pos > 0 THEN
        |    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(cells_ord,
        |      x -> (CAST(x.t AS DOUBLE) / CAST(n_pos AS DOUBLE))
        |         * (CAST(x.tp AS DOUBLE) / CAST(x.cn AS DOUBLE))),
        |      (x, y) -> x + y) END AS ap
        |FROM agg""".stripMargin),

    // Pay-as-you-go (progressive) recall curve: sorted-neighborhood
    // pairs consumed in (window-distance, rank) order, recall banked at
    // four pair budgets — the curve that justifies early-stopping a
    // 10^12-pair progressive-ER job. Rank assignment is a distributed
    // running sum; the per-budget counts are one exploded
    // map-side-combined pass (thresholdSweep-shaped).
    Gate("q_progressive_recall", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("nk"))
      val pairs = graft.operators.Linkage.sortedNeighborhoodPairs(
        c, "id", "name", window = 4)
      val ranked = graft.operators.Evaluation.progressiveRank(pairs,
        col("rank_b") - col("rank_a"),
        col("rank_a") * 1048576L + col("rank_b"))
      val labeled = c.select(col("id").as("id_a"), col("nk"),
          substring(col("name"), -2, 2).as("__s2"))
        .join(c.select(col("id").as("id_b"), col("nk"),
          substring(col("name"), -2, 2).as("__s2")), Seq("nk", "__s2"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      graft.operators.Evaluation.progressiveCurve(
        ranked.select(col("id_a"), col("id_b"), col("rank")), labeled,
        Seq(500L, 2000L, 8000L, 50000L))
    },
      // Progressive recall: ranked sorted-neighborhood pairs consumed in
      // (window distance, left rank) order; per-budget counts replayed.
      """WITH ranked AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |  FROM customer
        |), prs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.rnk AS ra, b.rnk AS rb
        |  FROM ranked a JOIN ranked b
        |    ON b.rnk > a.rnk AND b.rnk - a.rnk <= 3
        |), ord AS (
        |  SELECT id_a, id_b, CAST(row_number() OVER (
        |    ORDER BY rb - ra, ra * 1048576 + rb) AS BIGINT) AS rnk
        |  FROM prs
        |), labeled AS (
        |  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |       AND right(a.c_name, 2) = right(b.c_name, 2)
        |       AND a.c_custkey < b.c_custkey
        |), flag AS (
        |  SELECT o.rnk, CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM ord o LEFT JOIN labeled l
        |    ON o.id_a = l.id_a AND o.id_b = l.id_b
        |), budgets AS (
        |  SELECT CAST(unnest([500, 2000, 8000, 50000]) AS BIGINT) AS budget
        |), per AS (
        |  SELECT bu.budget,
        |    CAST(count(f.rnk) AS BIGINT) AS n_consumed,
        |    CAST(COALESCE(sum(f.t), 0) AS BIGINT) AS tp
        |  FROM budgets bu LEFT JOIN flag f ON f.rnk <= bu.budget
        |  GROUP BY bu.budget
        |), ntrue AS (SELECT count(*) AS n FROM labeled)
        |SELECT p.budget, p.n_consumed, p.tp,
        |  CASE WHEN ntrue.n > 0 THEN
        |    CAST(p.tp AS DOUBLE) / CAST(ntrue.n AS DOUBLE) END AS recall
        |FROM per p, ntrue""".stripMargin),

    // Symmetric best match over the two-corpus linkage: keep (l, r) only
    // when each is the other's top-scoring candidate (ties broken by the
    // opposite id) — the one-to-one post-filter for A-vs-B linkage.
    // InferWindowGroupLimit turns both argmax windows into per-group
    // top-1 limits before their shuffles.
    Gate("q_best_match", (s, dir) =>
      // symmetricBestMatches reads the scored frame twice (one argmax
      // window per side)
      graft.operators.Linkage.symmetricBestMatches(
        Frames.shared(linkage(s, dir)._1)),
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw, dice, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), bl AS (
        |  SELECT id_l, id_r, jw, dice, score FROM (
        |    SELECT b.*, row_number() OVER (
        |      PARTITION BY id_l ORDER BY score DESC, id_r) AS rn
        |    FROM base b) WHERE rn = 1
        |), br AS (
        |  SELECT id_l, id_r FROM (
        |    SELECT id_l, id_r, row_number() OVER (
        |      PARTITION BY id_r ORDER BY score DESC, id_l) AS rn
        |    FROM base) WHERE rn = 1
        |)
        |SELECT bl.id_l, bl.id_r, bl.jw, bl.dice, bl.score
        |FROM bl JOIN br ON bl.id_l = br.id_l AND bl.id_r = br.id_r""".stripMargin),

    // Greedy one-to-one matching (unique-mapping decision rule): iterate
    // locally-dominant mutual-best rounds until the scored pair set
    // drains — exactly the sequential sort-by-score greedy matching,
    // computed in O(rounds) distributed passes. The oracle replays the
    // SAME rounds as a recursive CTE (layered windows over the working
    // table), so round count, tie-breaks, and the final matching are all
    // hash-grade.
    Gate("q_greedy_matches", (s, dir) =>
      graft.operators.Linkage.greedyMatches(linkage(s, dir)._1),
      // Greedy 1:1 matching replayed round-by-round: each recursive step
      // sees the previous round's survivors, flags locally-dominant pairs
      // (top-1 for BOTH endpoints under (score DESC, opposite id)), then a
      // second window layer removes every survivor sharing an endpoint with
      // an accepted pair. Accepted rows (acc) accumulate; survivors carry
      // acc = false and are the only rows the next step reads.
      s"""WITH RECURSIVE $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), st(rnd, id_l, id_r, score, acc) AS (
        |  SELECT 0, id_l, id_r, score, FALSE FROM base
        |  UNION ALL
        |  SELECT rnd + 1, id_l, id_r, score, acc FROM (
        |    SELECT rnd, id_l, id_r, score, acc,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY id_l) AS dead_l,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY id_r) AS dead_r
        |    FROM (
        |      SELECT rnd, id_l, id_r, score,
        |        (row_number() OVER (PARTITION BY id_l
        |           ORDER BY score DESC, id_r) = 1
        |         AND row_number() OVER (PARTITION BY id_r
        |           ORDER BY score DESC, id_l) = 1) AS acc
        |      FROM st WHERE NOT acc
        |    ) s0
        |  ) s1
        |  WHERE acc OR (dead_l = 0 AND dead_r = 0)
        |)
        |SELECT id_l, id_r, score FROM st WHERE acc""".stripMargin),

    // B-cubed sufficient statistics (Bagga-Baldwin cluster-level metric):
    // per-cluster and per-truth-class (n_g, Σ ni²) over the contingency
    // counts of a predicted partition (the capped blocking key) vs a
    // reference partition (name suffix) — all-integer, hash-exact; the
    // scalar B³ P/R/F1 folds from these rows.
    Gate("q_bcubed", (s, dir) =>
      graft.operators.Evaluation.bCubedStats(partitions(s, dir)),
      """WITH j AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS ni FROM j GROUP BY g, t
        |), sp AS (
        |  SELECT g, CAST(sum(ni) AS BIGINT) AS n_g,
        |         CAST(sum(ni * ni) AS BIGINT) AS sum_ni2
        |  FROM ni GROUP BY g
        |), st AS (
        |  SELECT t, CAST(sum(ni) AS BIGINT) AS n_g,
        |         CAST(sum(ni * ni) AS BIGINT) AS sum_ni2
        |  FROM ni GROUP BY t
        |)
        |SELECT 'cluster' AS side, g AS gid, n_g, sum_ni2 FROM sp
        |UNION ALL
        |SELECT 'truth' AS side, t AS gid, n_g, sum_ni2 FROM st""".stripMargin),

    // Cluster-LEVEL metrics (Menestrina et al.): exact-match cluster
    // precision/recall/F1 plus unit-cost Generalized Merge Distance —
    // whole-cluster counts over the same contingency the pairwise/B³
    // gates weight by records. All-integer folds + exact divisions.
    Gate("q_cluster_metrics", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Evaluation.clusterMetrics(
        c.select(col("c_custkey").as("id"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
            .as("cluster_id"),
          substring(col("c_name"), 16, 3).as("truth_id")))
    },
      // cluster-level metrics: the same contingency cells, whole-cluster
      // exact-match counts + unit-cost GMD (splits to the common
      // refinement, merges up to the truth).
      """WITH j AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS n FROM j GROUP BY g, t
        |), sp AS (
        |  SELECT g, sum(n) AS np, count(*) AS kp FROM ni GROUP BY g
        |), st AS (
        |  SELECT t, sum(n) AS nt, count(*) AS kt FROM ni GROUP BY t
        |), ex AS (
        |  SELECT count(*) AS n_exact
        |  FROM ni JOIN sp USING (g) JOIN st USING (t)
        |  WHERE ni.n = sp.np AND ni.n = st.nt
        |), ap AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |         CAST(sum(kp - 1) AS BIGINT) AS gmd_splits,
        |         CAST(sum(np) AS BIGINT) AS n_records
        |  FROM sp
        |), at2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |         CAST(sum(kt - 1) AS BIGINT) AS gmd_merges
        |  FROM st
        |), m AS (
        |  SELECT ap.n_records, ap.n_pred, at2.n_truth,
        |    CAST(ex.n_exact AS BIGINT) AS n_exact,
        |    CASE WHEN ap.n_pred > 0 THEN CAST(ex.n_exact AS DOUBLE)
        |         / CAST(ap.n_pred AS DOUBLE) END AS cluster_precision,
        |    CASE WHEN at2.n_truth > 0 THEN CAST(ex.n_exact AS DOUBLE)
        |         / CAST(at2.n_truth AS DOUBLE) END AS cluster_recall,
        |    ap.gmd_splits, at2.gmd_merges,
        |    ap.gmd_splits + at2.gmd_merges AS gmd
        |  FROM ap, at2, ex
        |)
        |SELECT n_records, n_pred, n_truth, n_exact, cluster_precision,
        |  cluster_recall,
        |  CASE WHEN n_exact > 0 THEN
        |    CAST(2.0 AS DOUBLE) * cluster_precision * cluster_recall
        |    / (cluster_precision + cluster_recall)
        |  ELSE CAST(0.0 AS DOUBLE) END AS cluster_f1,
        |  gmd_splits, gmd_merges, gmd
        |FROM m""".stripMargin),

    // Cluster-size histogram: the run-over-run dedup dashboard (fattening
    // tail = over-merge, singleton collapse = under-match). Two sizing
    // groupBys; fractions are exact divisions against the broadcast
    // total.
    Gate("q_cluster_profile", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Evaluation.clusterSizeProfile(
        c.select(col("c_custkey").as("id"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
            .as("cluster_id")))
    },
      // cluster-size histogram: sizes -> histogram -> exact fractions.
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), sz AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS cluster_size FROM j GROUP BY g
        |), tot AS (
        |  SELECT CAST(sum(cluster_size) AS BIGINT) AS total FROM sz
        |)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_records,
        |  CAST(cluster_size * count(*) AS DOUBLE) / CAST(tot.total AS DOUBLE)
        |    AS frac_records
        |FROM sz, tot GROUP BY cluster_size, tot.total""".stripMargin),

    // MUC link-edit metric over the SAME predicted/truth partitions as
    // q_bcubed — integer numerators/denominators, exact divisions.
    Gate("q_muc", (s, dir) =>
      graft.operators.Evaluation.mucStats(partitions(s, dir)),
      // MUC: contingency counts, per-class scatter counts, exact integer
      // sums and divisions; f1 null iff either side is null.
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS ni FROM j GROUP BY g, t
        |), byt AS (
        |  SELECT CAST(sum(n - p) AS BIGINT) AS recall_num,
        |         CAST(sum(n - 1) AS BIGINT) AS recall_den
        |  FROM (SELECT t, sum(ni) AS n, count(*) AS p FROM ni GROUP BY t) z1
        |), byg AS (
        |  SELECT CAST(sum(n - q) AS BIGINT) AS precision_num,
        |         CAST(sum(n - 1) AS BIGINT) AS precision_den
        |  FROM (SELECT g, sum(ni) AS n, count(*) AS q FROM ni GROUP BY g) z2
        |), pr AS (
        |  SELECT precision_num, precision_den, recall_num, recall_den,
        |    CASE WHEN precision_den > 0 THEN
        |      CAST(precision_num AS DOUBLE) / CAST(precision_den AS DOUBLE)
        |    END AS muc_precision,
        |    CASE WHEN recall_den > 0 THEN
        |      CAST(recall_num AS DOUBLE) / CAST(recall_den AS DOUBLE)
        |    END AS muc_recall
        |  FROM byg, byt
        |)
        |SELECT precision_num, precision_den, recall_num, recall_den,
        |  muc_precision, muc_recall,
        |  CASE WHEN muc_precision IS NULL OR muc_recall IS NULL THEN NULL
        |       WHEN muc_precision + muc_recall > 0 THEN
        |         CAST(2.0 AS DOUBLE) * muc_precision * muc_recall
        |           / (muc_precision + muc_recall)
        |       ELSE CAST(0.0 AS DOUBLE) END AS muc_f1
        |FROM pr""".stripMargin),

    // Partition-agreement metrics (Rand / Fowlkes-Mallows / Talburt-Wang
    // + raw pair confusion counts) over the SAME predicted/truth
    // partitions as q_muc/q_bcubed — integer contingency sums in
    // decimal(38,0), the only rounding the final IEEE division/sqrt.
    Gate("q_partition_agreement", (s, dir) =>
      graft.operators.Evaluation.partitionAgreementStats(partitions(s, dir)),
      // Partition agreement: the same contingency/marginal sums as the
      // Spark side (2·C(x,2) = x·(x−1) kept integral in HUGEINT), pair
      // confusion counts by exact halving, then the identical double
      // division / sqrt expressions (sqrt is correctly rounded, so the
      // doubles match bit-exactly).
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, CAST(count(*) AS HUGEINT) AS ni FROM j GROUP BY g, t
        |), cells AS (
        |  SELECT sum(ni * (ni - 1)) AS s2_ij, sum(ni) AS n,
        |         CAST(count(*) AS BIGINT) AS v
        |  FROM ni
        |), sa AS (
        |  SELECT sum(na * (na - 1)) AS s2_a, CAST(count(*) AS BIGINT) AS ca
        |  FROM (SELECT g, sum(ni) AS na FROM ni GROUP BY g) z1
        |), sb AS (
        |  SELECT sum(nb * (nb - 1)) AS s2_b, CAST(count(*) AS BIGINT) AS cb
        |  FROM (SELECT t, sum(ni) AS nb FROM ni GROUP BY t) z2
        |)
        |SELECT CAST(n AS BIGINT) AS n, ca, cb, v,
        |  CAST(s2_ij // 2 AS BIGINT) AS tp,
        |  CAST((s2_a - s2_ij) // 2 AS BIGINT) AS fp,
        |  CAST((s2_b - s2_ij) // 2 AS BIGINT) AS fn,
        |  CAST((n * (n - 1) - s2_a - s2_b + s2_ij) // 2 AS BIGINT) AS tn,
        |  CASE WHEN n * (n - 1) > 0 THEN
        |    CAST(2 * s2_ij + n * (n - 1) - s2_a - s2_b AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) END AS rand_index,
        |  CASE WHEN s2_a > 0 AND s2_b > 0 THEN
        |    CAST(s2_ij // 2 AS DOUBLE)
        |      / sqrt(CAST(s2_a // 2 AS DOUBLE) * CAST(s2_b // 2 AS DOUBLE))
        |  END AS fowlkes_mallows,
        |  CASE WHEN v > 0 THEN
        |    sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(v AS DOUBLE)
        |  END AS talburt_wang,
        |  v - ca AS gmd_splits, v - cb AS gmd_merges,
        |  2 * v - ca - cb AS gmd
        |FROM cells, sa, sb""".stripMargin),

    // Confusion-weighted edit distance (OCR/web-noise comparator):
    // each sliced customer name vs a deterministically OCR-noised
    // variant (digits -> confusable glyph letters via translate; odd
    // keys append one char to exercise the indel lane). Substitutions
    // between listed confusable pairs cost 1, other edits 2 —
    // all-integer DP, replayed cell-for-cell in SQL (the q_nw_sim
    // recursion) with the cost CASE folded from the SAME
    // StrSimKernels.ocrConfusions table, so the engines cannot drift.
    Gate("q_confusion_lev", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 17 === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("a"),
          concat(translate(col("c_name"), "015", "OIS"),
            when(col("c_custkey") % 2 === 1, lit("x"))
              .otherwise(lit(""))).as("b"))
      c.select(col("id"),
        graft.functions.confusion_lev_dist(col("a"), col("b")).as("dist"),
        graft.functions.confusion_lev_sim(col("a"), col("b")).as("sim"))
    },
      // fingerprint-sharing pairs: distinct (doc, hash) edges, then the
      // same brute-force common-neighbor tail as q_common_neighbors.
      // the q_nw_sim DP recursion with min + the confusion cost CASE
      // generated from StrSimKernels.ocrConfusions (one rule list).
      confusionDpSql(
        """translate(c_name, '015', 'OIS') ||
          |      (CASE WHEN c_custkey % 2 = 1 THEN 'x' ELSE '' END)""".stripMargin,
        17,
        """SELECT p.id,
          |  CAST(coalesce(d.cell, 0) AS BIGINT) AS dist,
          |  CASE WHEN p.a = p.b THEN CAST(1 AS DOUBLE)
          |       ELSE CAST(1 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
          |            (CAST(2 AS DOUBLE) *
          |             CAST(greatest(length(p.a), length(p.b)) AS DOUBLE))
          |  END AS sim""".stripMargin)),

    // OCR-aware comparator levels: four deterministic probe families
    // per sliced customer (identity / last-digit glyph swap / short
    // append / reversal) exercise all four gammas — level 2 is the
    // confusion-DP "same name through an OCR lens" band that plain
    // stringLevels cannot express. Oracle = the probe CASE + the
    // confusion DP recursion + DuckDB's bit-matching jaro_winkler.
    Gate("q_confusion_levels", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 13 === 0)
      val lastSwapped = concat(
        expr("substring(c_name, 1, length(c_name) - 1)"),
        translate(expr("substring(c_name, length(c_name), 1)"),
          "0123456789", "OIZEASGTBg"))
      val probe = when(pmod(col("c_custkey"), lit(4)) === 0, col("c_name"))
        .when(pmod(col("c_custkey"), lit(4)) === 1, lastSwapped)
        .when(pmod(col("c_custkey"), lit(4)) === 2,
          concat(col("c_name"), lit("xyz")))
        .otherwise(reverse(col("c_name")))
      c.select(col("c_custkey").as("id"),
        graft.operators.Comparators.confusionLevels(col("c_name"), probe)
          .as("gamma"))
    },
      // probe-family CASE + the same confusion-DP recursion + DuckDB's
      // bit-matching jaro_winkler for the fuzzy band.
      confusionDpSql(
        """CASE
          |      WHEN c_custkey % 4 = 0 THEN c_name
          |      WHEN c_custkey % 4 = 1 THEN
          |        substr(c_name, 1, length(c_name) - 1) ||
          |        translate(substr(c_name, length(c_name), 1),
          |          '0123456789', 'OIZEASGTBg')
          |      WHEN c_custkey % 4 = 2 THEN c_name || 'xyz'
          |      ELSE reverse(c_name)
          |    END""".stripMargin,
        13,
        """SELECT p.id,
          |  CAST(CASE WHEN p.a = p.b THEN 3
          |    WHEN d.cell <= 2 THEN 2
          |    WHEN jaro_winkler_similarity(p.a, p.b) >= CAST(0.88 AS DOUBLE)
          |      THEN 1
          |    ELSE 0 END AS BIGINT) AS gamma""".stripMargin)),

    // Information-theoretic agreement family, gate face: count-of-counts
    // sufficient statistics (side × group_size → n_groups) over the SAME
    // predicted/truth partitions as q_muc/q_bcubed/q_partition_agreement.
    // Entropies depend on the partitions only through these size
    // multisets; the histogram is ALL-INTEGER (ln is libm-dependent
    // across engines, so the scalar fold is spec-pinned in sbt, not
    // hash-gated — the log-free house discipline).
    Gate("q_info_stats", (s, dir) =>
      graft.operators.Evaluation.informationStats(partitions(s, dir)),
      // information stats: the same contingency/marginal groupBys, then one
      // count-of-counts groupBy per side — all integers, no logs anywhere.
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, CAST(count(*) AS BIGINT) AS sz FROM j GROUP BY g, t
        |), na AS (
        |  SELECT g, CAST(sum(sz) AS BIGINT) AS sz FROM ni GROUP BY g
        |), nb AS (
        |  SELECT t, CAST(sum(sz) AS BIGINT) AS sz FROM ni GROUP BY t
        |)
        |SELECT 'cell' AS side, sz AS group_size,
        |       CAST(count(*) AS BIGINT) AS n_groups
        |FROM ni GROUP BY sz
        |UNION ALL
        |SELECT 'cluster', sz, CAST(count(*) AS BIGINT) FROM na GROUP BY sz
        |UNION ALL
        |SELECT 'truth', sz, CAST(count(*) AS BIGINT) FROM nb GROUP BY sz""".stripMargin),
  )
}
