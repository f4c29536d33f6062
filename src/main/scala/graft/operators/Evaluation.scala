package graft.operators

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation of a linkage run: blocking quality (reduction ratio, pairs
  * completeness, the cap sweep, capture-recapture), label-driven views of
  * pairwise match scores (θ sweep, unlinkables, ROC/PR, average
  * precision) and of a PROGRESSIVE pair order (pay-as-you-go recall), the
  * cluster review queues (weakest links, near misses), and the
  * cluster-agreement metrics of a predicted partition against a reference
  * one (exact match, B-cubed, MUC, ARI, pair counting, information, the
  * generation diff). Graph metrics are [[GraphMetrics]].
  *
  * `labeled` carries the true pairs (a, b); the scored/ordered pair frame
  * is the classifier output under evaluation. All counts are integer-exact (decimal(38,0) where products of
  * corpus-sized counts can pass 2^63 — the [[blockingQuality]] overflow
  * lesson applied); every ratio is one exact integer→double division, so
  * the DuckDB oracle reproduces each value bit-for-bit.
  *
  * Scale design: NO single-partition window over anything corpus-sized.
  * Cumulative counts and ranks are [[Frames.runningSums]] — a range
  * partition on the order key, a P-row collect of each partition's sums,
  * and per-partition running sums plus offsets, read from one RDD. */
object Evaluation {

  private val dec = "decimal(38,0)"

  /** ROC operating curve of a pairwise scorer: one row per DISTINCT score
    * s (descending), counting the prediction "match ⇔ score ≥ s".
    *
    * Semantics: the population is exactly the scored pair set (standard
    * classifier ROC — pairs the blocker never generated are out of frame;
    * [[blockingQuality]] / [[thresholdSweep]]'s `fn`
    * carry that ceiling). A scored pair is positive iff it appears in
    * `labeled` (dedup'd). Output per score s:
    *  - `n`, `t` — pairs / true pairs AT this exact score;
    *  - `tp`, `fp` — cumulative true/false positives at threshold s
    *    (score ≥ s);
    *  - `tpr` = tp / P, `fpr` = fp / N (NULL when the denominator is 0 —
    *    no positives/negatives is "no evidence", not a rate).
    *
    * Plan shape: one left join to flag labels, one map-side-combinable
    * groupBy(score) to score-level cells, then one [[Frames.runningSums]]
    * of `n` and `t` in descending score order, whose totals are P and N:
    * they enter the rates as literals. The score-level frame is
    * |distinct scores|-sized — already far below the pair count — and
    * nothing above it is windowed. */
  def rocCurve(scored: DataFrame, labeled: DataFrame,
      aCol: String = "id_l", bCol: String = "id_r",
      scoreCol: String = "score", partitions: Int = 0): DataFrame = {
    val perScore = labelFlag(scored, labeled, col(scoreCol), aCol, bCol)
      .groupBy(col("__v").as("score"))
      .agg(count(lit(1)).as("n"), sum(col("__t")).as("t"))
    val (cum, totals) = Frames.runningSums(perScore,
      Seq("score" -> DriverFinish.Desc),
      Seq("__cn" -> col("n"), "tp" -> col("t")), partitions)
    val Seq(pairs, pos) = totals
    val neg = pairs - pos
    val fp = col("__cn") - col("tp")
    cum.select(col("score"), col("n"), col("t"), col("tp"), fp.as("fp"),
      when(lit(pos > 0), col("tp").cast("double") / pos.toDouble).as("tpr"),
      when(lit(neg > 0), fp.cast("double") / neg.toDouble).as("fpr"))
  }

  /** Exact area under the ROC curve from a [[rocCurve]] frame — the
    * Mann-Whitney formulation, not a trapezoid walk: over all
    * (positive, negative) pair combinations, a concordantly-ordered pair
    * scores 1, a tie scores 1/2, so
    *
    *   AUC = [ 2·Σₛ t(s)·(N − fp(s)) + Σₛ t(s)·(n(s) − t(s)) ] / (2·P·N)
    *
    * where fp(s) already counts every negative with score ≥ s (the
    * cumulative column), making N − fp(s) the negatives STRICTLY below s.
    * Doubling both sides keeps the whole numerator in exact integer
    * arithmetic (decimal(38,0) — t·N products overflow long at corpus
    * scale); the single division to double is the only rounding step, so
    * the oracle matches bit-for-bit. One aggregate over the score-level
    * frame; no window, no collect. Output: 1 row
    * (n_scores, n_pos, n_neg, auc — NULL when either class is empty). */
  def auc(roc: DataFrame): DataFrame = {
    val t = col("t").cast(dec)
    val f = (col("n") - col("t")).cast(dec)
    roc.agg(
        count(lit(1)).as("n_scores"),
        sum(col("t")).as("n_pos"),
        sum(col("n") - col("t")).as("n_neg"),
        sum(t * col("fp").cast(dec)).as("__tfp"), // Σ t(s)·fp(s)
        sum(t).cast(dec).as("__p"),
        sum(f).cast(dec).as("__n"),
        sum(t * f).as("__ties"))
      // Σ t(s)·(N − fp(s)) = P·N − Σ t(s)·fp(s)
      .select(col("n_scores"), col("n_pos"), col("n_neg"),
        when(col("__p") > 0 && col("__n") > 0,
          ((lit(2).cast(dec) * (col("__p") * col("__n") - col("__tfp")) +
            col("__ties")).cast("double")) /
            ((lit(2).cast(dec) * col("__p") * col("__n")).cast("double")))
          .as("auc"))
  }

  /** Precision-recall operating curve from a [[rocCurve]] frame — the
    * view that stays informative when negatives dominate positives by
    * orders of magnitude (the universal regime of blocking-generated
    * candidate pairs: fpr moves microscopically while precision
    * collapses, so ROC flatters a linkage scorer and PR does not).
    *
    * One row per distinct score s (prediction "match ⇔ score ≥ s"):
    *  - `precision` = tp / (tp + fp) — the cumulative count at s
    *    includes s's own cell (n ≥ 1), so the denominator is never 0;
    *  - `recall` = tp / P (NULL when there are no positives — identical
    *    to [[rocCurve]]'s tpr, re-emitted under its PR name).
    *
    * Pure projection over the score-cell frame — the distributed
    * cumulative work already happened in [[rocCurve]]; adding this costs
    * nothing at any scale. */
  def prCurve(roc: DataFrame): DataFrame =
    roc.select(col("score"), col("n"), col("t"), col("tp"), col("fp"),
      (col("tp").cast("double") /
        (col("tp") + col("fp")).cast("double")).as("precision"),
      col("tpr").as("recall"))

  /** Average precision — the area under the step-wise PR curve in the
    * scikit-learn / TREC sense: AP = Σₛ (t(s)/P) · precision(s), the
    * recall mass banked at each threshold weighted by the precision
    * there. Unlike [[auc]], no algebra removes the per-threshold
    * division (each term has its own cumulative denominator), so the
    * scalar is a SEQUENTIAL IEEE sum by definition; the fold order is
    * pinned to score DESC (threshold order) and replayed by the oracle
    * as an ordered `list_reduce` left fold — each term computed as
    * `(t/P) · (tp/(tp+fp))` in exactly that operation order, so the
    * double is bit-reproducible.
    *
    * Scale shape: everything distributed happens in [[rocCurve]] (pair
    * join, score cells, distributed prefix sums); this fold collects the
    * CELL frame — |distinct scores| rows, already ≪ the pair count, and
    * model-sized by construction for pattern-style scorers (a
    * Fellegi-Sunter scorer emits ≤ 2^k distinct likelihood ratios). For
    * a continuous scorer over a corpus-scale pair set, bin the scores
    * first (the [[FellegiSunter.matchWeightHistogram]] power-of-two
    * discipline) — AP over bins is AP of the binned classifier, which is
    * the honest statement of what one machine can fold sequentially.
    * Output: 1 row (n_scores, n_pos, ap — NULL when no positives). */
  def averagePrecision(roc: DataFrame): DataFrame = {
    val one = roc
      .select(col("score"), col("t"), col("tp"),
        (col("tp") + col("fp")).as("__cn"))
      .agg(count(lit(1)).as("n_scores"), sum(col("t")).as("n_pos"),
        sort_array(collect_list(struct((-col("score")).as("negs"),
          col("t"), col("tp"), col("__cn").as("cn")))).as("__cells"))
    one.select(col("n_scores"), col("n_pos"),
      when(col("n_pos") > 0,
        aggregate(col("__cells"), lit(0.0), (acc, x) =>
          acc + (x.getField("t").cast("double") /
              col("n_pos").cast("double")) *
            (x.getField("tp").cast("double") /
              x.getField("cn").cast("double")))).as("ap"))
  }

  /** Pay-as-you-go recall curve of a PROGRESSIVE pair generator
    * (Whang-Marmaros-Garcia-Molina "pay-as-you-go ER"): the pairs arrive
    * in a quality-likelihood order (`rankCol`, 1-based, globally unique —
    * e.g. sorted-neighborhood pairs ordered by window distance via
    * [[progressiveRank]]), and each budget B asks "after comparing only
    * the first B pairs, how much recall is already banked?" — the curve
    * that justifies stopping a 10^12-pair job early.
    *
    * One [[sweep]] over the ranks: recall = tp / |labeled| (NULL when no
    * labels); budgets with no consumed pairs still emit a row. */
  def progressiveCurve(pairs: DataFrame, labeled: DataFrame,
      budgets: Seq[Long], rankCol: String = "rank",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    require(budgets.forall(_ >= 1),
      s"progressiveCurve: budgets must be >= 1, got $budgets")
    sweep("progressiveCurve", "budget", budgets, pairs, labeled,
        col(rankCol), aCol, bCol)(_ <= _)
      .select(col("budget"), col("n").as("n_consumed"), col("tp"),
        when(col("__ntrue") > 0,
          col("tp").cast("double") / col("__ntrue").cast("double"))
          .as("recall"))
  }

  /** (`__v`, `__t`) per row of `pairs`: `v` over the row, and `__t` = 1
    * when its (aCol, bCol) pair is in `labeled` (a repeated label counts
    * once), else 0 — one left join on the distinct labels. */
  private def labelFlag(pairs: DataFrame, labeled: DataFrame, v: Column,
      aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol), col(bCol), v.as("__v"))
      .join(labeled.select(col(aCol), col(bCol), lit(1L).as("__t"))
        .distinct(), Seq(aCol, bCol), "left")
      .select(col("__v"), coalesce(col("__t"), lit(0L)).as("__t"))

  /** The literal array of `fn`'s sweep `points`, which must be non-empty
    * and strictly increasing: a repeated point would fan each row out to
    * one group twice and double that point's counts. */
  private def sweepPoints[T](fn: String, what: String, points: Seq[T])(
      implicit num: Numeric[T]): Column = {
    require(points.nonEmpty, s"$fn needs at least one $what")
    require(points.zip(points.drop(1)).forall { case (x, y) => num.lt(x, y) },
      s"$fn: ${what}s must be strictly increasing, got $points")
    array(points.map(lit(_)): _*)
  }

  /** One row per point p of [[sweepPoints]] (column `what`): `n` counts
    * the rows of `pairs` whose `v` `hit`s p and `tp` the labeled ones
    * among them ([[labelFlag]]), both 0 when none does; `__ntrue` is the
    * number of distinct labeled pairs. Each row fans out to the points
    * (explode over the literal array) and partial aggregation folds to
    * |points| groups map-side — no per-point rescan, no window. */
  private def sweep[T: Numeric](fn: String, what: String, points: Seq[T],
      pairs: DataFrame, labeled: DataFrame, v: Column, aCol: String,
      bCol: String)(hit: (Column, Column) => Column): DataFrame = {
    val arr = sweepPoints(fn, what, points)
    val per = labelFlag(pairs, labeled, v, aCol, bCol)
      .select(col("__v"), col("__t"), explode(arr).as(what))
      .where(hit(col("__v"), col(what)))
      .groupBy(col(what))
      .agg(count(lit(1)).as("n"), sum(col("__t")).as("tp"))
    val nTrue = labeled.select(col(aCol), col(bCol)).distinct()
      .agg(count(lit(1)).as("__ntrue"))
    pairs.sparkSession.range(1).select(explode(arr).as(what))
      .join(per, Seq(what), "left")
      .crossJoin(broadcast(nTrue))
      .select(col(what), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("tp"), lit(0L)).as("tp"), col("__ntrue"))
  }

  /** The (cluster, truth) contingency table of `assignments` — one row per
    * non-empty cell, `cells` = (__g, __t, __ni) with `__ni` its record
    * count (one map-side-combined groupBy) — and its two marginals over
    * the cells, one row per cluster and per truth id: `byG` = (__g, __gn,
    * __gk, __gsq) and `byT` = (__t, __tn, __tk, __tsq), each side's record
    * count, non-empty cell count and sum of squared cell counts. A metric
    * reads the aggregates it folds; column pruning drops the others. */
  private case class Contingency(cells: DataFrame, byG: DataFrame,
      byT: DataFrame)

  private def contingency(assignments: DataFrame, clusterCol: String,
      truthCol: String): Contingency = {
    val cells = assignments
      .groupBy(col(clusterCol).as("__g"), col(truthCol).as("__t"))
      .agg(count(lit(1)).as("__ni"))
    def margin(k: String): DataFrame = cells.groupBy(col(k))
      .agg(sum(col("__ni")).as(s"${k}n"), count(lit(1)).as(s"${k}k"),
        sum(col("__ni") * col("__ni")).as(s"${k}sq"))
    Contingency(cells, margin("__g"), margin("__t"))
  }

  /** 2·C(x,2) = x·(x−1), decimal-exact. */
  private def pairs2(c: Column): Column = c.cast(dec) * (c.cast(dec) - 1)

  /** One row of pair sums over `c`, each 2·ΣC(·,2) in decimal(38,0):
    * `s2_ij` over the cells, `s2_a` over the clusters, `s2_b` over the
    * truth classes; with the record count `__n` and the numbers of cells
    * `v`, clusters `ca` and truth classes `cb`. Three 1-row aggregates,
    * broadcast-cross-joined. */
  private def pairSums(c: Contingency): DataFrame =
    c.cells.agg(sum(pairs2(col("__ni"))).as("s2_ij"),
        sum(col("__ni")).as("__n"), count(lit(1)).as("v"))
      .crossJoin(broadcast(c.byG.agg(sum(pairs2(col("__gn"))).as("s2_a"),
        count(lit(1)).as("ca"))))
      .crossJoin(broadcast(c.byT.agg(sum(pairs2(col("__tn"))).as("s2_b"),
        count(lit(1)).as("cb"))))

  /** Cluster-LEVEL evaluation of a predicted partition against a truth
    * partition (Menestrina-Whang-Garcia-Molina, "Evaluating entity
    * resolution results", VLDB 2010): where pairwise F1 / B³ weight by
    * records or pairs, these metrics count whole clusters —
    *
    *  - exact-match cluster precision/recall/F1: a predicted cluster
    *    scores only if its record set EQUALS a truth cluster's
    *    (a contingency cell whose count is both marginals), the
    *    strictest cluster criterion;
    *  - Generalized Merge Distance with unit costs: the minimum number
    *    of merge+split operations transforming the predicted partition
    *    into the truth — splits = Σ over predicted clusters of
    *    (distinct truth classes inside − 1), merges = Σ over truth
    *    classes of (distinct predicted clusters intersecting − 1); the
    *    optimal plan always splits to the common refinement then merges.
    *
    * All counts are integers; precision/recall are exact divisions (NULL
    * when the side is empty), f1 = 2·p·r/(p+r) with 0.0 at n_exact = 0.
    * Only ids carrying BOTH labels participate. Shapes: one contingency
    * groupBy (map-side combined) + two marginal groupBys over the
    * cell-sized frame + cell-sized join-backs — the [[clusterDiff]]
    * plan with metric folds on top. Output: 1 row (n_records, n_pred,
    * n_truth, n_exact, cluster_precision, cluster_recall, cluster_f1,
    * gmd_splits, gmd_merges, gmd). */
  def clusterMetrics(assignment: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val c = contingency(assignment, clusterCol, truthCol)
    val exact = c.cells.join(c.byG, "__g").join(c.byT, "__t")
      .where(col("__ni") === col("__gn") && col("__ni") === col("__tn"))
      .agg(count(lit(1)).as("n_exact"))
    val aggP = c.byG.agg(count(lit(1)).as("n_pred"),
      sum(col("__gk") - 1).as("gmd_splits"), sum(col("__gn")).as("n_records"))
    val aggT = c.byT.agg(count(lit(1)).as("n_truth"),
      sum(col("__tk") - 1).as("gmd_merges"))
    aggP.crossJoin(broadcast(aggT)).crossJoin(broadcast(exact))
      .select(col("n_records"), col("n_pred"), col("n_truth"), col("n_exact"),
        when(col("n_pred") > 0, col("n_exact").cast("double") /
          col("n_pred").cast("double")).as("cluster_precision"),
        when(col("n_truth") > 0, col("n_exact").cast("double") /
          col("n_truth").cast("double")).as("cluster_recall"),
        col("gmd_splits"), col("gmd_merges"),
        (col("gmd_splits") + col("gmd_merges")).as("gmd"))
      .withColumn("cluster_f1", when(col("n_exact") > 0,
        lit(2.0) * col("cluster_precision") * col("cluster_recall") /
          (col("cluster_precision") + col("cluster_recall")))
        .otherwise(lit(0.0)))
      .select(col("n_records"), col("n_pred"), col("n_truth"), col("n_exact"),
        col("cluster_precision"), col("cluster_recall"), col("cluster_f1"),
        col("gmd_splits"), col("gmd_merges"), col("gmd"))
  }

  /** Cluster-size histogram of an entity partition — the ops dashboard a
    * dedup deployment watches between runs (a fattening tail is the
    * early sign of over-merging; a collapse toward singletons of
    * under-matching). One row per occurring cluster size:
    * (cluster_size, n_clusters, n_records = size·count, frac_records —
    * one exact division against the broadcast total). Two
    * map-side-combinable groupBys (ids → sizes → histogram); the
    * histogram frame is ≤ max-cluster-size rows. */
  def clusterSizeProfile(assignment: DataFrame,
      clusterCol: String = "cluster_id"): DataFrame = {
    val sizes = assignment.select(col(clusterCol).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("cluster_size"))
    val total = sizes.agg(sum(col("cluster_size")).as("__total"))
    sizes.groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_records"),
        ((col("cluster_size") * col("n_clusters")).cast("double") /
          col("__total").cast("double")).as("frac_records"))
  }

  /** B-cubed sufficient statistics: for records carrying a predicted
    * cluster id and a reference (truth) partition id, emit one row per
    * predicted cluster and one per truth class — (side, gid, n_g,
    * sum_ni2) where sum_ni2 = Σ over the opposite partition of the
    * squared intersection size. ALL-INTEGER aggregates (count + sum of
    * products), so the frame is exactly reproducible regardless of
    * partitioning — the hash-gradable face of B-cubed; [[bCubed]] folds
    * it into the scalar metrics. Shapes: the [[contingency]] marginals. */
  def bCubedStats(assignments: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val c = contingency(assignments, clusterCol, truthCol)
    def side(name: String, margin: DataFrame, g: String): DataFrame =
      margin.select(lit(name).as("side"), col(g).cast("string").as("gid"),
        col(s"${g}n").as("n_g"), col(s"${g}sq").as("sum_ni2"))
    side("cluster", c.byG, "__g").union(side("truth", c.byT, "__t"))
  }

  /** B-cubed precision / recall / F1 (Bagga & Baldwin 1998) of a predicted
    * clustering vs a reference partition — the standard CLUSTER-level ER
    * metric next to pairwise F1 (B³ rewards correctly-sized clusters,
    * penalizing both over-merging and over-splitting per record):
    * precision = (1/N) Σ_records |C(r) ∩ T(r)| / |C(r)|, which reduces to
    * (1/N) Σ_clusters sum_ni2 / n_g over [[bCubedStats]]; recall is the
    * mirror over truth classes. */
  def bCubed(assignments: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): (Double, Double, Double) = {
    // both folds read the stats
    val stats = Frames.shared(bCubedStats(assignments, clusterCol, truthCol))
    val n = assignments.count().toDouble
    def fold(side: String): Double = stats.where(col("side") === side)
      .agg(sum(col("sum_ni2").cast("double") / col("n_g").cast("double")))
      .head().getDouble(0) / n
    val p = fold("cluster")
    val r = fold("truth")
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    (p, r, f1)
  }

  /** MUC link-based metric (Vilain et al., MUC-6 1995) of a predicted
    * clustering vs a reference partition — the third classic ER/coref
    * metric next to [[bCubedStats]] (mention-weighted) and
    * [[adjustedRandStats]] (chance-corrected pair counting): MUC counts
    * the MINIMUM LINK EDITS to reconcile the two partitions. Recall =
    * Σ_t (n_t − p_t) / Σ_t (n_t − 1) over truth classes t, where p_t =
    * #predicted clusters class t is scattered across (links missing to
    * reunite it); precision mirrors with roles swapped. Singletons carry
    * zero weight — MUC's known blind spot, which is exactly why the three
    * metrics ship together.
    *
    * The two [[contingency]] marginals, each folded to one row and
    * broadcast-cross-joined; the numerators/denominators are exact 64-bit
    * integers, P/R one exact division each (null when the denominator is
    * 0 — all classes singleton = no evidence), f1 pinned to
    * 2·p·r/(p+r), 0.0 when p + r = 0, null if either side is null. */
  def mucStats(assignments: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val c = contingency(assignments, clusterCol, truthCol)
    val byT = c.byT.agg(sum(col("__tn") - col("__tk")).as("recall_num"),
      sum(col("__tn") - 1).as("recall_den"))
    val byG = c.byG.agg(sum(col("__gn") - col("__gk")).as("precision_num"),
      sum(col("__gn") - 1).as("precision_den"))
    byG.crossJoin(broadcast(byT))
      .withColumn("muc_precision", when(col("precision_den") > 0,
        col("precision_num").cast("double") / col("precision_den").cast("double")))
      .withColumn("muc_recall", when(col("recall_den") > 0,
        col("recall_num").cast("double") / col("recall_den").cast("double")))
      .withColumn("muc_f1",
        when(col("muc_precision").isNull || col("muc_recall").isNull,
          lit(null).cast("double"))
          .when(col("muc_precision") + col("muc_recall") > 0,
            lit(2.0) * col("muc_precision") * col("muc_recall") /
              (col("muc_precision") + col("muc_recall")))
          .otherwise(lit(0.0)))
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) of a predicted clustering
    * vs a reference partition — the chance-corrected pair-counting metric
    * next to [[bCubed]] (ARI = 0 for a random clustering, 1 for a perfect
    * one, negative for worse-than-chance). One row: (n, s_ij, s_a, s_b,
    * ari) where s_ij = Σ C(n_ij,2) over the contingency cells, s_a / s_b
    * the marginal pair sums, and
    *   ari = (2·N·s_ij − 2·s_a·s_b) / (N·(s_a+s_b) − 2·s_a·s_b),
    * N = C(n,2) — the formula cleared of fractions so everything up to
    * the final division is INTEGER arithmetic. Pair sums are folded in
    * decimal(38,0) (long products overflow at ~3e9 records — the
    * [[blockingQuality]] lesson); the cleared products stay exact to
    * n ≈ 10^9 and the one double division is the only rounding anywhere.
    * NULL when the denominator is 0 (both partitions trivial — all
    * singletons or one block: chance correction is undefined).
    *
    * Shapes: [[pairSums]] — no window, no collect beyond the 1-row frames
    * Spark folds itself. */
  def adjustedRandStats(assignments: DataFrame,
      clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    // s2_* carry 2·ΣC(·,2); N2 = 2·C(n,2) = n·(n−1). Substituting into
    // the cleared form and scaling numerator and denominator to a common
    // factor of 8: ari = 2·(N2·s2_ij − s2_a·s2_b) /
    // (N2·(s2_a+s2_b) − 2·s2_a·s2_b) — every term a decimal INTEGER, no
    // intermediate division anywhere.
    pairSums(contingency(assignments, clusterCol, truthCol))
      .withColumn("__num",
        lit(2).cast(dec) * (col("__n").cast(dec) * (col("__n").cast(dec) - 1)
          * col("s2_ij") - col("s2_a") * col("s2_b")))
      .withColumn("__den",
        col("__n").cast(dec) * (col("__n").cast(dec) - 1)
          * (col("s2_a") + col("s2_b")) - lit(2).cast(dec) * col("s2_a")
          * col("s2_b"))
      .select(col("__n").cast("long").as("n"),
        (col("s2_ij") / 2).cast("long").as("s_ij"),
        (col("s2_a") / 2).cast("long").as("s_a"),
        (col("s2_b") / 2).cast("long").as("s_b"),
        when(col("__den") =!= 0,
          col("__num").cast("double") / col("__den").cast("double"))
          .as("ari"))
  }

  /** Partition-agreement metrics that complete the pair-counting family
    * beside [[adjustedRandStats]] / [[bCubedStats]] / [[mucStats]]: the
    * raw pair confusion counts (tp/fp/fn/tn), the UNADJUSTED Rand index
    * (Rand 1971), the Fowlkes-Mallows index (Fowlkes & Mallows 1983,
    * FM = tp / sqrt((tp+fp)·(tp+fn)) = the geometric mean of pairwise
    * precision and recall), and the Talburt-Wang index (Talburt 2011,
    * TW = sqrt(|A|·|B|) / V with V = #non-empty contingency overlaps —
    * the ER-textbook metric that needs NO pair counts at all, only
    * cluster counts, so it stays meaningful on singleton-heavy linkage
    * output where MUC goes null).
    *
    * Same [[pairSums]] and exactness discipline as [[adjustedRandStats]]:
    * every count exact, and the only rounding is the final double
    * division / sqrt (sqrt is IEEE-correctly-rounded, so any engine
    * replaying the same integer inputs reproduces the doubles bit-exactly).
    * rand_index is null when n < 2 (no pairs to count); fowlkes_mallows
    * is null when either side has no intra-cluster pair (precision or
    * recall undefined); talburt_wang is null only on an empty input.
    *
    * Also emits the unit-cost Generalized Merge Distance (Menestrina,
    * Whang & Garcia-Molina, VLDB 2010) — the EDIT distance between the
    * two partitions: transforming clusters→truth takes exactly
    * `gmd_splits` = V − |A| splits (each cluster spanning k truth cells
    * needs k−1 splits; Σ(k−1) = V − |A|) followed by
    * `gmd_merges` = V − |B| merges (the V fragments then assemble into
    * the |B| truth clusters), so `gmd` = 2V − |A| − |B|, all integer —
    * 0 iff the partitions are identical. Unlike pair-counting metrics
    * GMD is linear in clusters, not pairs, so it never saturates on a
    * singleton-heavy corpus. */
  def partitionAgreementStats(assignments: DataFrame,
      clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val n2 = col("__n").cast(dec) * (col("__n").cast(dec) - 1) // 2·C(n,2)
    pairSums(contingency(assignments, clusterCol, truthCol))
      .select(
        col("__n").cast("long").as("n"), col("ca"), col("cb"), col("v"),
        (col("s2_ij") / 2).cast("long").as("tp"),
        ((col("s2_a") - col("s2_ij")) / 2).cast("long").as("fp"),
        ((col("s2_b") - col("s2_ij")) / 2).cast("long").as("fn"),
        ((n2 - col("s2_a") - col("s2_b") + col("s2_ij")) / 2).cast("long")
          .as("tn"),
        when(n2 > 0,
          (lit(2).cast(dec) * col("s2_ij") + n2 - col("s2_a") - col("s2_b"))
            .cast("double") / n2.cast("double")).as("rand_index"),
        when(col("s2_a") > 0 && col("s2_b") > 0,
          (col("s2_ij") / 2).cast("double") /
            sqrt((col("s2_a") / 2).cast("double") *
              (col("s2_b") / 2).cast("double"))).as("fowlkes_mallows"),
        when(col("v") > 0,
          sqrt(col("ca").cast("double") * col("cb").cast("double")) /
            col("v").cast("double")).as("talburt_wang"),
        (col("v") - col("ca")).as("gmd_splits"),
        (col("v") - col("cb")).as("gmd_merges"),
        (lit(2L) * col("v") - col("ca") - col("cb")).as("gmd"))
  }

  /** Count-of-counts sufficient statistics for the INFORMATION-THEORETIC
    * cluster-agreement family (variation of information, NMI, V-measure
    * — [[informationMetrics]] folds the scalars). Entropies depend on the
    * partitions only through the MULTISETS of cell/cluster/truth sizes,
    * and a multiset of sizes compresses to (size, how-many-groups) rows —
    * at web scale billions of clusters collapse to the handful of
    * distinct sizes they take, which is what makes the histogram the
    * right persistence/gate face. Output: one row per
    * (side ∈ cell|cluster|truth, group_size) with its group count —
    * ALL-INTEGER (the house gate discipline: ln() is libm-dependent
    * across engines, so logs never touch a hash-gated face; compare
    * [[graft.operators.TextAnalysis]]'s log-free idf).
    *
    * Shapes: one contingency groupBy, two marginal groupBys over the
    * cell-sized frame, three count-of-counts groupBys over THOSE (all
    * map-side combinable) — nothing pair-shaped anywhere. */
  def informationStats(assignments: DataFrame,
      clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val c = contingency(assignments, clusterCol, truthCol)
    def hist(sized: DataFrame, n: String, side: String): DataFrame =
      sized.groupBy(col(n).as("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .select(lit(side).as("side"), col("group_size"), col("n_groups"))
    hist(c.cells, "__ni", "cell").unionAll(hist(c.byG, "__gn", "cluster"))
      .unionAll(hist(c.byT, "__tn", "truth"))
  }

  /** Scalar information-theoretic agreement metrics folded from
    * [[informationStats]] — the third metric family beside pair counting
    * ([[adjustedRandStats]] / [[partitionAgreementStats]]) and link
    * editing ([[mucStats]] / GMD): entropy-based scores are the ones
    * that stay discriminative when cluster sizes are wildly skewed
    * (pair counts are dominated by the largest cluster's C(n,2); bits
    * are not). One row:
    *  - `h_cluster`, `h_truth`, `h_joint` — partition entropies in nats
    *    (H = ln n − Σ n_g·ln n_g / n, folded over the size histogram);
    *  - `mi` = H(A) + H(B) − H(A,B), clamped at ≥ 0 (the analytic value
    *    is non-negative; floating summation may land ulps below);
    *  - `vi` = 2·H(A,B) − H(A) − H(B) (Meilă 2003), clamped at ≥ 0 —
    *    the METRIC on partitions: 0 iff identical, triangle inequality
    *    holds, so drift between runs is comparable across corpora;
    *  - `nmi` = MI / ((H(A)+H(B))/2) — arithmetic-mean normalization;
    *  - `homogeneity` = 1 − H(B|A)/H(B), `completeness` = 1 − H(A|B)/H(A),
    *    `v_measure` = their harmonic mean (Rosenberg & Hirschberg 2007).
    *  Degenerate normalizers yield NULL, never a fake score (the
    *  [[GraphMetrics.graphMetrics]] density/centralisation discipline;
    *  sklearn's 0-or-1 conventions at the same spots are arbitrary):
    *  `nmi` NULL when H(A)+H(B) = 0, `homogeneity` NULL when H(B) = 0,
    *  `completeness` NULL when H(A) = 0, `v_measure` NULL when either
    *  parent is NULL or hom+comp = 0.
    *
    * The fold runs as ONE aggregate over the histogram (model-sized —
    * the scalars are driver-safe but never leave the plan), with Σ
    * counts decimal-exact and ln() applied only at the final scalar
    * step. NOT hash-gate-faced (ln is libm-dependent across engines);
    * spec-pinned in sbt instead, where analytic fixtures are exact. */
  def informationMetrics(assignments: DataFrame,
      clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val st = informationStats(assignments, clusterCol, truthCol)
    // Σ n_groups·size (= n, identical per side) and Σ n_groups·size·ln(size)
    // per side; ln(1) = 0 exactly, so singleton mass drops out analytically.
    val agg = st.groupBy(col("side"))
      .agg(sum(col("n_groups") * col("group_size")).as("__tot"),
        sum(col("n_groups").cast("double") *
          col("group_size").cast("double") *
          log(col("group_size").cast("double"))).as("__slog"))
    def side(sideName: String, h: String): DataFrame =
      agg.where(col("side") === sideName)
        .select(col("__tot").as(s"__n_$h"), col("__slog").as(s"__s_$h"))
    val j = side("cell", "ij").crossJoin(broadcast(side("cluster", "a")))
      .crossJoin(broadcast(side("truth", "b")))
    val n = col("__n_ij").cast("double")
    def entropy(slog: Column): Column = log(n) - slog / n
    val withH = j
      .withColumn("h_cluster", entropy(col("__s_a")))
      .withColumn("h_truth", entropy(col("__s_b")))
      .withColumn("h_joint", entropy(col("__s_ij")))
      .withColumn("mi", greatest(lit(0.0),
        col("h_cluster") + col("h_truth") - col("h_joint")))
      .withColumn("vi", greatest(lit(0.0),
        lit(2.0) * col("h_joint") - col("h_cluster") - col("h_truth")))
    withH.select(
      col("__n_ij").cast("long").as("n"),
      col("h_cluster"), col("h_truth"), col("h_joint"),
      col("mi"), col("vi"),
      when(col("h_cluster") + col("h_truth") > 0,
        col("mi") / ((col("h_cluster") + col("h_truth")) / 2.0)).as("nmi"),
      when(col("h_truth") > 0, // 1 − H(B|A)/H(B), H(B|A) = H(AB) − H(A)
        lit(1.0) - (col("h_joint") - col("h_cluster")) / col("h_truth"))
        .as("homogeneity"),
      when(col("h_cluster") > 0,
        lit(1.0) - (col("h_joint") - col("h_truth")) / col("h_cluster"))
        .as("completeness"))
      .withColumn("v_measure",
        when(col("homogeneity").isNotNull && col("completeness").isNotNull &&
          col("homogeneity") + col("completeness") > 0,
          lit(2.0) * col("homogeneity") * col("completeness") /
            (col("homogeneity") + col("completeness"))))
  }


  /** Assign the global 1-based emission rank that makes a pair frame
    * progressive: pairs are ordered by (`orderCol` ASC, `tieCol` ASC) —
    * e.g. sorted-neighborhood window distance then left rank — where
    * (`orderCol`, `tieCol`) must be unique per row (it pins the rank,
    * making the curve deterministic and partitioning-independent); a
    * duplicated key raises. The rank is a [[Frames.runningSums]] of 1
    * over the pair frame itself — no corpus-sized window, no join-back.
    * Output: input columns + `rank`. */
  def progressiveRank(pairs: DataFrame, orderCol: Column,
      tieCol: Column, partitions: Int = 0): DataFrame = {
    Frames.runningSums(pairs.withColumn("__ord", orderCol.cast("double"))
        .withColumn("__tie", tieCol.cast("long")),
      Seq("__ord" -> DriverFinish.Asc, "__tie" -> DriverFinish.Asc),
      Seq("rank" -> lit(1L)), partitions)._1.drop("__ord", "__tie")
  }

  /** Blocking quality metrics, the standard pair before committing a
    * blocking scheme at scale: REDUCTION RATIO (how much of the n(n−1)/2
    * all-pairs space blocking pruned) and PAIRS COMPLETENESS (what fraction
    * of known true pairs survive blocking — the recall ceiling every
    * downstream scorer inherits). One output row; every input reduces to a
    * count aggregate or a semi-join + count, then three 1-row broadcast
    * cross joins — nothing here scales with the corpus beyond the
    * already-materialized inputs. `truePairs` empty → pairs_completeness
    * null (no evidence, not 100%). */
  def blockingQuality(records: DataFrame, candidates: DataFrame,
      truePairs: DataFrame, aCol: String = "url_a",
      bCol: String = "url_b"): DataFrame = {
    val n = records.agg(count(lit(1)).as("n_records"))
    val cand = candidates.agg(count(lit(1)).as("n_candidates"))
    val tp = truePairs.agg(count(lit(1)).as("n_true"))
    val covered = truePairs.join(candidates, Seq(aCol, bCol), "left_semi")
      .agg(count(lit(1)).as("n_true_covered"))
    n.crossJoin(cand).crossJoin(tp).crossJoin(covered)
      // n/2.0 first (exact in double — n/2 has <= 52 significant bits for
      // any realistic corpus), THEN times (n-1): a long n*(n-1) overflows
      // negative past n ~ 3.04e9, well inside the 10^12-record design
      // range. The double product rounds above 2^53 total pairs — a
      // documented, sign-correct rounding, vs. garbage from overflow.
      // Exact (bit-identical to the old integer path) up to n ~ 9.4e7.
      .withColumn("total_pairs",
        (col("n_records").cast("double") / lit(2.0) *
          (col("n_records") - 1).cast("double")).cast("long"))
      .withColumn("reduction_ratio",
        lit(1.0) - col("n_candidates").cast("double") / col("total_pairs").cast("double"))
      .withColumn("pairs_completeness",
        when(col("n_true") > 0,
          col("n_true_covered").cast("double") / col("n_true").cast("double")))
  }

  /** Pairs-completeness / reduction tradeoff CURVE over candidate bucket
    * caps — the capacity-planning sweep (Christen's PC/RR analysis) run
    * BEFORE committing to a cap: for each cap c,
    *
    *  - `pair_slots` — Σ n(n−1)/2 over blocks with n ≤ c, in
    *    decimal(38,0) (the [[Linkage.blockingProfile]] slot convention: per-block
    *    pair slots BEFORE cross-key dedup — an upper bound on distinct
    *    candidates, exact when keys don't overlap);
    *  - `n_true_covered` / `pairs_completeness` — a labeled true pair
    *    survives cap c iff its SMALLEST shared block fits (≤ c): exactly
    *    the pairs [[Linkage.candidatePairs]]' cold tier would generate, counted
    *    without materializing any pair set.
    *
    * One sizing groupBy over the key frame, two equi-joins landing the
    * block size on each truth pair's shared keys, one min-fold per truth
    * pair, then a |caps|-way exploded map-side-combined count (the
    * [[thresholdSweep]] shape). Truth pairs sharing NO key count as
    * never covered. Caps with no qualifying block still emit a row.
    * Output: (cap, pair_slots, n_true, n_true_covered,
    * pairs_completeness), one row per cap ascending. */
  def blockingQualitySweep(keys: DataFrame, truePairs: DataFrame,
      caps: Seq[Long], keyCol: String = "key", idCol: String = "url",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    require(caps.forall(_ >= 1),
      s"blockingQualitySweep: caps must be >= 1, got $caps")
    val capArr = sweepPoints("blockingQualitySweep", "cap", caps)
    val sizes = keys.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
    val slots = sizes
      .select(col("__n"), explode(capArr).as("cap"))
      .groupBy(col("cap"))
      .agg(sum(when(col("__n") <= col("cap"),
        (col("__n").cast(dec) * (col("__n") - 1).cast(dec)) / 2)
        .otherwise(lit(0))).cast(dec).as("pair_slots"))
    val ka = keys.select(col(keyCol).as("__k"), col(idCol).as(aCol))
    val kb = keys.select(col(keyCol).as("__k"), col(idCol).as(bCol))
    val tp = truePairs.select(col(aCol), col(bCol)).distinct()
    val minShared = tp
      .join(ka, aCol).join(kb, Seq("__k", bCol))
      .join(sizes.withColumnRenamed(keyCol, "__k"), "__k")
      .groupBy(col(aCol), col(bCol)).agg(min(col("__n")).as("__minn"))
    val cov = tp.join(minShared, Seq(aCol, bCol), "left")
      .select(explode(capArr).as("cap"),
        when(col("__minn").isNotNull && col("__minn") <= col("cap"), 1L)
          .otherwise(0L).as("__c"))
      .groupBy(col("cap")).agg(sum(col("__c")).as("n_true_covered"))
    val nTrue = tp.agg(count(lit(1)).as("n_true"))
    keys.sparkSession.range(1).select(explode(capArr).as("cap"))
      .join(slots, Seq("cap"), "left")
      .join(cov, Seq("cap"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("cap"),
        coalesce(col("pair_slots"), lit(0).cast(dec)).as("pair_slots"),
        col("n_true"),
        coalesce(col("n_true_covered"), lit(0L)).as("n_true_covered"),
        when(col("n_true") > 0, coalesce(col("n_true_covered"), lit(0L))
          .cast("double") / col("n_true").cast("double"))
          .as("pairs_completeness"))
  }

  /** Dual-system (capture-recapture) estimate of the TRUE match-pair
    * count from two independently-designed blocking passes — the
    * label-free complement to [[blockingQuality]] (which needs
    * `truePairs`): run two blocking schemes built on unrelated evidence
    * (say phonetic name keys vs address q-grams), score both candidate
    * sets with the same matcher, and treat each scheme's accepted pairs
    * as one "capture" of the unknown duplicate population. Under the
    * standard independence assumption (a pair's chance of being caught by
    * scheme A doesn't depend on being caught by B — the Lincoln-Petersen
    * model, the same estimator census coverage evaluation uses), the
    * overlap pins the population size:
    *
    *  - `lincoln_petersen` = n_a·n_b / n_both (NULL when the captures are
    *    disjoint — no evidence, not infinity);
    *  - `chapman` = (n_a+1)(n_b+1)/(n_both+1) − 1 — the bias-corrected
    *    small-overlap variant, always defined;
    *  - `est_missed` = chapman − n_union — the estimated count of true
    *    pairs NEITHER scheme surfaced (the number that decides whether a
    *    third blocking family is worth its candidate volume);
    *  - `coverage_a` = n_both/n_b, `coverage_b` = n_both/n_a — each
    *    scheme's estimated recall, measured by the other's capture.
    *
    * Correlated schemes (two spellings of the same key) violate
    * independence and bias the estimate LOW on missed pairs — pick
    * evidence-disjoint families, and read est_missed as a floor.
    *
    * Shapes: each side is normalized once (least/greatest + distinct,
    * self-loops out), then ONE pair-keyed groupBy folds the side flags
    * and ONE global aggregate reduces to the 1-row output — counts in
    * long, every estimate a pinned-order double expression over them, so
    * the oracle reproduces each value bit-for-bit. Nothing scales past
    * the candidate sets themselves. */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame,
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    def norm(df: DataFrame): DataFrame = df
      .select(least(col(aCol), col(bCol)).as("__cru"),
        greatest(col(aCol), col(bCol)).as("__crv"))
      .where(col("__cru") =!= col("__crv"))
      .distinct()
    val tagged = norm(pairsA)
      .select(col("__cru"), col("__crv"), lit(1L).as("__ca"), lit(0L).as("__cb"))
      .unionAll(norm(pairsB)
        .select(col("__cru"), col("__crv"), lit(0L).as("__ca"), lit(1L).as("__cb")))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val m = col("n_both").cast("double")
    tagged.groupBy(col("__cru"), col("__crv"))
      .agg(max(col("__ca")).as("__ca"), max(col("__cb")).as("__cb"))
      .agg(coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
        coalesce(sum(col("__cb")), lit(0L)).as("n_b"),
        coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_union"),
        when(col("n_both") > 0, na * nb / m).as("lincoln_petersen"),
        ((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0).as("chapman"),
        ((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0 -
          col("n_union").cast("double")).as("est_missed"),
        when(col("n_b") > 0, m / nb).as("coverage_a"),
        when(col("n_a") > 0, m / na).as("coverage_b"))
  }

  /** Decision-threshold sweep: for each θ in `thetas`, the confusion
    * counts and P/R/F1 of "match ⇔ score ≥ θ" against `labeled` true
    * pairs — the operating-curve view a θ choice should be read off
    * (complements the model-driven μ/λ calibration in
    * [[FellegiSunter.calibrate]] with a label-driven one).
    *
    * One [[sweep]] over the scored pairs — ~|θ| comparisons per row over
    * a single count. fn = n_true − tp
    * against ALL labeled pairs, so truth lost by blocking shows up as
    * irreducible fn (the recall ceiling [[blockingQuality]] measures).
    *
    * All counts are 64-bit integers; precision/recall are one exact
    * long→double division each (null when the denominator is 0 — no
    * evidence, not perfection); f1 = 2·p·r/(p+r) with that exact
    * evaluation order, 0.0 when tp = 0. Output: (theta, n_pred, tp, fp,
    * fn, precision, recall, f1), one row per θ, present even when
    * nothing clears it. */
  def thresholdSweep(scored: DataFrame, labeled: DataFrame,
      thetas: Seq[Double], aCol: String = "id_l", bCol: String = "id_r",
      scoreCol: String = "score"): DataFrame =
    sweep("thresholdSweep", "theta", thetas, scored, labeled, col(scoreCol),
        aCol, bCol)(_ >= _)
      .withColumnRenamed("n", "n_pred")
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("__ntrue") - col("tp"))
      .withColumn("precision", when(col("n_pred") > 0,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall", when(col("__ntrue") > 0,
        col("tp").cast("double") / col("__ntrue").cast("double")))
      .withColumn("f1", when(col("tp") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))).otherwise(lit(0.0)))
      .select(col("theta"), col("n_pred"), col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"), col("f1"))

  /** Unlinkables analysis — Splink's `unlinkables_chart` recast for a
    * candidate-pair world: for each threshold θ, how many RECORDS have no
    * scored pair at or above θ touching them at all. A record is
    * unlinkable at θ when its best incident score is below θ — or when
    * blocking never produced a pair for it (best = no evidence), which
    * counts at EVERY θ. This is the per-record complement of
    * [[thresholdSweep]]'s per-pair view: the sweep says how the pair
    * decisions trade off, this says what fraction of the corpus a θ
    * choice strands with zero matches — the curve read off before
    * promising "every registry row links to the crawl".
    *
    * Shapes: one endpoint-explode + map-side-combinable max per record
    * (pair-sized in, record-sized out), one left join onto the record
    * frame, then the [[thresholdSweep]] explode discipline — each record
    * fans out to all |θ| literals and partial aggregation folds to |θ|
    * groups map-side. No window, nothing quadratic; every θ row is
    * present by construction (each record contributes to each θ group).
    *
    * All counts are longs; `frac_unlinkable` is one exact long→double
    * division. `records` must carry distinct ids (it is the corpus
    * frame, not the pair frame). Output: (theta, n_records,
    * n_unlinkable, frac_unlinkable), one row per θ. */
  def unlinkables(records: DataFrame, scored: DataFrame,
      thetas: Seq[Double], idCol: String = "url",
      aCol: String = "url_a", bCol: String = "url_b",
      scoreCol: String = "score"): DataFrame = {
    val thetaArr = sweepPoints("unlinkables", "theta", thetas)
    val best = scored.select(col(aCol).as("__uid"), col(scoreCol).as("__us"))
      .unionAll(scored.select(col(bCol).as("__uid"),
        col(scoreCol).as("__us")))
      .groupBy(col("__uid")).agg(max(col("__us")).as("__ubest"))
    records.select(col(idCol).as("__uid"))
      .join(best, Seq("__uid"), "left")
      .select(col("__ubest"), explode(thetaArr).as("theta"))
      .groupBy(col("theta"))
      .agg(count(lit(1)).as("n_records"),
        count(when(col("__ubest").isNull || col("__ubest") < col("theta"),
          lit(1))).as("n_unlinkable"))
      .withColumn("frac_unlinkable",
        col("n_unlinkable").cast("double") / col("n_records").cast("double"))
      .select(col("theta"), col("n_records"), col("n_unlinkable"),
        col("frac_unlinkable"))
  }

  /** Weakest intra-cluster match edge per entity cluster — the
    * chain-break review queue: transitive clustering merges a~b~c even
    * when a~c never scored, so if a cluster is over-merged the culprit
    * is usually its lowest-scoring edge; this ranks WHERE to look
    * (complementing [[Linkage.clusterRepair]], which applies the reviewer's
    * verdicts once they've looked). One row per cluster with ≥ 1
    * intra-cluster edge: (clusterCol, n_edges, weak_ia, weak_ib,
    * weak_score) — the argmin edge, ties pinned to the smallest
    * (ia, ib), so the queue is deterministic and
    * partitioning-independent.
    *
    * Scale shape: two id-keyed equi-joins hang the cluster id on each
    * edge endpoint, then ONE min-combinable struct aggregate — no
    * window, no pair rematerialization; cost ∝ scored edges. */
  def weakestLinks(scored: DataFrame, assignment: DataFrame,
      idCol: String, clusterCol: String = "component",
      iaCol: String = "ka", ibCol: String = "kb",
      scoreCol: String = "score"): DataFrame = {
    val a1 = assignment.select(col(idCol).as("__wia"),
      col(clusterCol).as("__wca"))
    val a2 = assignment.select(col(idCol).as("__wib"),
      col(clusterCol).as("__wcb"))
    scored.select(col(iaCol).as("__wia"), col(ibCol).as("__wib"),
        col(scoreCol).as("__ws"))
      .join(a1, "__wia").join(a2, "__wib")
      .where(col("__wca") === col("__wcb"))
      .groupBy(col("__wca"))
      .agg(count(lit(1)).as("n_edges"),
        min(struct(col("__ws").as("s"), col("__wia").as("a"),
          col("__wib").as("b"))).as("__w"))
      .select(col("__wca").as(clusterCol), col("n_edges"),
        col("__w").getField("a").as("weak_ia"),
        col("__w").getField("b").as("weak_ib"),
        col("__w").getField("s").as("weak_score"))
  }

  /** Strongest CROSS-cluster scored pairs — the under-merge review queue,
    * the dual of [[weakestLinks]]: weakestLinks asks "which edge barely
    * holds this cluster together" (over-merge suspects); this asks
    * "which scored pair ALMOST merged two clusters" (under-merge
    * suspects — typically candidates that scored just below θ). Per
    * unordered cluster pair connected by at least one cross edge, the
    * top-k edges by (score DESC, ia, ib) plus the total cross-edge count
    * `n_cross` — a cluster pair held apart by many near misses is the
    * first merge a reviewer confirms.
    *
    * Only records present in `assignment` participate (inner joins);
    * callers who want never-matched singletons in the queue pass a
    * completed assignment (id → singleton id) — the
    * [[graft.operators.EntityIds]] convention.
    *
    * Output: (cluster_a, cluster_b, ia, ib, score, rank, n_cross) with
    * cluster_a < cluster_b and rank 1-based per cluster pair.
    *
    * Scale shape: two id-keyed equi-joins hang cluster ids on the edge
    * endpoints; the count is one map-side-combinable groupBy; the top-k
    * window's ≤ k filter sits directly above row_number, so
    * InferWindowGroupLimit bounds every map task to k rows per cluster
    * pair before the shuffle. Cost ∝ scored edges; nothing quadratic in
    * clusters or records. */
  def nearMissPairs(scored: DataFrame, assignment: DataFrame,
      idCol: String, clusterCol: String = "component",
      iaCol: String = "ka", ibCol: String = "kb",
      scoreCol: String = "score", k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a1 = assignment.select(col(idCol).as("__nia"),
      col(clusterCol).as("__nca"))
    val a2 = assignment.select(col(idCol).as("__nib"),
      col(clusterCol).as("__ncb"))
    val cross = scored.select(col(iaCol).as("__nia"), col(ibCol).as("__nib"),
        col(scoreCol).as("__ns"))
      .join(a1, "__nia").join(a2, "__nib")
      .where(col("__nca") =!= col("__ncb"))
      .select(least(col("__nca"), col("__ncb")).as("cluster_a"),
        greatest(col("__nca"), col("__ncb")).as("cluster_b"),
        col("__nia").as("ia"), col("__nib").as("ib"), col("__ns").as("score"))
    val counts = cross.groupBy(col("cluster_a"), col("cluster_b"))
      .agg(count(lit(1)).as("n_cross"))
    cross
      .withColumn("rank", row_number().over(
        W.partitionBy(col("cluster_a"), col("cluster_b"))
          .orderBy(col("score").desc, col("ia"), col("ib"))))
      .where(col("rank") <= k)
      .join(counts, Seq("cluster_a", "cluster_b"))
      .select(col("cluster_a"), col("cluster_b"), col("ia"), col("ib"),
        col("score"), col("rank"), col("n_cross"))
  }

  /** Cluster-generation diff — the audit an incremental-ER deployment
    * runs after every re-clustering: each (old cluster, new cluster)
    * overlap cell with both marginal sizes and a classification:
    * `stable` (the cell IS both clusters — the entity rode through
    * unchanged), `merge` (the old cluster was absorbed whole into a
    * larger new one), `split` (the new cluster was carved whole out of a
    * larger old one), `reshuffle` (records crossed cluster boundaries
    * both ways — the cells to eyeball before shipping). Only ids present
    * in BOTH assignments participate (adds/removes are a plain anti-join
    * the caller owns; mixing them in here would make every marginal
    * ambiguous).
    *
    * Shapes: one equi-join on the record id, one contingency groupBy
    * (map-side combine), two marginal groupBys over the CELL-sized
    * frame, two cell-sized join-backs. Nothing corpus-sized is
    * windowed. */
  def clusterDiff(oldAsg: DataFrame, newAsg: DataFrame, idCol: String,
      oldCol: String = "cluster_id", newCol: String = "cluster_id"): DataFrame = {
    val o = oldAsg.select(col(idCol).as("__id"), col(oldCol).as("old_id"))
    val n = newAsg.select(col(idCol).as("__id"), col(newCol).as("new_id"))
    val c = contingency(o.join(n, "__id"), "old_id", "new_id")
    c.cells.join(c.byG, "__g").join(c.byT, "__t")
      .select(col("__g").as("old_id"), col("__t").as("new_id"),
        col("__ni").as("n"), col("__gn").as("n_old"), col("__tn").as("n_new"))
      .withColumn("kind",
        when(col("n") === col("n_old") && col("n") === col("n_new"),
          lit("stable"))
          .when(col("n") === col("n_old"), lit("merge"))
          .when(col("n") === col("n_new"), lit("split"))
          .otherwise(lit("reshuffle")))
  }
}
