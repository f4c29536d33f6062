package graft.operators

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Classifier-style evaluation of pairwise match scores — the ROC view of
  * a linkage scorer (complementing the θ-driven confusion counts of
  * [[Linkage.thresholdSweep]] and the model-driven μ/λ calibration of
  * [[FellegiSunter.calibrate]]) plus the pay-as-you-go recall curve of a
  * PROGRESSIVE pair generator, and the cluster-agreement metrics of a
  * predicted partition against a reference one (B-cubed, MUC, ARI, pair
  * counting, information).
  *
  * Everything here is label-driven: `labeled` carries the true pairs
  * (id_a, id_b) and the scored/ordered pair frame is the classifier
  * output under evaluation. All counts are integer-exact (decimal(38,0)
  * where products of corpus-sized counts can pass 2^63 — the
  * [[Linkage.blockingQuality]] overflow lesson applied); every ratio is
  * one exact integer→double division, so the DuckDB oracle reproduces
  * each value bit-for-bit.
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
    * [[Linkage.blockingQuality]] / [[Linkage.thresholdSweep]]'s `fn`
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
    val flagged = scored.select(col(aCol), col(bCol), col(scoreCol))
      .join(labeled.select(col(aCol), col(bCol), lit(1L).as("__t"))
        .distinct(), Seq(aCol, bCol), "left")
      .select(col(scoreCol).as("score"),
        coalesce(col("__t"), lit(0L)).as("__t"))
    val perScore = flagged.groupBy(col("score"))
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
    * One pass, [[Linkage.thresholdSweep]]-shaped: each consumed pair fans
    * out to the budgets it falls under (|budgets| small), partial
    * aggregation folds map-side, recall = tp / |labeled| (NULL when no
    * labels). Budgets with no consumed pairs still emit a row. */
  def progressiveCurve(pairs: DataFrame, labeled: DataFrame,
      budgets: Seq[Long], rankCol: String = "rank",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    require(budgets.nonEmpty, "progressiveCurve needs at least one budget")
    require(budgets.forall(_ >= 1) && budgets == budgets.sorted &&
      budgets.distinct == budgets,
      s"budgets must be >= 1, strictly increasing, got $budgets")
    val budgetArr = array(budgets.map(lit(_)): _*)
    val flagged = pairs.select(col(aCol), col(bCol), col(rankCol).as("__r"))
      .join(labeled.select(col(aCol), col(bCol), lit(1L).as("__t"))
        .distinct(), Seq(aCol, bCol), "left")
      .select(col("__r"), coalesce(col("__t"), lit(0L)).as("__t"))
    val per = flagged
      .select(col("__r"), col("__t"), explode(budgetArr).as("budget"))
      .where(col("__r") <= col("budget"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_consumed"), sum(col("__t")).as("tp"))
    val allBudgets = pairs.sparkSession.range(1)
      .select(explode(budgetArr).as("budget"))
    val nTrue = labeled.select(col(aCol), col(bCol)).distinct()
      .agg(count(lit(1)).as("__ntrue"))
    allBudgets.join(per, Seq("budget"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("budget"),
        coalesce(col("n_consumed"), lit(0L)).as("n_consumed"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        when(col("__ntrue") > 0,
          coalesce(col("tp"), lit(0L)).cast("double") /
            col("__ntrue").cast("double")).as("recall"))
  }

  /** The (cluster, truth) contingency table every cluster-level
    * metric below starts from: one row per non-empty cell, `(__g, __t,
    * __ni)` with `__ni` its record count (one map-side-combined groupBy). */
  private def contingency(assignments: DataFrame, clusterCol: String,
      truthCol: String): DataFrame =
    assignments.groupBy(col(clusterCol).as("__g"), col(truthCol).as("__t"))
      .agg(count(lit(1)).as("__ni"))

  /** 2·C(x,2) = x·(x−1), decimal-exact. */
  private def pairs2(c: Column): Column = c.cast(dec) * (c.cast(dec) - 1)

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
    * cell-sized frame + cell-sized join-backs — the [[Linkage.clusterDiff]]
    * plan with metric folds on top. Output: 1 row (n_records, n_pred,
    * n_truth, n_exact, cluster_precision, cluster_recall, cluster_f1,
    * gmd_splits, gmd_merges, gmd). */
  def clusterMetrics(assignment: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val ni = contingency(assignment, clusterCol, truthCol)
    val pred = ni.groupBy(col("__g"))
      .agg(sum(col("__ni")).as("__np"), count(lit(1)).as("__kp"))
    val tru = ni.groupBy(col("__t"))
      .agg(sum(col("__ni")).as("__nt"), count(lit(1)).as("__kt"))
    val exact = ni.join(pred, "__g").join(tru, "__t")
      .where(col("__ni") === col("__np") && col("__ni") === col("__nt"))
      .agg(count(lit(1)).as("n_exact"))
    val aggP = pred.agg(count(lit(1)).as("n_pred"),
      sum(col("__kp") - 1).as("gmd_splits"), sum(col("__np")).as("n_records"))
    val aggT = tru.agg(count(lit(1)).as("n_truth"),
      sum(col("__kt") - 1).as("gmd_merges"))
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
    * it into the scalar metrics. Shapes: two partial-combined groupBys
    * over the (cluster, truth) contingency counts. */
  def bCubedStats(assignments: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val ni = contingency(assignments, clusterCol, truthCol)
    def side(name: String, g: String): DataFrame = ni.groupBy(col(g))
      .agg(sum(col("__ni")).as("n_g"),
        sum(col("__ni") * col("__ni")).as("sum_ni2"))
      .select(lit(name).as("side"), col(g).cast("string").as("gid"),
        col("n_g"), col("sum_ni2"))
    side("cluster", "__g").union(side("truth", "__t"))
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
    * One pass to the contingency counts (map-side combining groupBy),
    * then two class-count aggregates folded to one row each and a 1-row
    * broadcast cross join; the numerators/denominators are exact 64-bit
    * integers, P/R one exact division each (null when the denominator is
    * 0 — all classes singleton = no evidence), f1 pinned to
    * 2·p·r/(p+r), 0.0 when p + r = 0, null if either side is null. */
  def mucStats(assignments: DataFrame, clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val ni = contingency(assignments, clusterCol, truthCol)
    val byT = ni.groupBy(col("__t"))
      .agg(sum(col("__ni")).as("n"), count(lit(1)).as("p"))
      .agg(sum(col("n") - col("p")).as("recall_num"),
        sum(col("n") - 1).as("recall_den"))
    val byG = ni.groupBy(col("__g"))
      .agg(sum(col("__ni")).as("n"), count(lit(1)).as("q"))
      .agg(sum(col("n") - col("q")).as("precision_num"),
        sum(col("n") - 1).as("precision_den"))
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
    * [[Linkage.blockingQuality]] lesson); the cleared products stay exact to
    * n ≈ 10^9 and the one double division is the only rounding anywhere.
    * NULL when the denominator is 0 (both partitions trivial — all
    * singletons or one block: chance correction is undefined).
    *
    * Shapes: one groupBy over the (cluster, truth) contingency counts,
    * two marginal groupBys over THAT (cell-count-sized) frame, three
    * 1-row aggregates cross-joined — no window, no collect beyond the
    * 1-row frames Spark folds itself. */
  def adjustedRandStats(assignments: DataFrame,
      clusterCol: String = "cluster_id",
      truthCol: String = "truth_id"): DataFrame = {
    val ni = contingency(assignments, clusterCol, truthCol)
    val sij = ni.agg(sum(pairs2(col("__ni"))).as("s2_ij"),
      sum(col("__ni")).as("__n"))
    val sa = ni.groupBy(col("__g")).agg(sum(col("__ni")).as("__na"))
      .agg(sum(pairs2(col("__na"))).as("s2_a"))
    val sb = ni.groupBy(col("__t")).agg(sum(col("__ni")).as("__nb"))
      .agg(sum(pairs2(col("__nb"))).as("s2_b"))
    // s2_* carry 2·ΣC(·,2); N2 = 2·C(n,2) = n·(n−1). Substituting into
    // the cleared form and scaling numerator and denominator to a common
    // factor of 8: ari = 2·(N2·s2_ij − s2_a·s2_b) /
    // (N2·(s2_a+s2_b) − 2·s2_a·s2_b) — every term a decimal INTEGER, no
    // intermediate division anywhere.
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
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
    * Same shapes and exactness discipline as [[adjustedRandStats]]: one
    * contingency groupBy, two marginal groupBys over the cell-sized
    * frame, three 1-row aggregates broadcast-cross-joined; pair sums
    * folded in decimal(38,0) (long products overflow at ~3e9 records),
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
    val ni = contingency(assignments, clusterCol, truthCol)
    val cells = ni.agg(sum(pairs2(col("__ni"))).as("s2_ij"),
      sum(col("__ni")).as("__n"), count(lit(1)).as("v"))
    val sa = ni.groupBy(col("__g")).agg(sum(col("__ni")).as("__na"))
      .agg(sum(pairs2(col("__na"))).as("s2_a"), count(lit(1)).as("ca"))
    val sb = ni.groupBy(col("__t")).agg(sum(col("__ni")).as("__nb"))
      .agg(sum(pairs2(col("__nb"))).as("s2_b"), count(lit(1)).as("cb"))
    val n2 = col("__n").cast(dec) * (col("__n").cast(dec) - 1) // 2·C(n,2)
    cells.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
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
    val ni = contingency(assignments, clusterCol, truthCol)
    def hist(sized: DataFrame, c: String, side: String): DataFrame =
      sized.groupBy(col(c).as("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .select(lit(side).as("side"), col("group_size"), col("n_groups"))
    hist(ni, "__ni", "cell")
      .unionAll(hist(ni.groupBy(col("__g"))
        .agg(sum(col("__ni")).as("__na")), "__na", "cluster"))
      .unionAll(hist(ni.groupBy(col("__t"))
        .agg(sum(col("__ni")).as("__nb")), "__nb", "truth"))
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
    *  [[graphMetrics]] density/centralisation discipline;
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

  /** Canonical intra-cluster edge set shared by [[nodeDegrees]] and
    * [[graphMetrics]]: edges are normalized to (u < v), self-loops and
    * duplicates (either direction) removed, and ONLY edges whose two
    * endpoints sit in the same cluster survive — an edge that crosses
    * clusters (possible when `assignment` was produced by a different
    * run or a manual override split a component) contributes to neither
    * side's metrics rather than silently corrupting one. Columns:
    * (__gu, __gv, __gc). */
  private def intraClusterEdges(assignment: DataFrame, edges: DataFrame,
      idCol: String, clusterCol: String,
      aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("__gu"),
        greatest(col(aCol), col(bCol)).as("__gv"))
      .where(col("__gu") =!= col("__gv"))
      .distinct()
    val au = assignment.select(col(idCol).as("__gu"),
      col(clusterCol).as("__gcu"))
    val av = assignment.select(col(idCol).as("__gv"),
      col(clusterCol).as("__gcv"))
    e.join(au, "__gu").join(av, "__gv")
      .where(col("__gcu") === col("__gcv"))
      .select(col("__gu"), col("__gv"), col("__gcu").as("__gc"))
  }

  /** Per-record degree in the verified match graph — Splink's node-level
    * `compute_graph_metrics` output. A record's degree counts its
    * DISTINCT same-cluster match partners (edges are direction- and
    * duplicate-normalized, self-loops dropped, cross-cluster edges
    * excluded — see [[intraClusterEdges]]); records no edge touches
    * (singletons, or members only connected by excluded edges) appear
    * with degree 0, because "this record matched nothing" is exactly the
    * row a review queue wants. Low degree inside a big cluster marks a
    * record held in only by transitivity — the first candidates to
    * re-examine when a cluster looks over-merged.
    *
    * Shapes: edge normalization is one edge-sized distinct; degrees are
    * one map-side-combinable groupBy over the exploded endpoints; the
    * final left join keys on the record id. Nothing pair-quadratic,
    * nothing windowed. Output: (id, cluster_id, degree). */
  def nodeDegrees(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val e = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val deg = e.select(col("__gu").as("__gid"))
      .unionAll(e.select(col("__gv").as("__gid")))
      .groupBy(col("__gid")).agg(count(lit(1)).as("__gdeg"))
    assignment.select(col(idCol), col(clusterCol))
      .join(deg, col(idCol) === col("__gid"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("__gdeg"), lit(0L)).as("degree"))
  }

  /** Per-cluster graph metrics over the verified match edges — Splink's
    * cluster-level `compute_graph_metrics`: size, edge count, density
    * and Freeman degree centralisation. Reading: a large cluster with
    * density near the 2/n spanning-tree floor is held together by a
    * chain of single links (over-merge suspect — [[Linkage
    * .weakestLinks]] names the link to cut); centralisation near 1 is a
    * hub-and-spoke cluster whose hub record deserves a clerical look
    * (one bad golden-ish record gluing strangers together); density 1 is
    * a clique — every pair independently verified.
    *
    * Definitions (n = n_nodes, E = n_edges, deg over [[nodeDegrees]]'
    * intra-cluster graph):
    *  - `density` = 2E / (n(n−1)), NULL when n < 2 (a singleton has no
    *    pair slots — no evidence, not 0);
    *  - `centralisation` = Σᵢ(max_deg − degᵢ) / ((n−1)(n−2)) — Freeman's
    *    normalization, NULL when n < 3 (the star denominator vanishes).
    *
    * The gate face keeps the integer sufficient statistics (n_nodes,
    * n_edges, max_degree) as longs; the two ratios are computed in
    * pinned all-double order — numerator and denominator each a product
    * of exact long→double casts, one divide — so an oracle mirroring the
    * formula reproduces them bit-for-bit (and n(n−1) can never overflow
    * a long on a 10^12-member pathological cluster, the
    * [[Linkage.blockingQuality]] lesson). Σ(max−deg) folds as
    * n·max − Σdeg without a second pass.
    *
    * Shapes: one edge-sized distinct, one endpoint-explode groupBy for
    * degrees, one cluster groupBy each for node counts and degree
    * aggregates, one cluster-count-sized join. Clusters are rows even
    * when no edge survived (n_edges 0 — an assignment imported without
    * its evidence shows up instead of vanishing). Output: (cluster_id,
    * n_nodes, n_edges, max_degree, density, centralisation). */
  def graphMetrics(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val deg = nodeDegrees(assignment, edges, idCol, clusterCol, aCol, bCol)
    val n = col("n_nodes").cast("double")
    deg.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("degree")).as("__gsum"),
        max(col("degree")).as("max_degree"))
      .select(col(clusterCol), col("n_nodes"),
        // every intra-cluster edge contributes exactly 2 to __gsum
        (col("__gsum") / lit(2)).cast("long").as("n_edges"),
        col("max_degree"), col("__gsum"))
      .withColumn("density", when(col("n_nodes") >= 2,
        col("__gsum").cast("double") / (n * (col("n_nodes") - 1)
          .cast("double"))))
      .withColumn("centralisation", when(col("n_nodes") >= 3,
        (n * col("max_degree").cast("double") -
          col("__gsum").cast("double")) /
        ((col("n_nodes") - 1).cast("double") *
          (col("n_nodes") - 2).cast("double"))))
      .select(col(clusterCol), col("n_nodes"), col("n_edges"),
        col("max_degree"), col("density"), col("centralisation"))
  }

  /** Bridge flags over the verified match graph — Splink's `is_bridge`
    * edge metric: an intra-cluster edge is a bridge when removing it
    * disconnects its cluster. Bridges are the single points of failure
    * of an entity — each one is ONE pairwise decision holding two
    * otherwise-unrelated record groups together, so the bridge list IS
    * the clerical-review queue for over-merge suspects (where
    * [[Linkage.weakestLinks]] ranks by score, this ranks by structure;
    * an isolated verified pair is a bridge by definition — cutting it
    * splits the 2-cluster).
    *
    * Semantics are over the SIMPLE intra-cluster graph of
    * [[intraClusterEdges]] (direction/duplicate-normalized, self-loops
    * and cross-cluster edges out) — duplicate rows of one verified pair
    * are artifacts, not parallel evidence, so they must not fake a
    * cycle.
    *
    * Scale shape: bridge-finding is inherently whole-component (every
    * known algorithm walks the component), so the component is the unit
    * of distribution — groups fan out across executors and each runs
    * one O(V+E) iterative Tarjan lowlink pass in arrays local to ITS
    * cluster (the [[graft.operators.Dedup]] lesson applied to graphs:
    * per-bucket work bounded + observable, never corpus-global).
    * Clusters with more than `maxClusterEdges` edges emit nothing here
    * — the group reader stops buffering at the cap, so a monster
    * cluster costs O(cap) memory, not O(cluster) — and `dropped` lists
    * them as (clusterCol, n_edges) with exact sizes (same contract as
    * every capped pair generator in the repo). At real cluster sizes (entity
    * clusters are people/pages, not the corpus) the default cap is
    * effectively "never".
    *
    * Output: (clusterCol, aCol, bCol, is_bridge) — one row per
    * normalized intra-cluster edge, original id/cluster types
    * preserved. */
  def bridgeEdges(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxClusterEdges: Int = 1 << 20): Capped = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val outSchema = StructType(Seq(
      intra.schema("__gc").copy(name = clusterCol),
      intra.schema("__gu").copy(name = aCol),
      intra.schema("__gv").copy(name = bCol),
      StructField("is_bridge", BooleanType, nullable = false)))
    val flagged = perCluster(intra, maxClusterEdges, outSchema) {
      (buf, nodes, eu, ev) =>
        val bridge = simpleBridges(nodes.length, eu, ev)
        buf.iterator.zipWithIndex.map { case (r, k) =>
          Row(r.get(2), r.get(0), r.get(1), bridge(k))
        }
    }
    Capped(flagged, overCapClusters(intra, clusterCol, maxClusterEdges))
  }

  /** `f(edges, nodes, eu, ev)` per cluster of `intra`: its (__gu, __gv,
    * __gc) edge rows, its distinct nodes in first-seen order, and each
    * edge's endpoints as indices into `nodes` (ids compare by value,
    * binary ids by content). Clusters are grouped by the SQL value of
    * `__gc` — the grouping [[overCapClusters]] sizes — and at most
    * `cap` + 1 rows are buffered: a cluster over the cap is detected and
    * skipped without ever materializing past it. */
  private def perCluster(intra: DataFrame, cap: Int, outSchema: StructType)(
      f: (collection.IndexedSeq[Row], collection.IndexedSeq[Any],
        Array[Int], Array[Int]) => Iterator[Row]): DataFrame =
    intra.groupBy(col("__gc"))
      .as[Row, Row](Encoders.row(intra.select(col("__gc")).schema),
        Encoders.row(intra.schema))
      .flatMapGroups { (_: Row, it: Iterator[Row]) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Row]()
        while (it.hasNext && buf.length <= cap) buf += it.next()
        if (buf.length > cap) Iterator.empty
        else {
          val index = new java.util.HashMap[Any, Integer]()
          val nodes = new scala.collection.mutable.ArrayBuffer[Any]()
          def of(x: Any): Int = {
            val key = x match {
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
              case v => v
            }
            var i = index.get(key)
            if (i == null) { i = nodes.length; index.put(key, i); nodes += x }
            i
          }
          val m = buf.length
          val eu = new Array[Int](m); val ev = new Array[Int](m)
          var j = 0
          while (j < m) {
            eu(j) = of(buf(j).get(0)); ev(j) = of(buf(j).get(1)); j += 1
          }
          f(buf, nodes, eu, ev)
        }
      }(Encoders.row(outSchema))

  /** (clusterCol, n_edges) of the clusters over `maxClusterEdges` — the
    * ones the per-cluster passes skip, sized exactly by one map-side-
    * combinable groupBy, nothing buffered. */
  private def overCapClusters(intra: DataFrame, clusterCol: String,
      maxClusterEdges: Int): DataFrame =
    intra.groupBy(col("__gc")).agg(count(lit(1)).as("n_edges"))
      .where(col("n_edges") > maxClusterEdges)
      .select(col("__gc").as(clusterCol), col("n_edges"))

  /** Bridge flags only — see [[lowlinkPass]]. */
  private[operators] def simpleBridges(n: Int, eu: Array[Int],
      ev: Array[Int]): Array[Boolean] = lowlinkPass(n, eu, ev)._1

  /** ONE iterative Tarjan lowlink pass over an int-indexed simple graph
    * in CSR arrays, computing bridges (per edge) AND cut vertices /
    * articulation points (per node) together — explicit stack (a
    * 10^5-node chain would blow the JVM stack recursively), parent
    * skipped BY EDGE ID (robust even to parallel edges, though callers
    * pass deduped sets). Bridge: tree edge with low(child) > disc(u);
    * cut: non-root u with a tree child where low(child) ≥ disc(u), or a
    * root with ≥ 2 tree children. O(V+E) time and memory, all primitive
    * arrays. */
  private[operators] def lowlinkPass(n: Int, eu: Array[Int],
      ev: Array[Int]): (Array[Boolean], Array[Boolean]) = {
    val m = eu.length
    val deg = new Array[Int](n)
    var j = 0
    while (j < m) { deg(eu(j)) += 1; deg(ev(j)) += 1; j += 1 }
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(start, n)
    val adjN = new Array[Int](2 * m); val adjE = new Array[Int](2 * m)
    j = 0
    while (j < m) {
      adjN(pos(eu(j))) = ev(j); adjE(pos(eu(j))) = j; pos(eu(j)) += 1
      adjN(pos(ev(j))) = eu(j); adjE(pos(ev(j))) = j; pos(ev(j)) += 1
      j += 1
    }
    val disc = Array.fill(n)(-1); val low = new Array[Int](n)
    val parentEdge = new Array[Int](n)
    val stackNode = new Array[Int](n); val stackPtr = new Array[Int](n)
    val isBridge = new Array[Boolean](m)
    val isCut = new Array[Boolean](n)
    var timer = 0
    var root = 0
    while (root < n) {
      if (disc(root) == -1) {
        var top = 0
        var rootChildren = 0
        stackNode(0) = root; stackPtr(0) = start(root)
        parentEdge(root) = -1
        disc(root) = timer; low(root) = timer; timer += 1
        while (top >= 0) {
          val u = stackNode(top)
          if (stackPtr(top) < start(u + 1)) {
            val p = stackPtr(top); stackPtr(top) += 1
            val e = adjE(p); val w = adjN(p)
            if (e != parentEdge(u)) {
              if (disc(w) == -1) {
                disc(w) = timer; low(w) = timer; timer += 1
                parentEdge(w) = e
                if (top == 0) rootChildren += 1
                top += 1; stackNode(top) = w; stackPtr(top) = start(w)
              } else if (disc(w) < low(u)) low(u) = disc(w)
            }
          } else {
            top -= 1
            if (top >= 0) {
              val par = stackNode(top)
              if (low(u) < low(par)) low(par) = low(u)
              if (low(u) > disc(par)) isBridge(parentEdge(u)) = true
              // non-root articulation: some tree child can't reach
              // above par without par
              if (top > 0 && low(u) >= disc(par)) isCut(par) = true
            }
          }
        }
        if (rootChildren >= 2) isCut(root) = true
      }
      root += 1
    }
    (isBridge, isCut)
  }

  /** Articulation records (cut vertices) of the verified match graph —
    * the node-level sibling of [[bridgeEdges]]: a record whose removal
    * disconnects its cluster. Where a bridge is one fragile DECISION, an
    * articulation record is one fragile RECORD — the classic over-merge
    * culprit is a single bad row (a shared placeholder email, a
    * tokenized-away name) that alone connects two real entities, and it
    * is exactly a cut vertex even when its incident edges individually
    * sit in cycles. Complements `centralisation` (which flags hubs only
    * statistically) with the exact structural test.
    *
    * Same distribution contract as [[bridgeEdges]]: per-cluster
    * iterative Tarjan (ONE shared lowlink pass computes both metrics),
    * groups buffered only to `maxClusterEdges` (+1 detection row),
    * oversized clusters emit nothing here and are listed in `dropped`.
    * Output: one row per record incident to
    * ≥ 1 intra-cluster edge — an edgeless record can't cut anything —
    * with its flag: (clusterCol, idCol, is_articulation). */
  def articulationRecords(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxClusterEdges: Int = 1 << 20): Capped = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val outSchema = StructType(Seq(
      intra.schema("__gc").copy(name = clusterCol),
      intra.schema("__gu").copy(name = idCol),
      StructField("is_articulation", BooleanType, nullable = false)))
    val flagged = perCluster(intra, maxClusterEdges, outSchema) {
      (buf, nodes, eu, ev) =>
        val cut = lowlinkPass(nodes.length, eu, ev)._2
        nodes.iterator.zipWithIndex.map { case (id, k) =>
          Row(buf.head.get(2), id, cut(k))
        }
    }
    Capped(flagged, overCapClusters(intra, clusterCol, maxClusterEdges))
  }

  /** Per-cluster triangle census over the verified match graph — the
    * cohesion counterpart of [[graphMetrics]]' density: `transitivity`
    * = 3·triangles / wedges (the global clustering coefficient,
    * restricted to the cluster) measures how much of the evidence
    * CLOSES. Reading: density says how many pairs were verified at all;
    * transitivity says whether those verifications corroborate each
    * other — a cluster can be moderately dense yet triangle-free (a
    * bipartite-ish merge of two record groups, every wedge open), which
    * is exactly the over-merge shape [[bridgeEdges]] flags edge-by-edge
    * and this flags in one scalar. Triangle-rich clusters survive any
    * single clerical reversal; transitivity 0 clusters are one
    * retraction away from splitting.
    *
    * Scale shape: triangle counting NEVER enumerates per-vertex
    * neighborhood squares blindly — edges are ORIENTED from
    * lower-(degree, id) to higher-(degree, id) endpoint first (the
    * MapReduce triangle-counting move of Suri & Vassilvitskii, WWW'11),
    * so wedge enumeration is Σᵥ C(outdeg(v), 2) = O(E^{3/2}) total
    * (Chiba-Nishizeki bound) regardless of skew — a hot record with
    * degree d contributes d oriented IN-edges and only O(√E) out-edges.
    * The pipeline is three equi-joins and two groupBys: degree join,
    * oriented-wedge self-join on the source, closing-edge equi-join on
    * (b, c) — no windows, no per-group buffering, no caps needed (the
    * orientation IS the skew remedy, unlike the buffered Tarjan passes
    * which cap). Wedge counts fold as Σ d(d−1)/2 in decimal(38,0)
    * (the [[Linkage.blockingQuality]] overflow lesson — a degree-3e9
    * record would overflow a long product).
    *
    * Semantics over the SIMPLE intra-cluster graph of
    * [[intraClusterEdges]] (duplicates/self-loops/cross-cluster edges
    * out — a duplicated verified pair must not fake a closed triangle).
    * Every cluster in the assignment is a row (edgeless → 0 triangles,
    * 0 wedges); `transitivity` = 3T/W as one pinned double division,
    * NULL when the cluster has no wedge (a lone edge closes nothing —
    * no evidence, not 0). Output: (clusterCol, n_triangles, n_wedges,
    * transitivity). */
  def clusterTriangles(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b"): DataFrame = {
    val dec = "decimal(38,0)"
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    val (deg, tri) = triangles(intra, Seq("__gc"))
    // wedges per cluster: each edge-incident node appears once per side
    // it touches — distinct to once — then Σ d(d−1)/2 over the cluster
    val wedges = intra.select(col("__gu").as("__tid"), col("__gc"))
      .unionAll(intra.select(col("__gv").as("__tid"), col("__gc")))
      .distinct()
      .join(deg, "__tid")
      .groupBy(col("__gc"))
      .agg((sum(col("__tdeg").cast(dec) * (col("__tdeg").cast(dec) - 1))
        / 2).cast("long").as("n_wedges"))
    val nTri = tri.groupBy(col("__gc")).agg(count(lit(1)).as("n_triangles"))
    assignment.select(col(clusterCol)).distinct()
      .join(wedges.withColumnRenamed("__gc", clusterCol), Seq(clusterCol),
        "left")
      .join(nTri.withColumnRenamed("__gc", clusterCol), Seq(clusterCol),
        "left")
      .select(col(clusterCol),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"))
      .withColumn("transitivity", when(col("n_wedges") > 0,
        lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double")))
  }

  /** Per-record core number (coreness) in the verified match graph — the
    * k-core view of cluster robustness that degree alone misses: a
    * record's core number is the largest k such that it survives
    * repeatedly deleting every record with fewer than k remaining
    * same-cluster matches. Reading for review queues: `core = 1` inside
    * a big cluster marks a record dangling off the cluster by a single
    * chain (the classic over-merge appendage — [[bridgeEdges]] names the
    * edge, this names the whole tail); a high min-core cluster is
    * edit-tolerant (no single clerical deletion can shed members).
    *
    * Algorithm: iterated h-index (Lü et al. 2016, "The H-index of a
    * network node and its relation to degree and coreness" — public
    * result): h₀(v) = deg(v), hₜ₊₁(v) = H({hₜ(u) : u ∈ N(v)}) where H is
    * the largest h with ≥ h neighbors valued ≥ h. The sequence is
    * monotone non-increasing and its fixpoint is exactly coreness, which
    * makes it the distributed formulation of peeling: each round is two
    * stock shuffles (join values onto the bidirected edge list, then a
    * per-node window + groupBy for the H-operator) — no global priority
    * queue, no sequential peel order. All values are integers, so the
    * fixpoint is bit-exact and algorithm-independent: the DuckDB oracle
    * replays the same iteration as a recursive CTE and must agree
    * hash-for-hash.
    *
    * Scale shapes: the bidirected intra-cluster edge list is built once
    * and reused every round ([[intraClusterEdges]] normalization:
    * dedup'd, self-loops out, cross-cluster edges out); per-round state
    * is one (id, h) frame, materialized by [[Frames.shared]] (the
    * convergence aggregate right after is the single action per round)
    * exactly like [[ConnectedComponents]]. The
    * H-operator's window partitions by node id, so its cost is bounded
    * by max degree, not cluster size; a 10^7-degree hub serializes one
    * task for its own sort (AQE cannot split a window partition) — on
    * graphs with such hubs, cap them upstream ([[Linkage]] pair caps
    * already bound degree by construction). Rounds: ≤ a few dozen on
    * real graphs (empirically O(√n) worst case, tiny on web-shaped
    * graphs); `maxIter` is a job-killing `require`, not a silent
    * truncation. Records with no surviving edge get core 0.
    *
    * Output: (idCol, clusterCol, core_number: Long). */
  def coreNumbers(assignment: DataFrame, edges: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxIter: Int = 200): DataFrame = {
    val intra = intraClusterEdges(assignment, edges, idCol, clusterCol,
      aCol, bCol)
    // bidirected edge list, read by the finish and by every round
    val b = Frames.shared(intra
      .select(col("__gu").as("__cu"), col("__gv").as("__cv"))
      .unionAll(intra.select(col("__gv").as("__cu"), col("__gu").as("__cv"))))

    // Driver finish ([[DriverFinish]]): coreness is a unique integer
    // function of the edge set (the h-index fixpoint IS coreness), so the
    // classic O(E) peel over the collected bidirected edge list computes
    // the same values as every distributed round (2 shuffles + a window +
    // an action each). Ids are hashed, so only hashable id types finish.
    val spark = assignment.sparkSession
    val coreCap = DriverFinish.cap(spark, "core.driverFinishEdges")
    val finished = DriverFinish.collected(b, Seq("__cu", "__cv"), coreCap).map { rows =>
      val idx = new java.util.HashMap[Any, Integer]()
      rows.foreach { r =>
        idx.computeIfAbsent(r.get(0), _ => Integer.valueOf(idx.size))
      }
      val n = idx.size
      val deg = new Array[Int](n)
      rows.foreach(r => deg(idx.get(r.get(0))) += 1)
      val adjStart = new Array[Int](n + 1)
      var i = 0
      while (i < n) { adjStart(i + 1) = adjStart(i) + deg(i); i += 1 }
      val fill = adjStart.clone()
      val adj = new Array[Int](rows.length)
      rows.foreach { r =>
        val u = idx.get(r.get(0)); adj(fill(u)) = idx.get(r.get(1))
        fill(u) += 1
      }
      // Batagelj–Zaveršnik bucket peel: process nodes in nondecreasing
      // degree; each processed node's coreness is its current degree,
      // and its unprocessed higher-degree neighbors lose one
      val core = deg.clone()
      val maxDeg = if (n == 0) 0 else core.max
      val bin = new Array[Int](maxDeg + 2)
      core.foreach(d => bin(d) += 1)
      var s = 0
      var d = 0
      while (d <= maxDeg) { val t = bin(d); bin(d) = s; s += t; d += 1 }
      val vert = new Array[Int](n)
      val posv = new Array[Int](n)
      i = 0
      while (i < n) {
        posv(i) = bin(core(i)); vert(posv(i)) = i; bin(core(i)) += 1
        i += 1
      }
      d = maxDeg
      while (d > 0) { bin(d) = bin(d - 1); d -= 1 }
      bin(0) = 0
      i = 0
      while (i < n) {
        val v = vert(i)
        var j = adjStart(v)
        while (j < adjStart(v + 1)) {
          val u = adj(j)
          if (core(u) > core(v)) {
            val du = core(u); val pu = posv(u)
            val pw = bin(du); val w = vert(pw)
            if (u != w) {
              posv(u) = pw; vert(pu) = w; posv(w) = pu; vert(pw) = u
            }
            bin(du) += 1
            core(u) -= 1
          }
          j += 1
        }
        i += 1
      }
      DriverFinish.frame(spark, new StructType()
          .add("__cid", b.schema("__cu").dataType).add("__ch", LongType),
        idx.asScala.toSeq.map { case (id, k) => Row(id, core(k).toLong) })
    }

    // round state: the empty probe and the first round's two joins
    var h = finished.getOrElse(Frames.shared(b.groupBy(col("__cu").as("__cid"))
      .agg(count(lit(1)).as("__ch"))))
    var iter = 0
    var done = finished.isDefined || h.isEmpty // edgeless: nothing to do
    while (!done && iter < maxIter) {
      // neighbor values: (node, h(neighbor)) for every directed edge
      val nv = b.join(h, b("__cv") === h("__cid"))
        .select(b("__cu").as("__cid"), col("__ch").as("__chv"))
      // H-operator: rank neighbor values descending; H = max min(rank, v)
      // (tie order among equal values cannot change min(rank, v)'s max)
      val w = W.partitionBy(col("__cid")).orderBy(col("__chv").desc)
      val hidx = nv.select(col("__cid"), col("__chv"),
          row_number().over(w).cast("long").as("__crn"))
        .groupBy(col("__cid"))
        .agg(max(least(col("__crn"), col("__chv"))).as("__chh"))
      // round state: the change count and the next round's two joins
      val next = Frames.shared(h.join(hidx, Seq("__cid"), "left")
        .select(col("__cid"), col("__ch").as("__cold"),
          least(col("__ch"), coalesce(col("__chh"), lit(0L))).as("__ch")))
      // single action per round: materializes `next` AND counts changes
      val changed = next.agg(
        sum(when(col("__ch") =!= col("__cold"), 1L).otherwise(0L)))
        .head.getLong(0)
      h = next.select(col("__cid"), col("__ch"))
      done = changed == 0L
      iter += 1
    }
    require(done, s"coreNumbers did not converge in $maxIter rounds")
    assignment.select(col(idCol), col(clusterCol))
      .join(h, col(idCol) === col("__cid"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("__ch"), lit(0L)).as("core_number"))
  }

  /** The triangles of a canonical (u < v) edge frame `(__gu, __gv, …)`
    * by degree-oriented wedge enumeration: each edge is oriented toward
    * its higher-(degree, id) end (u < v already holds, so equal degrees
    * keep u → v), and each triangle is found ONCE from its lowest corner
    * as an oriented wedge b ← src → c with rank(b) < rank(c), closed by
    * the edge b → c (Σ outdeg² ≈ O(E^1.5) wedge candidates). Returns the
    * degree frame `(__tid, __tdeg)` and the triangles `(__src, __b, __c,
    * carry…)`, `carry` taken from the edge src → b. */
  private def triangles(edges: DataFrame,
      carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val deg = edges.select(col("__gu").as("__tid"))
      .unionAll(edges.select(col("__gv").as("__tid")))
      .groupBy(col("__tid")).agg(count(lit(1)).as("__tdeg"))
    val keep = col("__du") <= col("__dv")
    val dirE = edges
      .join(deg.select(col("__tid").as("__gu"), col("__tdeg").as("__du")),
        "__gu")
      .join(deg.select(col("__tid").as("__gv"), col("__tdeg").as("__dv")),
        "__gv")
      .select(Seq(when(keep, col("__gu")).otherwise(col("__gv")).as("__src"),
        when(keep, col("__gv")).otherwise(col("__gu")).as("__dst"),
        when(keep, col("__dv")).otherwise(col("__du")).as("__dd")) ++
        carry.map(col): _*)
    val x = dirE.select(Seq(col("__src"), col("__dst").as("__b"),
      col("__dd").as("__db")) ++ carry.map(col): _*)
    val y = dirE.select(col("__src"), col("__dst").as("__c"),
      col("__dd").as("__dc"))
    val tri = x.join(y, Seq("__src"))
      .where(col("__db") < col("__dc") ||
        (col("__db") === col("__dc") && col("__b") < col("__c")))
      .join(dirE.select(col("__src").as("__b"), col("__dst").as("__c")),
        Seq("__b", "__c"))
      .select(Seq(col("__src"), col("__b"), col("__c")) ++ carry.map(col): _*)
    (deg, tri)
  }

  /** Per-edge triangle support over a canonical (u < v) edge frame: each
    * of its [[triangles]] credits all three of its edges. Edges in no
    * triangle are absent (callers coalesce to 0). */
  private def edgeSupport(cur: DataFrame): DataFrame = {
    val (_, tri) = triangles(cur)
    tri.select(least(col("__src"), col("__b")).as("__gu"),
        greatest(col("__src"), col("__b")).as("__gv"))
      .unionAll(tri.select(least(col("__src"), col("__c")).as("__gu"),
        greatest(col("__src"), col("__c")).as("__gv")))
      .unionAll(tri.select(least(col("__b"), col("__c")).as("__gu"),
        greatest(col("__b"), col("__c")).as("__gv")))
      .groupBy(col("__gu"), col("__gv"))
      .agg(count(lit(1)).as("__sup"))
  }

  /** k-truss of the verified match graph, per cluster (Cohen 2008): the
    * maximal subgraph in which EVERY surviving edge closes at least
    * k−2 triangles with other surviving edges — the edge-cohesion
    * complement to [[coreNumbers]] (a k-truss is always inside the
    * (k−1)-core, but demands triangle evidence, not just degree):
    * truss edges are links corroborated by mutual neighbors, exactly
    * the redundancy a defensible ER merge wants, while bridges and
    * chains peel away. Classic QA read: an over-merged cluster's
    * k-truss (k ≥ 4) keeps its verified core and drops the spurious
    * chain that glued two entities together.
    *
    * Algorithm: iterative peeling to the FIXED POINT — compute per-edge
    * triangle support (degree-oriented wedge join, each triangle from
    * its lowest-degree corner), delete edges with support < k−2,
    * repeat until no deletion (peeling is monotone, so extra rounds
    * are no-ops — which is also what makes the unrolled-SQL oracle
    * exact with any generous round budget). Deterministic: deletions
    * depend only on the current edge set, never on order. One action
    * per round (the surviving-edge count), each round materialized by
    * [[Frames.shared]], rounds bounded by `maxIter` (each round deletes
    * ≥ 1 edge or stops, so ≤ |E| rounds; in practice a handful).
    *
    * Output: (cluster, u, v, support) — the surviving edges with their
    * final (converged) support, support ≥ k−2 by construction. */
  def trussEdges(assignment: DataFrame, edges: DataFrame, k: Int,
      idCol: String = "id", clusterCol: String = "cluster_id",
      aCol: String = "url_a", bCol: String = "url_b",
      maxIter: Int = 10000): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    // read by the count, the finish and the first round's support join
    var cur = Frames.shared(intraClusterEdges(assignment, edges, idCol,
      clusterCol, aCol, bCol))
    var prev = cur.count()

    // Driver finish ([[DriverFinish]]): the maximal k-truss is a UNIQUE
    // subgraph of the edge set (peeling is confluent — deletions depend
    // only on the current edge set, never order), so an in-process peel
    // over adjacency sets of the collected intra-cluster edges computes
    // the same survivors and final supports as O(rounds) wedge-join
    // shuffles. Ids are hashed, so only hashable id types finish.
    val spark = assignment.sparkSession
    if (DriverFinish.fitsHashed(cur, Seq("__gu", "__gv"),
        DriverFinish.cap(spark, "truss.driverFinishEdges"), prev)) {
      val rows = cur.collect() // (__gu, __gv, __gc)
      val live = new java.util.HashMap[(Any, Any), Any]() // edge -> cluster
      val adj = new java.util.HashMap[Any, java.util.HashSet[Any]]()
      def link(u: Any, v: Any): Unit =
        adj.computeIfAbsent(u, _ => new java.util.HashSet[Any]()).add(v)
      rows.foreach { r =>
        live.put((r.get(0), r.get(1)), r.get(2))
        link(r.get(0), r.get(1)); link(r.get(1), r.get(0))
      }
      def support(u: Any, v: Any): Long = {
        val nu = adj.get(u); val nv = adj.get(v)
        if (nu == null || nv == null) 0L
        else {
          val (small, big) = if (nu.size <= nv.size) (nu, nv) else (nv, nu)
          var c = 0L
          val it = small.iterator()
          while (it.hasNext) if (big.contains(it.next())) c += 1
          c
        }
      }
      var changed = true
      while (changed) {
        changed = false
        val doomed = new scala.collection.mutable.ArrayBuffer[(Any, Any)]()
        val it = live.keySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (support(e._1, e._2) < k - 2) doomed += e
        }
        if (doomed.nonEmpty) {
          changed = true
          doomed.foreach { case (u, v) =>
            live.remove((u, v))
            val nu = adj.get(u); if (nu != null) nu.remove(v)
            val nv = adj.get(v); if (nv != null) nv.remove(u)
          }
        }
      }
      val sch = cur.schema
      return DriverFinish.frame(spark, new StructType()
          .add(clusterCol, sch("__gc").dataType).add(aCol, sch("__gu").dataType)
          .add(bCol, sch("__gv").dataType).add("support", LongType),
        live.asScala.toSeq.map { case ((u, v), c) => Row(c, u, v, support(u, v)) })
    }

    var iter = 0
    var done = prev == 0L
    while (!done && iter < maxIter) {
      // round state: the count and the next round's support join
      val next = Frames.shared(cur
        .join(edgeSupport(cur), Seq("__gu", "__gv"), "left")
        .where(coalesce(col("__sup"), lit(0L)) >= k - 2)
        .select(col("__gu"), col("__gv"), col("__gc")))
      val n = next.count() // the round's single action; materializes next
      cur = next
      done = n == prev
      prev = n
      iter += 1
    }
    require(done, s"trussEdges did not converge in $maxIter rounds")
    cur.join(edgeSupport(cur), Seq("__gu", "__gv"), "left")
      .select(col("__gc").as(clusterCol), col("__gu").as(aCol),
        col("__gv").as(bCol), coalesce(col("__sup"), lit(0L)).as("support"))
  }
}
