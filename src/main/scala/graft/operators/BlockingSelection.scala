package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Greedy blocking-scheme recommendation: pick the SET of blocking-key
  * families that covers the most labeled true pairs within a total
  * candidate-pair budget — the capacity-planning decision
  * [[Evaluation.blockingQuality]] (one scheme's PC/RR) and
  * [[Evaluation.blockingQualitySweep]] (one scheme across caps) inform but
  * don't make. Budgeted maximum coverage is NP-hard; the standard greedy
  * (highest marginal coverage among families that still fit the budget)
  * carries the classic (1 − 1/e)-style guarantee and — crucially here —
  * is DETERMINISTIC, so an ANSI-SQL oracle can replay it step by step.
  *
  * Inputs: `keyed` = (family, id, key) — one row per record per candidate
  * family (union the families, or explode a key array); `truePairs` =
  * distinct labeled pairs (first two columns). A family's COST is its
  * exact pair volume Σ_blocks C(n, 2) (decimal — n can be 10^12); its
  * GAIN is the count of still-uncovered true pairs it co-blocks.
  * Selection stops at `maxSchemes`, at budget exhaustion, or when no
  * remaining family covers anything new (zero-marginal families are
  * never picked).
  *
  * Scale shape: volumes are one map-side-combinable (family, key) count
  * + one decimal fold per family; coverage is two id-equi-joins hanging
  * each true pair's keys on it (cost ∝ |truth| × families, never corpus
  * pairs) — cached once. Each greedy step is ONE distributed anti-join +
  * count over that truth-sized table; the argmax itself runs on the
  * driver over ≤ |families| rows (the FS/IVF bounded-collect pattern).
  *
  * @return one row per selected family, in selection order:
  *         (step, family, marginal_covered, cumulative_covered,
  *          volume, cumulative_volume, total_truth). */
object BlockingSelection {

  /** All arity-2 conjunction families derivable from `keyed` —
    * (f1&f2, id, key1␁key2) for every unordered base-family pair a record
    * holds keys in, the candidate pool for DNF scheme learning
    * ([[learnScheme]]): a conjunction blocks a pair iff BOTH base
    * predicates agree, so it is always tighter (fewer negatives) and
    * never recall-better than its parts — exactly the trade the learner
    * prices. Records with multiple keys per family conjoin every
    * combination (the token-blocking semantics carried through).
    *
    * ONE id-keyed self-equi-join regardless of family count; output size
    * is Σ per-record keys², bounded by (families × keys-per-family)² per
    * record — family pools are tens by nature, never corpus-shaped. The
    * ␁ separator keeps composite keys unambiguous (the [[Dedup]] block-
    * key convention); keep '&' out of base family names so learned term
    * names parse unambiguously. */
  def conjunctions(keyed: DataFrame): DataFrame = {
    val k = keyed.select(col(keyed.columns(0)).as("family"),
      col(keyed.columns(1)).as("__id"), col(keyed.columns(2)).as("__key"))
    val a = k.select(col("__id"), col("family").as("__fa"),
      col("__key").as("__ka"))
    val b = k.select(col("__id"), col("family").as("__fb"),
      col("__key").as("__kb"))
    a.join(b, "__id").where(col("__fa") < col("__fb"))
      .select(concat(col("__fa"), lit("&"), col("__fb")).as("family"),
        col("__id"),
        concat(col("__ka"), lit("\u0001"), col("__kb")).as("__key"))
  }

  /** Supervised DNF blocking-scheme learning (Michelson & Knoblock,
    * AAAI'06 "Learning Blocking Schemes for Record Linkage"; Bilenko,
    * Kamath & Mooney, ICDM'06 "Adaptive Blocking"): from labeled
    * POSITIVE and NEGATIVE pairs, greedily assemble a disjunction of
    * blocking terms (base families and all their arity-2
    * conjunctions) that maximizes positive-pair coverage
    * subject to a budget on DISTINCT negative pairs co-blocked — the
    * supervised counterpart of [[greedySelection]], whose cost is
    * unlabeled pair volume. Greedy per step: among terms whose negative
    * union stays within `maxNegCovered`, take the largest uncovered-
    * positive marginal; ties break to the smaller negative marginal,
    * then the term name (pinned, so an ANSI-SQL oracle replays the
    * whole selection). Stops at `maxTerms`, when nothing feasible
    * remains, or when every remaining term has zero positive marginal.
    *
    * Negative accounting exploits the same anti-join trick as the
    * positive side: after removing already-covered negatives, a term's
    * grouped count IS its marginal, so cumulative = spent + marginal
    * with no distinct-union recount — one distributed pass per side per
    * step over the LABEL-sized coverage tables (labels are samples by
    * nature; nothing here touches corpus pairs).
    *
    * @return one row per selected term, in selection order:
    *         (step, family, marginal_pos, cumulative_pos, marginal_neg,
    *          cumulative_neg, total_pos, total_neg). */
  def learnScheme(keyed: DataFrame, posPairs: DataFrame,
      negPairs: DataFrame, maxNegCovered: Long, maxTerms: Int): DataFrame = {
    require(maxTerms > 0, "maxTerms must be positive")
    require(maxNegCovered >= 0, "maxNegCovered must be >= 0")
    val spark = keyed.sparkSession
    val base = keyed.select(col(keyed.columns(0)).as("family"),
      col(keyed.columns(1)).as("__id"), col(keyed.columns(2)).as("__key"))
    // the term pool feeds FOUR coverage joins (pa/pb × pos/neg)
    val all = Frames.shared(base.union(conjunctions(base)))

    def pairsOf(df: DataFrame) = df
      .select(col(df.columns(0)).as("pa"), col(df.columns(1)).as("pb"))
      .distinct()
    // a coverage table feeds every step's marginal counts
    def coverage(pairs: DataFrame) = Frames.shared(pairs
      .join(all.select(col("family"), col("__id").as("pa"), col("__key")),
        Seq("pa"))
      .join(all.select(col("family"), col("__id").as("pb"), col("__key")),
        Seq("family", "pb", "__key"))
      .select("family", "pa", "pb").distinct())

    // the label frames each feed a coverage join AND a total count
    val pos = Frames.shared(pairsOf(posPairs))
    val neg = Frames.shared(pairsOf(negPairs))
    val covP = coverage(pos)
    val covN = coverage(neg)
    val totalPos = pos.count()
    val totalNeg = neg.count()

    // Per step, the marginal counts come from [[marginals]]: counted on
    // the driver when the coverage table fits the driver-finish cap, else
    // by one anti-join + count in Spark. Both give the same counts, so
    // the selection is the same.
    val capRows = DriverFinish.cap(spark, "blocksel.driverFinishRows")
    val margPOf = marginals(covP, capRows)
    val margNOf = marginals(covN, capRows)
    var selected = Vector.empty[(Int, String, Long, Long, Long, Long)]
    var spentNeg = 0L
    var cumPos = 0L
    var step = 1
    var done = false
    while (!done && step <= maxTerms) {
      val picked = selected.map(_._2)
      val margP = margPOf(picked)
      val margN = margNOf(picked)
      val feasible = margP.toSeq.filter { case (f, _) =>
        spentNeg + margN.getOrElse(f, 0L) <= maxNegCovered
      }
      if (feasible.isEmpty) done = true
      else {
        val (f, p) = feasible.minBy { case (name, cnt) =>
          (-cnt, margN.getOrElse(name, 0L), name)
        }
        val n = margN.getOrElse(f, 0L)
        cumPos += p
        spentNeg += n
        selected :+= ((step, f, p, cumPos, n, spentNeg))
        step += 1
      }
    }

    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("family", StringType, nullable = false),
      StructField("marginal_pos", LongType, nullable = false),
      StructField("cumulative_pos", LongType, nullable = false),
      StructField("marginal_neg", LongType, nullable = false),
      StructField("cumulative_neg", LongType, nullable = false),
      StructField("total_pos", LongType, nullable = false),
      StructField("total_neg", LongType, nullable = false)))
    val rows = selected.map { case (s, f, p, cp, n, cn) =>
      Row(s, f, p, cp, n, cn, totalPos, totalNeg)
    }
    DriverFinish.frame(spark, schema, rows, slices = 1)
  }

  /** Step function of the greedy loops: for the families picked so far,
    * each other family's count of coverage rows (family, pa, pb) whose
    * pair no picked family covers. Families with a zero count are left
    * out (never picked). Under the driver-finish cap ([[DriverFinish]])
    * the label-sized table is collected once and its pairs counted in a
    * hash set — only for ids whose JVM equality is SQL equality
    * ([[DriverFinish.collected]]); otherwise each step is one anti-join +
    * count job. */
  private def marginals(cov: DataFrame,
      cap: Long): Seq[String] => Map[String, Long] = {
    DriverFinish.collected(cov, Seq("pa", "pb"), cap) match {
      case Some(rows) =>
        val byFam = rows.groupBy(_.getString(0)).view
          .mapValues(_.map(r => (r.get(1), r.get(2)))).toMap
        picked => {
          val covered = picked.flatMap(f => byFam.getOrElse(f, Array.empty[(Any, Any)])).toSet
          byFam.collect { case (f, prs) if !picked.contains(f) =>
            f -> prs.count(p => !covered(p)).toLong
          }.filter(_._2 > 0)
        }
      case None =>
        picked => {
          val remaining = if (picked.isEmpty) cov
            else cov.where(!col("family").isin(picked: _*))
              .join(cov.where(col("family").isin(picked: _*))
                .select("pa", "pb").distinct(), Seq("pa", "pb"), "left_anti")
          remaining.groupBy("family").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
    }
  }

  def greedySelection(keyed: DataFrame, truePairs: DataFrame,
      budget: BigDecimal, maxSchemes: Int): DataFrame = {
    require(maxSchemes > 0, "maxSchemes must be positive")
    val spark = keyed.sparkSession
    val k = keyed.select(col(keyed.columns(0)).as("family"),
      col(keyed.columns(1)).as("__id"), col(keyed.columns(2)).as("__key"))
    // truth feeds the coverage join AND the total count
    val truth = Frames.shared(truePairs.select(
      col(truePairs.columns(0)).as("pa"), col(truePairs.columns(1)).as("pb"))
      .distinct())

    // cost: Σ C(block, 2) per family, decimal(38,0) (n can be 10^12)
    val volumes = k.groupBy("family", "__key")
      .agg(count(lit(1)).as("n"))
      .groupBy("family")
      .agg((sum(col("n").cast("decimal(38,0)") *
        (col("n") - 1).cast("decimal(38,0)")) / lit(2))
        .cast("decimal(38,0)").as("volume"))
      .collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(1)))
      .toMap

    // gain table: (family, pa, pb) = this family co-blocks that true pair;
    // it feeds every step's marginal counts
    val cov = Frames.shared(truth
      .join(k.select(col("family"), col("__id").as("pa"), col("__key")),
        Seq("pa"))
      .join(k.select(col("family"), col("__id").as("pb"), col("__key")),
        Seq("family", "pb", "__key"))
      .select("family", "pa", "pb").distinct())
    val totalTruth = truth.count()

    // the step loop of [[learnScheme]], with one coverage table and the
    // volume budget as the feasibility filter
    val marginalsOf = marginals(cov,
      DriverFinish.cap(spark, "blocksel.driverFinishRows"))
    var selected = Vector.empty[(Int, String, Long, Long, BigDecimal, BigDecimal)]
    var spent = BigDecimal(0)
    var coveredSoFar = 0L
    var step = 1
    var done = false
    while (!done && step <= maxSchemes) {
      val feasible = marginalsOf(selected.map(_._2)).toSeq
        .filter { case (f, _) => spent + volumes(f) <= budget }
      if (feasible.isEmpty) done = true
      else {
        val (f, m) = feasible.minBy { case (name, cnt) => (-cnt, name) }
        spent += volumes(f)
        coveredSoFar += m
        selected :+= ((step, f, m, coveredSoFar, volumes(f), spent))
        step += 1
      }
    }

    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("family", StringType, nullable = false),
      StructField("marginal_covered", LongType, nullable = false),
      StructField("cumulative_covered", LongType, nullable = false),
      StructField("volume", DecimalType(38, 0), nullable = true),
      StructField("cumulative_volume", DecimalType(38, 0), nullable = true),
      StructField("total_truth", LongType, nullable = false)))
    val rows = selected.map { case (s, f, m, c, v, cv) =>
      Row(s, f, m, c, v.bigDecimal, cv.bigDecimal, totalTruth)
    }
    DriverFinish.frame(spark, schema, rows, slices = 1)
  }
}
