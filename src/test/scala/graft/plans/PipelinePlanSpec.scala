package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkFunSuite
import graft.operators.Linkage
import graft.sources.PagesCorpus

/** Plan-shape assertions for scale behavior: column pruning (never drag
  * `html BINARY` through a shuffle), filter pushdown to the parquet scan,
  * and whole-stage codegen around the strsim kernels. These are the
  * "would this survive 100×" checks — cheap at sf-test, load-bearing at
  * 100 TB. */
class PipelinePlanSpec extends SparkFunSuite {

  private lazy val pagesPath = {
    val dir = Files.createTempDirectory("graft-pages").toString
    val (pages, _) = PagesCorpus.generate(spark, 400, 42L, 4)
    pages.write.mode("overwrite").parquet(dir)
    dir
  }

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  test("block-key-only projection prunes html AND text from the parquet scan") {
    val pages = spark.read.parquet(pagesPath)
    val df = Linkage.extract(pages).select(col("url"), col("block_key"))
    val schemas = scans(df).map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.nonEmpty)
    // block_key derives from url only — scan must read just url
    assert(schemas.forall(s => !s.contains("html") && !s.contains("text") &&
      !s.contains("warc_ts")), s"scan read too much: $schemas")
  }

  test("extraction scan reads html but never warc_ts it doesn't need") {
    val pages = spark.read.parquet(pagesPath)
    val df = Linkage.extract(pages) // full extract: url, html-derived text, lang
    val schemas = scans(df).map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.forall(s => s.contains("html") && !s.contains("warc_ts")))
  }

  test("post-extraction stages never touch html (checkpoint schema)") {
    val work = Files.createTempDirectory("graft-plan").toString
    val pages = spark.read.parquet(pagesPath)
    Pipeline.run(spark, pages, work, Pipeline.Config())
    val extracted = spark.read.parquet(s"$work/01_extracted")
    assert(!extracted.schema.fieldNames.contains("html"))
    val scored = spark.read.parquet(s"$work/04_scored")
    assert(scored.schema.fieldNames.toSet ==
      Set("url_a", "url_b", "jw", "dice", "score"))
  }

  test("kernel scoring after the equi-join runs inside whole-stage codegen") {
    val pages = spark.read.parquet(pagesPath)
    val ex = Linkage.extract(pages)
    val scored = Linkage.score(
      Linkage.candidatePairs(Linkage.candidateKeys(ex)), ex)
      .where(col("score") >= 1.6)
    scored.collect() // materialize THIS queryExecution so AQE finalizes it
    val plan = scored.queryExecution.executedPlan.toString
    // kernels run inside whole-stage codegen (the `*(n)` markers)
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
    assert(plan.contains("jaro_winkler_sim"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"non-equi join crept in:\n$plan")
  }

  test("levenshtein_within pre-filter evaluates BELOW the composite projection") {
    val pages = spark.read.parquet(pagesPath)
    val ex = Linkage.extract(pages)
    val scored = Linkage.scoreWithPrefilter(
      Linkage.candidatePairs(Linkage.candidateKeys(ex)), ex, maxDist = 6)
    scored.collect() // materialize so AQE finalizes the plan
    val root = scored.queryExecution.executedPlan
    val plan = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // collect() stops at AQE query-stage boundaries, so flatten manually.
    def flat(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(flat)
    }
    // root-first, one line per node with all its expressions: a projection
    // folded into an aggregate's result expressions (the pair dedup's) is
    // printed by `toString` as output attributes only
    val s = flat(plan).map(p => s"${p.nodeName} ${p.expressions.mkString(", ")}")
      .mkString("\n")
    // the kernel projection exists, and the banded filter sits in its
    // SUBTREE (plans print root-first: projection line above filter line)
    assert(s.contains("jaro_winkler_sim") && s.contains("levenshtein_within"), s)
    assert(s.indexOf("jaro_winkler_sim") < s.indexOf("levenshtein_within"),
      s"prefilter is not below the composite projection:\n$s")
    // tier 0: the bag filter is present and short-circuit-ordered BEFORE
    // the banded DP inside the same conjunction (And evaluates left
    // first, so a bag rejection never runs levenshtein_within)
    assert(s.contains("bag_within"), s"tier-0 bag filter missing:\n$s")
    assert(s.indexOf("bag_within") < s.indexOf("levenshtein_within"),
      s"bag tier is not ahead of the banded DP:\n$s")
    // wherever the prefilter is evaluated (plain Filter or pushed into a
    // join condition), nothing BELOW it evaluates a composite kernel.
    val evalChildren = flat(plan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("levenshtein_within") => f.children
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.condition.exists(_.toString.contains("levenshtein_within")) =>
        j.children
    }.flatten
    assert(evalChildren.nonEmpty, s"prefilter not found in plan:\n$s")
    evalChildren.foreach(c => assert(!c.toString.contains("jaro_winkler_sim"),
      s"kernel below the prefilter:\n$s"))
    // functional containment: prefiltered scores ⊆ unfiltered scores
    val full = Linkage.score(
      Linkage.candidatePairs(Linkage.candidateKeys(ex)), ex)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    val pre = scored.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4))
    assert(pre.nonEmpty)
    pre.foreach { case (k, v) => assert(full(k) == v) }
    assert(pre.length < full.size, "prefilter pruned nothing on this corpus")
  }

  test("match threshold is pushed below the pair dedup into the blocking join") {
    val pages = spark.read.parquet(pagesPath)
    val ex = Linkage.extract(pages)
    val matched = Linkage.matches(
      Linkage.score(Linkage.candidatePairs(Linkage.candidateKeys(ex)), ex), 1.6)
    val plan = matched.queryExecution.optimizedPlan
    val dedups = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "name_norm_a")) => a
    }
    assert(dedups.size == 1, s"expected one pair dedup:\n$plan")
    // the kernels run under the dedup (so only pairs clearing θ reach its
    // exchange), and the threshold is not re-applied above it
    assert(dedups.head.child.treeString.contains("jaro_winkler_sim"),
      s"threshold not pushed below the dedup:\n$plan")
    val above = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.filterNot(f => dedups.head.child.exists(_ eq f))
    assert(above.forall(!_.condition.toString.contains("jaro_winkler_sim")),
      s"threshold filter left above the dedup:\n$plan")
    // and the result is the filter applied after the dedup
    val bare = Linkage.candidatePairs(Linkage.candidateKeys(ex)).select("url_a", "url_b")
    val late = Linkage.matches(Linkage.score(bare, ex), 1.6).collect().toSet
    assert(late.nonEmpty && matched.collect().toSet == late)
  }

  test("partition-count stability: candidate pair join respects shuffle partitions") {
    val pages = spark.read.parquet(pagesPath)
    val ex = Linkage.extract(pages)
    val pairs = Linkage.candidatePairs(Linkage.candidateKeys(ex))
    // with AQE on, partitions are coalesced to the data size, not 200
    val n = pairs.rdd.getNumPartitions
    assert(n <= spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"pair join exploded partitions: $n")
  }
}
