package graft.strsim

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkFunSuite, Vectors}
import graft.functions._

/** Bit-exactness conformance suite: replays the reference's 1,115 embedded
  * test vectors (`/root/reference/src/expressions/strsim.rs:347-1535`,
  * tolerance 1e-8 per strsim.rs:350) plus our Unicode supplements and the
  * DuckDB-cross-checked Damerau-Levenshtein/Hamming vectors, through three
  * paths: (a) the kernel object directly, (b) interpreted Expression.eval,
  * (c) whole-stage codegen over a DataFrame.
  */
class ConformanceSpec extends SparkFunSuite {

  val kernelFns: Map[String, (String, String) => Double] = Map(
    "levenshtein" -> (StrSimKernels.levenshtein(_: String, _: String)),
    "jaro" -> (StrSimKernels.jaro(_: String, _: String)),
    "jaro_winkler" -> (StrSimKernels.jaroWinkler(_: String, _: String)),
    "jaccard" -> (StrSimKernels.jaccard(_: String, _: String)),
    "sorensen_dice" -> (StrSimKernels.sorensenDice(_: String, _: String)),
    "damerau_levenshtein" -> (StrSimKernels.damerauLevenshtein(_: String, _: String)),
    "hamming" -> (StrSimKernels.hamming(_: String, _: String)),
  )

  val exprBuilders: Map[String, (Expression, Expression) => Expression] = Map(
    "levenshtein" -> (Kernel.levenshtein(_, _)),
    "jaro" -> (Kernel.jaro(_, _)),
    "jaro_winkler" -> (Kernel.jaroWinkler(_, _)),
    "jaccard" -> (Kernel.jaccard(_, _)),
    "sorensen_dice" -> (Kernel.sorensenDice(_, _)),
    "damerau_levenshtein" -> (Kernel.damerauLevenshtein(_, _)),
    "hamming" -> (Kernel.hamming(_, _)),
  )

  val sqlName: Map[String, String] = Map(
    "levenshtein" -> "levenshtein_sim", "jaro" -> "jaro_sim",
    "jaro_winkler" -> "jaro_winkler_sim", "jaccard" -> "jaccard_sim",
    "sorensen_dice" -> "sorensen_dice_sim",
    "damerau_levenshtein" -> "damerau_levenshtein_sim",
    "hamming" -> "hamming_sim")

  val allVectors: Seq[Vectors.Vec] =
    Vectors.load("/strsim_vectors.csv") ++
      Vectors.load("/strsim_unicode_vectors.csv") ++
      Vectors.load("/dl_hamming_vectors.csv")

  test("reference vector counts") {
    val ref = Vectors.load("/strsim_vectors.csv")
    val counts = ref.groupBy(_.kernel).view.mapValues(_.size).toMap
    assert(ref.size == 1115)
    assert(counts == Map("levenshtein" -> 76, "jaro" -> 331, "jaro_winkler" -> 526,
      "jaccard" -> 91, "sorensen_dice" -> 91))
  }

  test("kernel-direct conformance (all vectors, tolerance 1e-8)") {
    val failures = allVectors.filter { v =>
      math.abs(kernelFns(v.kernel)(v.a, v.b) - v.expected) >= 1e-8
    }
    assert(failures.isEmpty, s"${failures.size} kernel mismatches, first: ${failures.take(5)}")
  }

  test("interpreted Expression.eval conformance") {
    val failures = allVectors.filter { v =>
      val e = exprBuilders(v.kernel)(
        Literal(UTF8String.fromString(v.a), StringType),
        Literal(UTF8String.fromString(v.b), StringType))
      math.abs(e.eval(null).asInstanceOf[Double] - v.expected) >= 1e-8
    }
    assert(failures.isEmpty, s"${failures.size} eval mismatches, first: ${failures.take(5)}")
  }

  test("whole-stage codegen DataFrame conformance (SQL registry path)") {
    val schema = StructType(Seq(
      StructField("kernel", StringType), StructField("a", StringType),
      StructField("b", StringType), StructField("expected", DoubleType)))
    val rows = allVectors.map(v => Row(v.kernel, v.a, v.b, v.expected))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    df.createOrReplaceTempView("vectors")
    val cases = sqlName.map { case (k, fn) => s"WHEN '$k' THEN $fn(a, b)" }.mkString(" ")
    val out = spark.sql(
      s"SELECT kernel, a, b, expected, CASE kernel $cases END AS got FROM vectors")
    // ensure the kernels run inside whole-stage codegen, not a fallback
    // (the `*(n)` prefix in the simple plan string marks codegen stages)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"),
      s"expected codegen in plan:\n$plan")
    val bad = out.collect().filter(r => math.abs(r.getDouble(4) - r.getDouble(3)) >= 1e-8)
    assert(bad.isEmpty, s"${bad.length} codegen mismatches, first: ${bad.take(5).mkString("; ")}")
  }

  test("damerau_levenshtein long-input policy: null above the DP cell cap, never a throw") {
    // two 5000-char strings with no shared affix → trimmed core 5000×5000 =
    // 25M cells > the 16M cap. Kernel → NaN; expression → SQL NULL.
    val rnd = new scala.util.Random(7)
    val a = Array.fill(5000)(('a' + rnd.nextInt(26)).toChar).mkString
    val b = Array.fill(5000)(('a' + rnd.nextInt(26)).toChar).mkString
    assert(a.head != b.head && a.last != b.last) // no affix trim (seed-pinned)
    assert(java.lang.Double.isNaN(StrSimKernels.damerauLevenshtein(a, b)))
    val e = Kernel.damerauLevenshtein(
      Literal(UTF8String.fromString(a), StringType),
      Literal(UTF8String.fromString(b), StringType))
    assert(e.eval(null) == null) // interpreted path
    import spark.implicits._
    val row = Seq((a, b)).toDF("a", "b")
      .select(damerau_levenshtein_sim(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("s"),
        // the documented fallback recipe for long texts
        org.apache.spark.sql.functions.coalesce(
          damerau_levenshtein_sim(org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b")),
          levenshtein_sim(org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b"))).as("fallback"))
      .head()
    assert(row.isNullAt(0)) // codegen path
    assert(!row.isNullAt(1) && row.getDouble(1) >= 0.0 && row.getDouble(1) <= 1.0)
    // short inputs are untouched by the policy
    assert(!java.lang.Double.isNaN(StrSimKernels.damerauLevenshtein("ab", "ba")))
  }

  test("constant folding: literal-literal kernel call folds at plan time") {
    import org.apache.spark.sql.functions.lit
    val df = spark.range(1).select(jaro_winkler_sim(lit("phillips"), lit("philips")).as("s"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("0.975"), s"expected folded literal in plan:\n$optimized")
  }
}
