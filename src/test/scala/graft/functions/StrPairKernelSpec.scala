package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkFunSuite
import graft.strsim.{StrSimKernels => S, TextKernels => T}

/** Every string-pair function, table-driven: the kernel called directly,
  * interpreted `eval`, whole-stage codegen and the SQL registry agree on
  * seeded Unicode pairs (non-BMP, empty and null included), and each
  * function keeps the plan text, column name and type it had as one case
  * class per kernel. */
class StrPairKernelSpec extends SparkFunSuite {

  private def nullIf[A](v: A, sentinel: A => Boolean): Any = if (sentinel(v)) null else v

  /** (SQL name, Column function, kernel called directly, literal args,
    * toString over columns a and b, result type, values over
    * ("phillips", "philips"), ("", ""), (null, "x")). */
  private case class Fn(name: String, column: (Column, Column) => Column,
      direct: (String, String) => Any, args: Seq[Any], shown: String, tpe: String,
      pinned: String)

  private def fn(name: String, column: (Column, Column) => Column,
      direct: (String, String) => Any, pinned: String, tpe: String = "double",
      args: Seq[Any] = Nil): Fn =
    Fn(name, column, direct, args,
      (Seq("a", "b") ++ args.map(_.toString)).mkString(s"$name(", ", ", ")"), tpe, pinned)

  private val fns: Seq[Fn] = Seq(
    fn("levenshtein_sim", levenshtein_sim, S.levenshtein(_: String, _: String), "0.875,1.0,null"),
    fn("jaro_sim", jaro_sim, S.jaro(_: String, _: String), "0.9583333333333334,1.0,null"),
    fn("jaro_winkler_sim", jaro_winkler_sim, S.jaroWinkler(_: String, _: String), "0.975,1.0,null"),
    fn("jaccard_sim", jaccard_sim, S.jaccard(_: String, _: String), "0.875,1.0,null"),
    fn("sorensen_dice_sim", sorensen_dice_sim, S.sorensenDice(_: String, _: String),
      "0.9333333333333333,1.0,null"),
    fn("damerau_levenshtein_sim", damerau_levenshtein_sim,
      (a, b) => nullIf(S.damerauLevenshtein(a, b), (_: Double).isNaN), "0.875,1.0,null"),
    fn("hamming_sim", hamming_sim, S.hamming(_: String, _: String), "0.5,1.0,null"),
    fn("overlap_sim", overlap_sim, S.overlap(_: String, _: String), "1.0,1.0,null"),
    fn("cosine_bag_sim", cosine_bag_sim, S.cosineBag(_: String, _: String),
      "0.9669875568304563,1.0,null"),
    fn("osa_sim", osa_sim, S.osa(_: String, _: String), "0.875,1.0,null"),
    fn("lcs_sim", lcs_sim, S.lcs(_: String, _: String), "0.9333333333333333,1.0,null"),
    fn("needleman_wunsch_sim", needleman_wunsch_sim, S.needlemanWunsch(_: String, _: String),
      "0.875,1.0,null"),
    fn("smith_waterman_sim", smith_waterman_sim, S.smithWaterman(_: String, _: String),
      "0.8571428571428571,1.0,null"),
    fn("editex_sim", editex_sim, S.editex(_: String, _: String), "1.0,1.0,null"),
    fn("lcsstr_sim", lcsstr_sim, S.lcsstr(_: String, _: String), "0.5,1.0,null"),
    fn("affine_gap_sim", affine_gap_sim, S.affineGap(_: String, _: String), "0.875,1.0,null"),
    fn("bag_sim", bag_sim, S.bag(_: String, _: String), "0.875,1.0,null"),
    fn("ratcliff_obershelp_sim", ratcliff_obershelp_sim,
      S.ratcliffObershelp(_: String, _: String), "0.9333333333333333,1.0,null"),
    fn("partial_ratcliff_sim", partial_ratcliff_sim, S.partialRatcliff(_: String, _: String),
      "0.8571428571428571,1.0,null"),
    fn("tversky_sim", tversky_sim(_, _, 0.25, 0.75), S.tversky(_: String, _: String, 0.25, 0.75),
      "0.9655172413793104,1.0,null", args = Seq(0.25, 0.75)),
    fn("qgram_sim", qgram_sim(_: Column, _: Column, 2), S.qgram(_: String, _: String, 2),
      "0.9230769230769231,1.0,null", args = Seq(2)),
    fn("monge_elkan_jw", monge_elkan_jw, S.mongeElkanJaroWinkler(_: String, _: String),
      "0.975,1.0,null"),
    fn("confusion_lev_sim", confusion_lev_sim, S.confusionLevSim(_: String, _: String),
      "0.875,1.0,null"),
    fn("confusion_lev_dist", confusion_lev_dist, S.confusionLevDist(_: String, _: String),
      "2,0,null", tpe = "bigint"),
    fn("levenshtein_capped", levenshtein_capped(_, _, 2),
      S.levenshteinCapped(_: String, _: String, 2), "1,0,null", tpe = "int", args = Seq(2)),
    fn("bag_dist", bag_dist, S.bagDist(_: String, _: String), "1,0,null", tpe = "int"),
    fn("bag_within", bag_within(_, _, 2), S.bagDist(_: String, _: String) <= 2,
      "true,true,null", tpe = "boolean", args = Seq(2)),
    fn("levenshtein_within", levenshtein_within(_, _, 2),
      S.levenshteinCapped(_: String, _: String, 2) <= 2, "true,true,null", tpe = "boolean",
      args = Seq(2)),
    fn("mra_similarity", mra_similarity,
      (a, b) => nullIf(T.mraSimilarity(a, b), (_: Int) < 0), "6,6,null", tpe = "int"),
    fn("mra_match", mra_match,
      T.mraMatch(_: String, _: String) match { case r if r < 0 => null; case r => r == 1 },
      "true,true,null", tpe = "boolean"),
  )

  /** Seeded pairs over a small mixed alphabet (ASCII, Latin-1, two non-BMP
    * blocks) so kernels see shared and transposed code points, plus the
    * fixed edge cases: empty, one-sided empty, identical non-BMP, an MRA
    * "no comparison" pair, and nulls. */
  private val pairs: Seq[(String, String)] = {
    val rnd = new scala.util.Random(42)
    val alphabet = Seq('a', 'b', 'c', 'd', 'é', 'ß').map(_.toInt) ++ Seq(0x1F600, 0x10400, 0x10401)
    def s(): String = {
      val cps = Array.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.size)))
      new String(cps, 0, cps.length)
    }
    val seeded = Seq.fill(40)((s(), s()))
    val emoji = new String(Array(0x1F600, 0x61, 0x10400), 0, 3)
    seeded ++ Seq(("phillips", "philips"), ("", ""), ("", "x"), ("Byrne", "Boern"),
      (emoji, emoji), ("Al", "Bartholomew"), ("Smith", "Smyth"), (null, "x"), ("x", null),
      (null, null))
  }

  private def lit(s: String): Expression =
    Literal(if (s == null) null else UTF8String.fromString(s), StringType)

  private lazy val frame = {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("a", StringType),
      StructField("b", StringType)))
    // an RDD source, so the projection is compiled by whole-stage codegen
    // (a local Seq would be folded into a local relation)
    spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }, 3), schema)
  }

  /** The kernels over `(string, string)`. */
  private val pairKernels = Kernel.all.filter(_.variants.map(_.inputs) == Seq(Seq(StringType, StringType)))

  test("the table covers every bound kernel once") {
    assert(fns.map(_.name).sorted == pairKernels.map(_.name).sorted)
    assert(fns.size == 30)
  }

  test("kernel-direct, interpreted eval, whole-stage codegen and SQL agree on every function") {
    val direct = fns.map(f => pairs.map { case (a, b) =>
      if (a == null || b == null) null else f.direct(a, b)
    })
    val interpreted = fns.map { f =>
      val k = Kernel.byName(f.name)
      pairs.map { case (a, b) => k(lit(a) +: lit(b) +: f.args: _*).eval(null) }
    }
    /** One column per function, rows in input order. */
    def byFunction(df: DataFrame): Seq[Seq[Any]] = {
      val rows = df.collect().sortBy(_.getInt(0))
      fns.indices.map(i => rows.toSeq.map(_.get(i + 1)))
    }
    withConf("spark.sql.codegen.fallback", "false") {
      val viaColumns = frame.select(col("id") +: fns.map(f => f.column(col("a"), col("b"))): _*)
      // every kernel is one static call inside the generated Java
      val java = codegenString(viaColumns.queryExecution.executedPlan)
      pairKernels.foreach { k =>
        assert(java.contains(s"${k.owner.getName}.${k.variants.head.method}("),
          s"${k.name} not in codegen")
      }
      frame.createOrReplaceTempView("str_pairs")
      val viaSql = spark.sql(fns.map(f => f.args.map(v => s", $v").mkString(s"${f.name}(a, b", "",
        ")")).mkString("SELECT id, ", ", ", " FROM str_pairs"))
      val codegen = byFunction(viaColumns)
      val sql = byFunction(viaSql)
      fns.indices.foreach { i =>
        assert(interpreted(i) == direct(i), s"${fns(i).name}: eval differs from the kernel")
        assert(codegen(i) == direct(i), s"${fns(i).name}: codegen differs from the kernel")
        assert(sql(i) == direct(i), s"${fns(i).name}: SQL differs from the kernel")
      }
    }
  }

  test("sql, toString, column name, type and values are the ones pinned for each function") {
    import spark.implicits._
    val df0 = Seq(("phillips", "philips"), ("", ""), (null, "x")).toDF("a", "b")
    fns.foreach { f =>
      val d = df0.select(f.column(col("a"), col("b")))
      val e = d.queryExecution.analyzed.expressions.head.children.head
      assert(e.sql == s"${f.name}(a, b)")
      assert(e.toString.replaceAll("#\\d+", "") == f.shown)
      assert(d.columns.head == s"${f.name}(a, b)")
      assert(d.schema.head.dataType.catalogString == f.tpe)
      assert(d.schema.head.nullable)
      assert(d.collect().map(r => String.valueOf(r.get(0))).mkString(",") == f.pinned, f.name)
    }
  }

  test("two kernels over the same children are not semantically equal") {
    val (a, b) = (lit("martha"), lit("marhta"))
    assert(!Kernel.jaroWinkler(a, b).semanticEquals(Kernel.sorensenDice(a, b)))
    assert(!Kernel.qgram(a, b, 2).semanticEquals(Kernel.qgram(a, b, 3)))
    assert(Kernel.jaroWinkler(a, b).semanticEquals(Kernel.jaroWinkler(a, b)))
  }

  test("one (string, string) type check in the main sources; functions/ calls pair kernels " +
      "only through the binding") {
    val main = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    // the one type check of every kernel, which words the (string, string) one
    val typeCheck = scala.util.matching.Regex.quote("TypeCheckFailure(").r
    val typeChecks = main.map(p =>
      typeCheck.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size).sum
    assert(typeChecks == 1)
    val methods = pairKernels.map(_.variants.head.method).distinct.mkString("|")
    val direct = s"""\\b(StrSimKernels|TextKernels)\\.($methods)\\b""".r
    val hits = main.filter(p => p.startsWith(Paths.get("src/main/scala/graft/functions")) &&
        p.getFileName.toString != "Kernel.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("pair kernel named outside the binding: ", ", ", ""))
  }

  test("one binding expression: doGenCode once in the main sources, every kernel in " +
      "sqlFunctions registers from its entry, no other Expression class under functions/") {
    val main = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def text(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    assert(main.map(p => "\\bdoGenCode\\b".r.findAllMatchIn(text(p)).size).sum == 1)
    // the SQL registry holds each kernel under its entry's name, built by the entry
    val x = Literal("x")
    Kernel.all.foreach { k =>
      assert(sqlFunctions.contains(k.name) == k.sql, k.name)
      if (k.sql) {
        val args = k.params.map(p => Literal(p.default.getOrElse(KernelSpec.good(p.name))))
        sqlFunctions(k.name)(Seq.fill(k.arity)(x) ++ args) match {
          case e: KernelExpression => assert(e.kernel eq k, k.name)
          case e => fail(s"${k.name} builds $e")
        }
      }
    }
    val registry = text(Paths.get("src/main/scala/graft/functions/package.scala"))
    Kernel.all.foreach(k => assert(!registry.contains(s"\"${k.name}\""), s"${k.name} named in package.scala"))
    // every compiled class of the package, anonymous ones included
    val dir = Paths.get(classOf[Kernel].getProtectionDomain.getCodeSource.getLocation.toURI)
      .resolve("graft/functions")
    val expressions = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".class")).map(f => Class.forName(s"graft.functions.${f.stripSuffix(".class")}",
        false, getClass.getClassLoader))
      .filter(classOf[Expression].isAssignableFrom).map(_.getSimpleName).toList
    assert(expressions == List("KernelExpression"))
  }
}
