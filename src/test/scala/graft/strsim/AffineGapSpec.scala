package graft.strsim

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

/** Affine-gap (Gotoh) kernel: independent memoized-recursion reference,
  * exhaustive small-alphabet cross-check, hand-derived vectors pinning the
  * cost model (match +1, mismatch −1, gap L costs 1 + 0.5(L−1)), Unicode
  * randoms, and codegen/SQL agreement. */
class AffineGapSpec extends SparkFunSuite {

  /** Independent reference: plain memoized recursion over the three Gotoh
    * states in HALF-UNITS (ints, exact), no rolling rows, no scratch. */
  private def affineRef(a: String, b: String): Double = {
    if (a == b) return 1.0
    val x = a.codePoints().toArray; val y = b.codePoints().toArray
    val n = x.length; val m = y.length
    if (n == 0 || m == 0) return 0.0
    val NEG = Int.MinValue / 4
    val memo = collection.mutable.HashMap.empty[(Int, Int, Int), Int]
    // state 0 = M (x(i-1) aligned to y(j-1)), 1 = X (gap consumes x(i-1)),
    // 2 = Y (gap consumes y(j-1)); value = best score ×2 of the prefix
    def go(i: Int, j: Int, st: Int): Int = memo.getOrElseUpdate((i, j, st), st match {
      case 0 =>
        if (i == 0 && j == 0) 0
        else if (i == 0 || j == 0) NEG
        else {
          val sub = if (x(i - 1) == y(j - 1)) 2 else -2
          math.max(go(i - 1, j - 1, 0),
            math.max(go(i - 1, j - 1, 1), go(i - 1, j - 1, 2))) + sub
        }
      case 1 =>
        if (i == 0) NEG
        else math.max(go(i - 1, j, 0) - 2, go(i - 1, j, 1) - 1)
      case 2 =>
        if (j == 0) NEG
        else math.max(go(i, j - 1, 0) - 2, go(i, j - 1, 2) - 1)
    })
    val best = math.max(go(n, m, 0), math.max(go(n, m, 1), go(n, m, 2)))
    0.5 + best.toDouble / (4.0 * math.max(n, m).toDouble)
  }

  test("hand vectors pin the cost model") {
    // one gap char: "ab" vs "b" — gap(a) + match(b) = -1 + 1 = 0 → 0.5
    assert(StrSimKernels.affineGap("ab", "b") == 0.5)
    // long gap beats scattered: "abcdef" vs "af" — matches a,f (+2), one
    // internal gap of 4 costs 1+1.5=2.5 → score -0.5, sim 0.5 - 0.5/12
    assert(math.abs(StrSimKernels.affineGap("abcdef", "af") -
      (0.5 - 0.5 / 12.0)) < 1e-15)
    // NW unit-gap would charge 4 for that gap; affine must score HIGHER
    assert(StrSimKernels.affineGap("abcdef", "af") >
      StrSimKernels.needlemanWunsch("abcdef", "af"))
    // scattered equals NW when every gap has length 1: "axbxc" vs "abc"
    // (two length-1 gaps cost 1 each under both models)
    assert(StrSimKernels.affineGap("axbxc", "abc") ==
      StrSimKernels.needlemanWunsch("axbxc", "abc"))
    // all-mismatch same length: floor of the normalization → 0.0
    assert(StrSimKernels.affineGap("aaa", "bbb") == 0.0)
    // edges
    assert(StrSimKernels.affineGap("", "") == 1.0)
    assert(StrSimKernels.affineGap("a", "") == 0.0)
    assert(StrSimKernels.affineGap("", "a") == 0.0)
    assert(StrSimKernels.affineGap("same", "same") == 1.0)
  }

  test("exhaustive small-alphabet cross-check vs independent reference") {
    val alpha = Seq("a", "b", "c")
    val uniq = (0 to 3).flatMap { l =>
      (1 to l).foldLeft(Seq("")) { (acc, _) => acc.flatMap(p => alpha.map(p + _)) }
    }.distinct // all 40 strings over {a,b,c} of length 0..3 → 1600 pairs
    for (a <- uniq; b <- uniq) {
      val k = StrSimKernels.affineGap(a, b)
      val r = affineRef(a, b)
      assert(math.abs(k - r) < 1e-15, s"'$a' vs '$b': kernel=$k ref=$r")
    }
  }

  test("random Unicode cross-check incl. supplementary plane") {
    val rnd = new scala.util.Random(5)
    val pool = "aéß文😀bホ"
    def word(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(9)).foreach { _ =>
        val c = pool.charAt(rnd.nextInt(pool.length))
        if (Character.isHighSurrogate(c)) sb.append("😀") else sb.append(c)
      }
      sb.toString
    }
    (1 to 400).foreach { _ =>
      val (a, b) = (word(), word())
      val k = StrSimKernels.affineGap(a, b)
      val r = affineRef(a, b)
      assert(math.abs(k - r) < 1e-15, s"'$a' vs '$b': kernel=$k ref=$r")
    }
  }

  test("sim is within [0,1] and symmetric on randoms") {
    val rnd = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val s = StrSimKernels.affineGap(a, b)
      assert(s >= 0.0 && s <= 1.0, s"'$a' vs '$b' → $s")
      assert(s == StrSimKernels.affineGap(b, a))
    }
  }

  test("column, interpreted, and SQL paths agree with the kernel (incl. nulls)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(("abcdef", "af"), ("mitchell", "michelle"),
      ("", ""), ("a", ""), (null.asInstanceOf[String], "x"))
    val df = cases.toDF("a", "b")
    val viaCol = df.select(graft.functions.affine_gap_sim(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    df.createOrReplaceTempView("ag_t")
    val viaSql = spark.sql("select affine_gap_sim(a, b) from ag_t")
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val expected: Seq[Any] = cases.map { case (a, b) =>
      if (a == null || b == null) null else StrSimKernels.affineGap(a, b)
    }
    assert(viaCol.toSeq == expected)
    assert(viaSql.toSeq == expected)
    // interpreted Expression.eval (non-codegen path)
    cases.filter(c => c._1 != null && c._2 != null).foreach { case (a, b) =>
      val e = graft.functions.Kernel.affineGap(
        Literal(UTF8String.fromString(a), StringType),
        Literal(UTF8String.fromString(b), StringType))
      assert(e.eval(null).asInstanceOf[Double] == StrSimKernels.affineGap(a, b))
    }
  }
}
