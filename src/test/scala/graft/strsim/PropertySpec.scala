package graft.strsim

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Property-based checks over full Unicode scalar values, including the
  * non-BMP range that exercises the JVM surrogate-pair trap (FIXTURES.md §4).
  * (Drives ScalaCheck directly — the scalatestplus bridge isn't in the
  * offline dependency cache.)
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  // Unicode scalar values: [0, 0xD7FF] ∪ [0xE000, 0x10FFFF]
  private val scalarValue: Gen[Int] =
    Gen.frequency(
      6 -> Gen.choose(0x20, 0x7E),          // ASCII printable
      2 -> Gen.choose(0xA0, 0xD7FF),        // BMP
      1 -> Gen.choose(0xE000, 0xFFFF),      // BMP private/compat
      2 -> Gen.choose(0x10000, 0x10FFFF))   // non-BMP (surrogate pairs in JVM)

  private val uniString: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, scalarValue))
      .map(cps => new String(cps.toArray, 0, cps.length))

  val kernels: Map[String, (String, String) => Double] = Map(
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

  for ((name, f) <- kernels) {
    test(s"$name: range [0,1], identity, symmetry, eval consistency") {
      check(Prop.forAll(uniString, uniString) { (a, b) =>
        val v = f(a, b)
        val interp = exprBuilders(name)(
          Literal(UTF8String.fromString(a), StringType),
          Literal(UTF8String.fromString(b), StringType)).eval(null).asInstanceOf[Double]
        v >= 0.0 && v <= 1.0 &&
          f(a, a) == 1.0 &&
          f(a, b) == f(b, a) &&
          interp == v
      })
    }
  }

  test("hamming(a,b) == 1 iff a == b") {
    check(Prop.forAll(uniString, uniString) { (a, b) =>
      (StrSimKernels.hamming(a, b) == 1.0) == (a == b)
    })
  }

  test("damerau_levenshtein >= levenshtein (transpositions can only help)") {
    check(Prop.forAll(uniString, uniString) { (a, b) =>
      StrSimKernels.damerauLevenshtein(a, b) >= StrSimKernels.levenshtein(a, b) - 1e-12
    })
  }

  test("damerau_levenshtein guards quadratic-memory inputs with NaN, not a throw") {
    val big = "ab" * 3000 // 6k code points each → 36M cells > 16M cap
    // NaN → SQL NULL at the expression layer (a throw would be
    // data-dependent job death at 10^12-pair scale)
    assert(java.lang.Double.isNaN(StrSimKernels.damerauLevenshtein(big, big.reverse)))
    // linear-memory kernels handle the same inputs fine
    assert(StrSimKernels.levenshtein(big, big.reverse) >= 0.0)
    assert(StrSimKernels.jaccard(big, big.reverse) == 1.0) // same bag
  }

  test("empty-vs-nonempty is 0, empty-vs-empty is 1 for all kernels") {
    for ((name, f) <- kernels) {
      assert(f("", "") == 1.0, name)
      assert(f("", "x") == 0.0, name)
      assert(f("x", "") == 0.0, name)
    }
  }

  // --- repetition-counter invariants (over full-Unicode text with
  // injected newlines/whitespace so the line and word paths both fire) ---

  private val multilineText: Gen[String] = {
    val piece = Gen.frequency(
      8 -> uniString,
      2 -> Gen.oneOf("\n", " ", "\t", "\u000B", "\f", "\r"))
    Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
  }

  private def rep(s: String): Array[Long] =
    TextKernels.repetitionCounters(UTF8String.fromString(s)).toLongArray()

  test("repetitionCounters: structural invariants on arbitrary text") {
    check(Prop.forAll(multilineText) { s =>
      val c = rep(s)
      val nonNeg = c.forall(_ >= 0L)
      val dupBounds = c(1) < math.max(c(0), 1) && c(2) <= c(3)
      // every line is made of words (same whitespace class, minus '\n'):
      // total line chars == total word chars + intra-line word gaps — so
      // both totals are zero together, and line chars ≥ word chars
      val charsConsistent = (c(3) == 0) == (c(5) == 0) && c(3) >= c(5)
      // a bigram's coverage cannot exceed (#words-1 pairs)·total word chars
      val coverBound = c(4) == 0 || c(5) > 0
      nonNeg && dupBounds && charsConsistent && coverBound
    })
  }

  test("repetitionCounters: doubling a doc line-wise doubles line instances") {
    check(Prop.forAll(uniString.suchThat(s => !s.exists(ch =>
      ch == '\n' || ch == ' ' || ch == '\t' || ch == '\u000B' ||
        ch == '\f' || ch == '\r'))) { s =>
      val single = rep(s)
      val doubled = rep(s + "\n" + s)
      if (s.isEmpty) doubled.sameElements(single)
      else {
        // two identical nonempty lines: 2 instances, 1 duplicate, all of
        // the second line's chars are duplicate chars
        doubled(0) == 2 * single(0) && doubled(1) == single(0) &&
          doubled(2) == single(3) && doubled(3) == 2 * single(3)
      }
    })
  }
}
