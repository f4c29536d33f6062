package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.SparkFunSuite

/** Every SQL builder in [[sqlFunctions]] checks its argument count before
  * it reads an argument, and names the function and the counts it accepts
  * (the registry of `registerAll` and `GraftExtensions` alike). */
class SqlAritySpec extends SparkFunSuite {

  private def wrongCount(query: String): AnalysisException = {
    val e = intercept[AnalysisException](spark.sql(query).collect())
    assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
    e
  }

  test("a fixed-arity kernel rejects too few and too many arguments") {
    val few = wrongCount("SELECT jaro_sim('abc')")
    assert(few.getMessage.contains("`jaro_sim` requires 2 parameters"), few.getMessage)
    assert(few.getMessage.contains("actual number is 1"), few.getMessage)
    val many = wrongCount("SELECT jaro_sim('abc', 'abd', 'x')")
    assert(many.getMessage.contains("actual number is 3"), many.getMessage)
    wrongCount("SELECT token_sort_ratio('a b')")
  }

  test("a literal-parameter kernel counts its parameters") {
    val e = wrongCount("SELECT levenshtein_capped('abc', 'abd')")
    assert(e.getMessage.contains("`levenshtein_capped` requires 3 parameters"), e.getMessage)
    wrongCount("SELECT tversky_sim('abc', 'abd', 0.5)")
    assert(spark.sql("SELECT levenshtein_capped('abc', 'abd', 2)").head().getInt(0) == 1)
  }

  test("optional arguments: each accepted count works, the others are rejected") {
    assert(spark.sql("SELECT minhash_sig(array('a', 'b', 'c'), 4)").head().getSeq[Long](0).size == 4)
    assert(spark.sql("SELECT minhash_sig(array('a', 'b', 'c'), 4, 'sha256')").head()
      .getSeq[String](0).size == 4)
    val sig = wrongCount("SELECT minhash_sig(array('a', 'b'))")
    assert(sig.getMessage.contains("`minhash_sig` requires [2, 3] parameters"), sig.getMessage)
    wrongCount("SELECT minhash_sig(array('a', 'b'), 4, 'sha256', 'x')")
    assert(!spark.sql("SELECT clk_bits('ab', 64, 2)").head().isNullAt(0))
    assert(!spark.sql("SELECT clk_bits('ab', 64, 2, 'salt')").head().isNullAt(0))
    val clk = wrongCount("SELECT clk_bits('ab', 64)")
    assert(clk.getMessage.contains("`clk_bits` requires [3, 4] parameters"), clk.getMessage)
    wrongCount("SELECT clk_bits('ab', 64, 2, 'salt', 'x')")
  }

  test("every builder rejects a count it does not accept, before reading an argument") {
    // no function takes 0 arguments or more than 4
    for ((name, build) <- sqlFunctions; n <- Seq(0, 7)) {
      val e = intercept[AnalysisException](build(Seq.fill(n)(Literal("x"))))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS") && e.getMessage.contains(s"`$name`"),
        s"$name with $n arguments: ${e.getMessage}")
    }
  }

  test("a literal argument that fails its check names the function and the parameter") {
    val e = intercept[IllegalArgumentException](
      spark.sql("SELECT minhash_sig_chars('abc', 0, 12)").collect())
    assert(e.getMessage.contains("minhash_sig_chars: shingleK must be > 0, got 0"), e.getMessage)
  }
}
