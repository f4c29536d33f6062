package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkFunSuite
import graft.strsim.{TextKernels => T}

/** Every kernel that is not a string pair, table-driven like
  * [[StrPairKernelSpec]] (which covers the 30 string pairs): the kernel
  * called directly, interpreted `eval`, whole-stage codegen and the SQL
  * registry agree on seeded inputs (null, empty and non-BMP values
  * included) for each hash family and input type, and each function keeps
  * the plan text, column name, type, nullability and values it had as one
  * case class per kernel. */
class KernelSpec extends SparkFunSuite {
  import KernelSpec._

  private def u(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  private def ad(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  private def bound(k: Kernel, cs: Seq[Column], args: Any*): Column =
    GraftShims.column(k(cs.map(GraftShims.expression) ++ args: _*))

  /** One call: kernel name, input columns, literal args, the Column
    * function, the kernel method called directly on Catalyst values, and
    * whether SQL registers it. */
  private case class Fn(name: String, inputs: Seq[String], args: Seq[Any],
      column: Seq[Column] => Column, direct: Seq[Any] => Any, sql: Boolean = true) {
    def label: String = (inputs ++ args.map {
      case p: Seq[_] => s"planes(${p.size})"; case a => String.valueOf(a)
    }).mkString(s"$name(", ", ", ")")
  }

  private def fn(name: String, inputs: String*)(args: Any*)(column: Seq[Column] => Column)(
      direct: Seq[Any] => Any): Fn = Fn(name, inputs, args, column, direct)

  private val planes = Array(Array(0.5, -0.25, 1.0, 0.125), Array(-1.0, 0.5, 0.25, 2.0))
  private val planeRows: Seq[Seq[Double]] = planes.toSeq.map(_.toSeq)

  private val fns: Seq[Fn] = Seq(
    fn("simhash64", "s")()(c => simhash64(c(0)))(v => T.simhash64(u(v(0)))),
    fn("simhash60_sha", "s")()(c => simhash60_sha(c(0)))(v => T.simhash60Sha(u(v(0)))),
    fn("repetition_counters", "s")()(c => repetition_counters(c(0)))(v =>
      T.repetitionCounters(u(v(0)))),
    fn("nysiis_key", "s")()(c => nysiis_key(c(0)))(v => T.nysiis(u(v(0)))),
    fn("cologne_key", "s")()(c => cologne_key(c(0)))(v => T.cologne(u(v(0)))),
    fn("metaphone_key", "s")()(c => metaphone_key(c(0)))(v => T.metaphone(u(v(0)))),
    fn("mra_codex", "s")()(c => mra_codex(c(0)))(v => T.mraCodex(u(v(0)))),
    fn("min_kgram_hash", "s")(3)(c => min_kgram_hash(c(0), 3))(v => T.minKGramHash(u(v(0)), 3)),
    fn("unicode_norm", "s")("NFKD")(c => unicode_norm(c(0), "NFKD"))(v =>
      T.unicodeNorm(u(v(0)), java.text.Normalizer.Form.NFKD)),
    fn("unicode_norm", "s")("NFC")(c => unicode_norm(c(0), "NFC"))(v =>
      T.unicodeNorm(u(v(0)), java.text.Normalizer.Form.NFC)),
    fn("strip_accents", "s")()(c => strip_accents(c(0)))(v => T.stripAccents(u(v(0)))),
    fn("ngram_fingerprint", "s")(2)(c => bound(Kernel.ngramFingerprint, c, 2))(v =>
      T.ngramFingerprint(u(v(0)), 2)).copy(sql = false),
    fn("minhash_sig", "t")(4, "xxhash64")(c => minhash_sig(c(0), 4, "xxhash64"))(v =>
      MinHashKernels.sigTokensXx(ad(v(0)), 4)),
    fn("minhash_sig", "t")(3, "sha256")(c => minhash_sig(c(0), 3, "sha256"))(v =>
      MinHashKernels.sigTokensSha(ad(v(0)), 3)),
    fn("minhash_sig_chars", "s")(2, 4, "xxhash64")(c => minhash_sig_chars(c(0), 2, 4))(v =>
      MinHashKernels.sigCharsXx(u(v(0)), 2, 4)),
    fn("minhash_sig_chars", "s")(3, 2, "sha256")(c => minhash_sig_chars(c(0), 3, 2, "sha256"))(
      v => MinHashKernels.sigCharsSha(u(v(0)), 3, 2)),
    fn("minhash_sig_oph", "t")("xxhash64")(c => minhash_sig_oph(c(0)))(v =>
      MinHashKernels.sigTokensXxOph(ad(v(0)))),
    fn("minhash_sig_oph", "t")("sha256")(c => minhash_sig_oph(c(0), "sha256"))(v =>
      MinHashKernels.sigTokensShaOph(ad(v(0)))),
    fn("bbit_sig", "xs")(8)(c => bbit_sig(c(0), 8))(v => MinHashKernels.bbitPackXx(ad(v(0)), 8)),
    fn("bbit_sig", "hs")(16)(c => bbit_sig(c(0), 16))(v =>
      MinHashKernels.bbitPackSha(ad(v(0)), 16)),
    fn("bbit_match_count", "p", "p2")(8)(c => bbit_match_count(c(0), c(1), 8))(v =>
      MinHashKernels.bbitMatchCount(ad(v(0)), ad(v(1)), 8)),
    fn("bbit_jaccard_est", "p", "p2")(4)(c => bbit_jaccard_est(c(0), c(1), 4))(v =>
      MinHashKernels.bbitJaccardEst(ad(v(0)), ad(v(1)), 4)),
    fn("clk_bits", "s")(64, 2, "")(c => clk_bits(c(0), 64, 2))(v =>
      BloomKernels.clkBits(u(v(0)), 64, 2, Array.emptyByteArray)),
    fn("clk_bits", "s")(128, 3, "pepper")(c => clk_bits(c(0), 128, 3, "pepper"))(v =>
      BloomKernels.clkBits(u(v(0)), 128, 3, "pepper".getBytes("UTF-8"))),
    fn("clk_sig", "s")(128, 3, "")(c => clk_sig(c(0), 128, 3))(v =>
      BloomKernels.clkSig(u(v(0)), 128, 3, Array.emptyByteArray)),
    fn("bloom_dice", "p", "p2")()(c => bloom_dice(c(0), c(1)))(v =>
      BloomKernels.bloomDice(ad(v(0)), ad(v(1)))),
    fn("hyperplane_sig", "f")(planeRows)(c => hyperplane_sig(c(0), planes))(v =>
      VectorKernels.sigBits(ad(v(0)), planes)).copy(sql = false),
    fn("vec_dot", "f", "f2")()(c => vec_dot(c(0), c(1)))(v => VectorKernels.dotF(ad(v(0)), ad(v(1)))),
    fn("vec_norm", "f")()(c => vec_norm(c(0)))(v => VectorKernels.normF(ad(v(0)))),
    fn("cosine_sim", "f", "f2")()(c => cosine_sim(c(0), c(1)))(v =>
      VectorKernels.cosineF(ad(v(0)), ad(v(1)))),
  )

  private def frameOf(rows: Seq[Row]): DataFrame =
    // an RDD source, so the projection is compiled by whole-stage codegen
    // (a local Seq would be folded into a local relation)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** Catalyst values as comparable text (NaN equals NaN; arrays by element). */
  private def show(v: Any, dt: DataType): String = {
    def ext(x: Any): String = x match {
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(ext).mkString("[", ",", "]")
      case a => a.toString
    }
    ext(CatalystTypeConverters.createToScalaConverter(dt)(v))
  }

  private def literals(row: Row, f: Fn): Seq[Literal] =
    f.inputs.map(c => Literal.create(row.get(schema.fieldIndex(c)), schema(c).dataType))

  test("the table covers every bound kernel; with StrPairKernelSpec, all 54") {
    val pairs = Kernel.all.filter(_.variants.map(_.inputs) == Seq(Seq(StringType, StringType)))
    assert(pairs.size == 30)
    assert(fns.map(_.name).distinct.sorted == Kernel.all.diff(pairs).map(_.name).sorted)
    assert(Kernel.all.size == 54)
    // every variant of every kernel is exercised
    val called = fns.map(f => Kernel.byName(f.name)(literals(seeded.last, f) ++ f.args: _*))
      .map(e => e.kernel.variant(e.args, e.children.map(_.dataType)))
    assert(Kernel.all.diff(pairs).flatMap(_.variants).toSet == called.toSet)
  }

  test("kernel-direct, interpreted eval, whole-stage codegen and SQL agree on every function") {
    val frame = frameOf(seeded)
    withConf("spark.sql.codegen.fallback", "false") {
      val viaColumns = frame.select(col("id") +: fns.map(f => f.column(f.inputs.map(col))): _*)
      val java = codegenString(viaColumns.queryExecution.executedPlan)
      val types = viaColumns.schema.fields.tail.map(_.dataType)
      val codegen = viaColumns.collect().sortBy(_.getInt(0))
      frame.createOrReplaceTempView("kernel_inputs")
      registerAll(spark)
      val sqlFns = fns.zipWithIndex.filter(_._1.sql)
      def sqlArg(a: Any): String = a match { case s: String => s"'$s'"; case v => v.toString }
      val viaSql = spark.sql(sqlFns.map { case (f, _) =>
        (f.inputs ++ f.args.map(sqlArg)).mkString(s"${f.name}(", ", ", ")")
      }.mkString("SELECT id, ", ", ", " FROM kernel_inputs")).collect().sortBy(_.getInt(0))
      fns.zipWithIndex.foreach { case (f, i) =>
        val k = Kernel.byName(f.name)
        val v = Kernel.byName(f.name)(literals(seeded.head, f) ++ f.args: _*)
        val method = k.variants.find(_ == k.variant(f.args, v.children.map(_.dataType))).get.method
        assert(java.contains(s"${k.owner.getName}.$method("), s"${f.label} not in codegen")
        seeded.zipWithIndex.foreach { case (row, r) =>
          val ins = literals(row, f)
          val direct = if (ins.exists(_.value == null)) null else f.direct(ins.map(_.value))
          val expected = show(direct, types(i))
          val eval = k(ins ++ f.args: _*).eval(null)
          assert(show(eval, types(i)) == expected, s"${f.label} row $r: eval differs")
          assert(show(CatalystTypeConverters.convertToCatalyst(codegen(r).get(i + 1)), types(i)) ==
            expected, s"${f.label} row $r: codegen differs")
        }
      }
      sqlFns.zipWithIndex.foreach { case ((f, i), j) =>
        assert(viaSql.map(r => String.valueOf(r.get(j + 1))).toSeq ==
          codegen.map(r => String.valueOf(r.get(i + 1))).toSeq,
          s"${f.label}: SQL differs")
      }
    }
  }

  test("sql, toString, column name, type, nullability and values are the ones pinned") {
    val df = frameOf(fixed)
    val got = fns.map { f =>
      val d = df.select(f.column(f.inputs.map(col)))
      val e = d.queryExecution.analyzed.expressions.head.children.head
      val values = d.collect().map(r => String.valueOf(r.get(0))).mkString(",")
      f.label -> Seq(e.sql, e.toString.replaceAll("#\\d+", ""), d.columns.head,
        d.schema.head.dataType.catalogString, d.schema.head.nullable.toString,
        MessageDigest.getInstance("SHA-256").digest(values.getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString).mkString(" | ")
    }
    got.foreach { case (label, props) => assert(props == pinned(label), label) }
    assert(got.map(_._1).toSet == pinned.keySet)
  }

  test("every literal check names its function and parameter") {
    val bad: Map[String, Any] = Map("k" -> -1, "q" -> 4, "alpha" -> Double.PositiveInfinity,
      "beta" -> -1.0, "form" -> "NFX", "n" -> 9, "numHashes" -> 0, "shingleK" -> 0,
      "family" -> "fnv", "b" -> 7, "m" -> 0, "g" -> 0, "salt" -> 1, "planes" -> Seq("x"))
    val x = Literal("x")
    for (k <- Kernel.all; (p, i) <- k.params.zipWithIndex) {
      val args = k.params.map(q => q.default.getOrElse(good(q.name)))
      k(Seq.fill(k.arity)(x) ++ args: _*) // the good values pass
      val e = withClue(s"${k.name} ${p.name}: ")(intercept[IllegalArgumentException](
        k(Seq.fill(k.arity)(x) ++ args.updated(i, bad(p.name)): _*)))
      assert(e.getMessage == s"requirement failed: ${k.name}: ${p.name} must be ${p.rule}, got " +
        (bad(p.name) match { case s: String => s"'$s'"; case v => v }), e.getMessage)
    }
  }

  test("one type check words every kernel's expected inputs") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("i", "s")
    def mismatch(c: Column): String =
      intercept[AnalysisException](df.select(c).collect()).getMessage
    assert(mismatch(jaro_sim(col("s"), col("i")))
      .contains("jaro_sim requires (string, string) arguments, got (string, int)"))
    assert(mismatch(simhash64(col("i"))).contains("simhash64 requires (string) arguments, got (int)"))
    assert(mismatch(bbit_sig(col("s"), 8)).contains(
      "bbit_sig requires (array<bigint>) or (array<string>) arguments, got (string)"))
    assert(mismatch(minhash_sig(col("s"), 4, "sha256")).contains(
      "minhash_sig requires (array<string>) arguments, got (string)"))
  }

  test("a kernel entry survives Java serialization as the same instance") {
    val e = Kernel.clkBits(Literal("ab"), 64, 2, "salt")
    val bytes = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bytes).writeObject(e)
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[KernelExpression]
    assert(back.kernel eq Kernel.clkBits)
    assert(back == e)
    assert(show(back.eval(null), back.dataType) == show(e.eval(null), e.dataType))
  }
}

object KernelSpec {
  val schema: StructType = StructType(Seq(StructField("id", IntegerType),
    StructField("s", StringType), StructField("t", ArrayType(StringType)),
    StructField("xs", ArrayType(LongType)), StructField("hs", ArrayType(StringType)),
    StructField("p", ArrayType(LongType)), StructField("p2", ArrayType(LongType)),
    StructField("f", ArrayType(FloatType)), StructField("f2", ArrayType(FloatType))))

  /** Seeded rows over a small mixed alphabet (ASCII, space, newline,
    * Latin-1, a combining accent, two non-BMP code points), token arrays
    * with null elements, 16-lane signatures in both families, packed
    * words and float vectors; then an empty row and a null row. */
  val seeded: Seq[Row] = {
    val rnd = new scala.util.Random(42)
    val alphabet = Seq('a', 'b', 'c', ' ', '\n', 'é', 'ß', 'e', '\u0301').map(_.toInt) ++
      Seq(0x1F600, 0x10400)
    def s(): String = {
      val cps = Array.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.size)))
      new String(cps, 0, cps.length)
    }
    def maybe[A](a: => A): Any = if (rnd.nextInt(10) == 0) null else a
    def words(): Seq[Long] = Seq.fill(2)(rnd.nextLong())
    def vec(): Seq[Float] = Seq.fill(4)(rnd.nextFloat() - 0.5f)
    val rows = Seq.fill(40)(Row(maybe(s()),
      maybe(Seq.fill(rnd.nextInt(6))(if (rnd.nextInt(6) == 0) null else s())),
      maybe(Seq.fill(16)(rnd.nextLong())),
      maybe(Seq.fill(16)(f"${rnd.nextInt()}%08x")), maybe(words()), maybe(words()),
      maybe(vec()), maybe(vec())))
    (rows ++ Seq(Row("", Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
      Row(Seq.fill(8)(null): _*))).zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
  }

  /** A value that passes each literal parameter's check. */
  val good: Map[String, Any] = Map("k" -> 2, "q" -> 2, "alpha" -> 0.5, "beta" -> 0.5,
    "form" -> "NFC", "n" -> 2, "numHashes" -> 16, "shingleK" -> 3, "b" -> 8, "m" -> 64,
    "g" -> 2, "planes" -> Seq(Seq(1.0)))

  /** The rows the pinned properties are read over. */
  val fixed: Seq[Row] = Seq(
    Row(0, "Müller-Lüdenscheidt\nab ab\nab ab", Seq("the", "quick", null, "fox"),
      (1L to 16L).toSeq, (1 to 16).map(i => f"${i * 2654435761L}%08x"), Seq(3L, 5L),
      Seq(3L, 6L), Seq(1f, 2f, 3f, 4f), Seq(4f, 3f, 2f, 1f)),
    Row(1, "", Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
    Row(Seq(2) ++ Seq.fill(8)(null): _*))

  /** sql | toString | column name | type | nullable | sha256 of the values,
    * as the one-class-per-kernel expressions gave them. */
  val pinned: Map[String, String] = Map(
    "simhash64(s)" ->
      "simhash64(s) | simhash64(s) | simhash64(s) | bigint | true | 602b3f9b6739d080",
    "simhash60_sha(s)" ->
      "simhash60_sha(s) | simhash60_sha(s) | simhash60_sha(s) | bigint | true | cc60aba7e339b9aa",
    "repetition_counters(s)" ->
      "repetition_counters(s) | repetition_counters(s) | repetition_counters(s) | array<bigint> | true | 5df704bf8f023deb",
    "nysiis_key(s)" ->
      "nysiis_key(s) | nysiis_key(s) | nysiis_key(s) | string | true | c76836d7d0b9a9fc",
    "cologne_key(s)" ->
      "cologne_key(s) | cologne_key(s) | cologne_key(s) | string | true | 27063fb56bdd64a8",
    "metaphone_key(s)" ->
      "metaphone_key(s) | metaphone_key(s) | metaphone_key(s) | string | true | 8ff4911df2307548",
    "mra_codex(s)" ->
      "mra_codex(s) | mra_codex(s) | mra_codex(s) | string | true | d8229c4dc5f715c5",
    "min_kgram_hash(s, 3)" ->
      "min_kgram_hash(s) | min_kgram_hash(s, 3) | min_kgram_hash(s) | bigint | true | cd5914b3e9c9a351",
    "unicode_norm(s, NFKD)" ->
      "unicode_norm(s) | unicode_norm(s, NFKD) | unicode_norm(s) | string | true | 12c0b3135234a07e",
    "unicode_norm(s, NFC)" ->
      "unicode_norm(s) | unicode_norm(s, NFC) | unicode_norm(s) | string | true | 0f3e8961a52bd5cd",
    "strip_accents(s)" ->
      "strip_accents(s) | strip_accents(s) | strip_accents(s) | string | true | 585b3aece4338a66",
    "ngram_fingerprint(s, 2)" ->
      "ngram_fingerprint(s) | ngram_fingerprint(s, 2) | ngram_fingerprint(s) | string | true | ccadc678e11b1e58",
    "minhash_sig(t, 4, xxhash64)" ->
      "minhash_sig(t) | minhash_sig(t, 4, xxhash64) | minhash_sig(t) | array<bigint> | true | 4241a341581310b5",
    "minhash_sig(t, 3, sha256)" ->
      "minhash_sig(t) | minhash_sig(t, 3, sha256) | minhash_sig(t) | array<string> | true | e3e80ae79f2523fc",
    "minhash_sig_chars(s, 2, 4, xxhash64)" ->
      "minhash_sig_chars(s) | minhash_sig_chars(s, 2, 4, xxhash64) | minhash_sig_chars(s) | array<bigint> | true | 021a4ec83b50328d",
    "minhash_sig_chars(s, 3, 2, sha256)" ->
      "minhash_sig_chars(s) | minhash_sig_chars(s, 3, 2, sha256) | minhash_sig_chars(s) | array<string> | true | c201dd642473848c",
    "minhash_sig_oph(t, xxhash64)" ->
      "minhash_sig_oph(t) | minhash_sig_oph(t, xxhash64) | minhash_sig_oph(t) | array<bigint> | true | 221c4b68c9021fa5",
    "minhash_sig_oph(t, sha256)" ->
      "minhash_sig_oph(t) | minhash_sig_oph(t, sha256) | minhash_sig_oph(t) | array<string> | true | 6c4ee92a60af462d",
    "bbit_sig(xs, 8)" ->
      "bbit_sig(xs) | bbit_sig(xs, 8) | bbit_sig(xs) | array<bigint> | true | 66bd6dea0aeb69d7",
    "bbit_sig(hs, 16)" ->
      "bbit_sig(hs) | bbit_sig(hs, 16) | bbit_sig(hs) | array<bigint> | true | 5dff28a4f051722c",
    "bbit_match_count(p, p2, 8)" ->
      "bbit_match_count(p, p2) | bbit_match_count(p, p2, 8) | bbit_match_count(p, p2) | int | true | 9d3d7482d004eb5a",
    "bbit_jaccard_est(p, p2, 4)" ->
      "bbit_jaccard_est(p, p2) | bbit_jaccard_est(p, p2, 4) | bbit_jaccard_est(p, p2) | double | true | 1c8850ed2d073ad7",
    "clk_bits(s, 64, 2, )" ->
      "clk_bits(s) | clk_bits(s, 64, 2, ) | clk_bits(s) | array<int> | true | 595507a84e2af8c8",
    "clk_bits(s, 128, 3, pepper)" ->
      "clk_bits(s) | clk_bits(s, 128, 3, pepper) | clk_bits(s) | array<int> | true | 7029a18aee03d2c5",
    "clk_sig(s, 128, 3, )" ->
      "clk_sig(s) | clk_sig(s, 128, 3, ) | clk_sig(s) | array<bigint> | true | a6bd2c6757ceb18f",
    "bloom_dice(p, p2)" ->
      "bloom_dice(p, p2) | bloom_dice(p, p2) | bloom_dice(p, p2) | double | true | 0fb2025e2d73056c",
    "hyperplane_sig(f, planes(2))" ->
      "hyperplane_sig(f) | hyperplane_sig(f, ArraySeq(0.5, -0.25, 1.0, 0.125), ArraySeq(-1.0, 0.5, 0.25, 2.0)) | hyperplane_sig(f) | int | true | a7574ba7e2305af2",
    "vec_dot(f, f2)" ->
      "vec_dot(f, f2) | vec_dot(f, f2) | vec_dot(f, f2) | double | true | 07b106db043e9c5e",
    "vec_norm(f)" ->
      "vec_norm(f) | vec_norm(f) | vec_norm(f) | double | true | 0ded6c7361903d3d",
    "cosine_sim(f, f2)" ->
      "cosine_sim(f, f2) | cosine_sim(f, f2) | cosine_sim(f, f2) | double | true | aa3356af6baba3ee"
  )
}
