package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

import graft.strsim.StrSimKernels

/** Spark-free ns/pair table of the seven reference kernels, by script
  * (ASCII or not) and by length bucket, timed by hand (no JMH offline). */
object KernelTable {
  type Kernel = (UTF8String, UTF8String) => Double

  val kernels: Seq[(String, Kernel)] = Seq(
    "levenshtein" -> StrSimKernels.levenshtein,
    "damerau_levenshtein" -> StrSimKernels.damerauLevenshtein,
    "hamming" -> StrSimKernels.hamming,
    "jaro" -> StrSimKernels.jaro,
    "jaro_winkler" -> StrSimKernels.jaroWinkler,
    "jaccard" -> StrSimKernels.jaccard,
    "sorensen_dice" -> StrSimKernels.sorensenDice)

  /** Length buckets in code points: <= 8, 9-16, 17-32. */
  val buckets: Seq[(String, Int, Int)] =
    Seq(("short", 4, 8), ("mid", 9, 16), ("long", 17, 32))

  private val ascii = "abcdefghijklmnopqrstuvwxyz"
  // Latin-1, Latin Extended, Greek and Cyrillic letters: 2-byte UTF-8
  private val nonAscii = "áéíóúàèüöäßøçñłżšžœæαβγδλπσωжзлмнп"

  /** The kernels the reference vector file covers, under the slot names. */
  private val inVectorFile = Set("levenshtein", "jaro", "jaro_winkler", "jaccard", "sorensen_dice")

  /** Checks each slot against reference vectors (kernels the vector file
    * lacks against values worked out by hand). Returns the failures. */
  def checkSlots(vectorsCsv: String): Seq[String] = {
    val byName = kernels.toMap
    val rows = Files.readAllLines(Paths.get(vectorsCsv), StandardCharsets.UTF_8).asScala
      .drop(1).map(_.split(",", -1)).filter(_.length == 4)
    val fromFile = inVectorFile.toSeq.flatMap { slot =>
      // the distinctive rows: both strings non-empty and the score strictly
      // between 0 and 1, at most 25 per kernel (the file rounds to 8 decimals)
      rows.iterator.filter(r => r(0) == slot && r(1).nonEmpty && r(2).nonEmpty &&
        r(3).toDouble > 0 && r(3).toDouble < 1).take(25).map(r => (slot, r(1), r(2), r(3).toDouble))
    }
    val byHand = Seq(
      ("damerau_levenshtein", "ab", "ba", 0.5), // one transposition over length 2
      ("damerau_levenshtein", "ca", "abc", 1.0 - 2.0 / 3),
      ("hamming", "karolin", "kathrin", 1.0 - 3.0 / 7),
      ("hamming", "abc", "abcd", 0.75), // the extra code point counts as a mismatch
      ("levenshtein", "ab", "ba", 0.0))
    val checks = fromFile ++ byHand
    require(fromFile.map(_._1).distinct.size == inVectorFile.size,
      s"vector file lacks rows for some kernels: $vectorsCsv")
    checks.flatMap { case (slot, a, b, want) =>
      val got = byName(slot)(UTF8String.fromString(a), UTF8String.fromString(b))
      if (math.abs(got - want) <= 1e-8) None
      else Some(f"strsim slot $slot($a, $b) = $got%.12f, expected $want%.12f")
    }
  }

  /** `n` seeded pairs of one bucket: a random name and a copy with one or
    * two edits, as blocking hands the scorer near-matches. */
  def pairs(seed: Long, alphabet: String, lo: Int, hi: Int, n: Int): Array[(UTF8String, UTF8String)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n) {
      val len = lo + rnd.nextInt(hi - lo + 1)
      val a = Array.fill(len)(alphabet.charAt(rnd.nextInt(alphabet.length)))
      val b = a.clone()
      for (_ <- 0 to rnd.nextInt(2)) b(rnd.nextInt(len)) = alphabet.charAt(rnd.nextInt(alphabet.length))
      (UTF8String.fromString(new String(a)), UTF8String.fromString(new String(b)))
    }
  }

  private var sink = 0.0

  private def sweep(k: Kernel, ps: Array[(UTF8String, UTF8String)]): Long = {
    val t0 = System.nanoTime()
    var acc = 0.0
    var i = 0
    while (i < ps.length) { acc += k(ps(i)._1, ps(i)._2); i += 1 }
    sink += acc
    System.nanoTime() - t0
  }

  /** ns per pair for every (kernel, script, bucket) cell, as
    * `strsim.<kernel>.<ascii|nonascii>.<short|mid|long>.ns_per_pair`.
    * Each cell warms up for `warmMs`, then reports the fastest of `reps`
    * sweeps over the same pairs. */
  def run(seed: Long, tracer: Tracer, n: Int = 512, warmMs: Long = 60,
      reps: Int = 9): Seq[(String, Double)] = {
    val inputs = for {
      (script, alphabet) <- Seq("ascii" -> ascii, "nonascii" -> nonAscii)
      (bucket, lo, hi) <- buckets
    } yield (script, bucket, pairs(seed ^ (script.hashCode * 31L + bucket.hashCode), alphabet, lo, hi, n))
    for {
      (kname, k) <- kernels
      (script, bucket, ps) <- inputs
    } yield {
      val name = s"strsim.$kname.$script.$bucket.ns_per_pair"
      val best = tracer.span(name) {
        val warmEnd = System.nanoTime() + warmMs * 1000000L
        while (System.nanoTime() < warmEnd) sweep(k, ps)
        (1 to reps).map(_ => sweep(k, ps)).min
      }
      name -> best.toDouble / n
    }
  }

  /** Keeps the kernels' results observable so the JIT cannot drop them. */
  def checksum: Double = sink
}
