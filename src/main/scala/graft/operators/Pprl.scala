package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy-preserving record linkage over CLK Bloom filters
  * ([[graft.functions.clk_sig]]): blocking and two-table comparison that
  * never touch the raw identifiers — the linkage unit sees only packed
  * bitsets.
  *
  * Blocking is Hamming-LSH BIT SAMPLING (Durham 2012, the standard CLK
  * blocking scheme): each of `bands` keys concatenates the filter's bits
  * at `bitsPerBand` deterministically sampled positions; two records
  * share a key for band b iff their filters agree on ALL of band b's
  * sampled bits, so near-identical filters (high Dice) collide with high
  * probability in at least one band while the corpus never pays an
  * all-pairs comparison. The positions are plan-time constants (seeded
  * splitmix64), exposed via [[samplePositions]] so a SQL oracle can
  * inline them as literals and re-derive the exact keys. */
object Pprl {

  /** Deterministic sampled bit positions: `bands` bands × `bitsPerBand`
    * DISTINCT positions in [0, m), drawn from splitmix64(seed, band,
    * draw). Distinct within a band (a repeated position would waste a
    * bit of selectivity); bands may overlap — independence across bands
    * is the point of banding, not disjointness. */
  def samplePositions(m: Int, bands: Int, bitsPerBand: Int,
      seed: Long): Array[Array[Int]] = {
    require(bitsPerBand <= m, s"bitsPerBand ($bitsPerBand) must be <= m ($m)")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(bands) { b =>
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      var draw = 0
      while (picked.size < bitsPerBand) {
        picked += (((mix(seed ^ mix(b * 1000003L + draw)) >>> 1) % m).toInt)
        draw += 1
      }
      picked.toArray
    }
  }

  /** Bit p of a packed filter column (array of m/64 longs, bit p stored
    * in word p >> 6 at offset p & 63) — a pure codegen projection. */
  private def bitAt(sig: Column, p: Int): Column =
    shiftright(element_at(sig, p / 64 + 1), p % 64).bitwiseAND(lit(1L))

  /** (id, key) blocking rows from packed CLK filters: key b is
    * "b:" ++ the band's sampled bits as a 0/1 string. One projection +
    * one explode — no shuffle until the caller's candidate join. */
  def blockKeys(encoded: DataFrame, idCol: String, sigCol: String,
      m: Int, bands: Int = 8, bitsPerBand: Int = 16,
      seed: Long = 42L): DataFrame = {
    val pos = samplePositions(m, bands, bitsPerBand, seed)
    val keyCols = pos.zipWithIndex.map { case (ps, b) =>
      concat((lit(s"$b:") +: ps.map(p =>
        bitAt(col(sigCol), p).cast("string"))): _*).as(s"band$b")
    }
    encoded.select(col(idCol).as("id") +: keyCols.toSeq: _*)
      .select(col("id"),
        explode(array((0 until bands).map(b => col(s"band$b")): _*)).as("key"))
  }

  /** Two-table PPRL linkage: encode-side inputs are (id, packed CLK)
    * frames; candidates share at least one sampled-bit band key; each
    * candidate pays ONE popcount Dice; pairs with dice >= theta survive.
    * Output: (id_a, id_b, dice). The comparison never sees an
    * identifier — this is the computation a PPRL linkage unit runs.
    * Hot band keys (e.g. the all-zeros key on sparse filters) are capped
    * observably via `bucketCap`, mirroring every other pair generator's
    * contract: `dropped` is the (side, key, n) keys over the cap on
    * EITHER side. */
  def linkTables(a0: DataFrame, b0: DataFrame, idCol: String, sigCol: String,
      m: Int, theta: Double, bands: Int = 8, bitsPerBand: Int = 16,
      seed: Long = 42L, bucketCap: Int = 10000): Capped = {
    // each side's (id, CLK) frame feeds its band keys AND the Dice join
    val a = Frames.shared(a0)
    val b = Frames.shared(b0)
    // each side's band keys feed the sizing aggregate AND the join-back
    val ka = Frames.shared(blockKeys(a, idCol, sigCol, m, bands, bitsPerBand,
      seed))
    val kb = Frames.shared(blockKeys(b, idCol, sigCol, m, bands, bitsPerBand,
      seed))
    val ca = Tiers.capped(ka, Seq("key"), bucketCap)
    val cb = Tiers.capped(kb, Seq("key"), bucketCap)
    val cand = ca.out.select(col("key"), col("id").as("id_a"))
      .join(cb.out.select(col("key"), col("id").as("id_b")), "key")
      .select(col("id_a"), col("id_b")).distinct()
    Capped(cand
      .join(a.select(col(idCol).as("id_a"), col(sigCol).as("__sa")), "id_a")
      .join(b.select(col(idCol).as("id_b"), col(sigCol).as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.bloom_dice(col("__sa"), col("__sb")).as("dice"))
      .where(col("dice") >= theta),
      ca.dropped.select(lit("a").as("side"), col("key"), col("n"))
        .union(cb.dropped.select(lit("b").as("side"), col("key"), col("n"))))
  }
}
