package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An operator's output and the record of what its cap dropped, from one
  * call. `dropped` filters `n > cap` over the sizing frame the operator
  * routes on (for [[Tiers]] operators, the bucket sizes that
  * [[Tiers.capped]], [[Tiers.pairs]] or [[Tiers.probe]] builds once and
  * routes on), so reading it re-runs none of the keying. */
final case class Capped(out: DataFrame, dropped: DataFrame) {
  /** The same drop record under a further transform of `out`. */
  def map(f: DataFrame => DataFrame): Capped = copy(out = f(out))
}

/** The three-tier blocking policy every symmetric blocking self-join
  * shares. Members sharing a key form a bucket; a bucket of n members
  * holds n(n−1)/2 pairs, and web blocking keys are Zipfian, so each
  * bucket is routed by its size n:
  *
  *  1. n ≤ `bucketCap` — cold: plain equi-self-join on the key (AQE
  *     skew-join splits residual stragglers);
  *  2. `bucketCap` < n ≤ `hardCap` — salted: fragment-replicate grid
  *     self-join ([[saltedSelfJoin]]), so a hot bucket's quadratic pair
  *     work shards across G(G+1)/2 reducers (G = `saltGroups`) instead of
  *     landing on one, losslessly;
  *  3. n > `hardCap` — dropped, never silently (an ultra-hot key
  *     carries no discriminative signal and would emit ~n²/2 junk pairs).
  *     Operators default `hardCap` to `Int.MaxValue` where dropping is
  *     opt-in.
  *
  * Operators whose policy is a single cap (LSH band caps) keep tiers 1
  * and 3 only: [[pairs]] with `hardCap = bucketCap`, or [[capped]].
  *
  * Asymmetric joins (a probe frame against an inverted index) route on
  * the INDEX side's key sizes only, with the same three tiers:
  * [[probe]]. Salting — the id-hash salt and its G-way replication —
  * happens in this module and nowhere else.
  *
  * [[capped]], [[pairs]] and [[probe]] are the three entry points. Each
  * builds [[sizes]] once and returns [[Capped]], whose `dropped` is the
  * (keys…, n) buckets over the cap, from the sizes it routed on.
  *
  * Bucket sizing is a groupBy (map-side partial combine) plus a join-back,
  * never a window count: a window buffers each key's rows in one
  * unsplittable task — a straggler on exactly the hot keys this policy
  * exists for — while the join-back is a plain equi-join AQE can
  * skew-split. `members` feeds both the sizing aggregate and the
  * join-back, so callers pass it through [[Frames.shared]] when it is
  * expensive to derive.
  */
private[operators] object Tiers {

  /** (keys…, n): the member count of every bucket. */
  def sizes(members: DataFrame, keys: Seq[String]): DataFrame =
    members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))

  /** Members of buckets with n ≤ `cap`, joined with their size `n`; the
    * (keys…, n) buckets with n > `cap` are `dropped`. */
  def capped(members: DataFrame, keys: Seq[String], cap: Int): Capped = {
    val sized = sizes(members, keys)
    Capped(members.join(sized.where(col("n") <= cap), keys),
      sized.where(col("n") > cap))
  }

  /** The tier boundaries on a bucket size `n`, stated once for [[pairs]],
    * [[probe]] and [[Linkage.blockingProfile]]: cold n ≤ min(`bucketCap`,
    * `hardCap`); salted `bucketCap` < n ≤ `hardCap` (empty when `hardCap` ≤
    * `bucketCap`); dropped n > `hardCap`. Each bucket is in exactly one. */
  def isCold(n: Column, bucketCap: Int, hardCap: Int): Column = n <= math.min(bucketCap, hardCap)
  def isSalted(n: Column, bucketCap: Int, hardCap: Int): Column = n > bucketCap && n <= hardCap
  def isDropped(n: Column, hardCap: Int): Column = n > hardCap

  /** Canonical pairs (`<id>_a` < `<id>_b`) of members sharing a bucket, one
    * row per pair per shared bucket, cold and salted tiers unioned. Each
    * `payload` column rides along as `<p>_a`/`<p>_b`, aligned with the
    * pair's sides. Cold takes n ≤ min(`bucketCap`, `hardCap`), so no pair
    * ever comes from a bucket `dropped` reports; when `hardCap` ≤
    * `bucketCap` the salted tier is provably empty and is left out of the
    * plan. `dropped` is the (keys…, n) buckets with n > `hardCap`.
    *
    * `sized` routes on bucket sizes computed from another frame (callers
    * that prune members before pairing but keep the tier of every bucket);
    * its size column must be named `n`, which may itself be a payload.
    * `dropped` then reads `sized` too, the sizes the tiers were cut on. */
  def pairs(members: DataFrame, keys: Seq[String], id: String,
      bucketCap: Int, hardCap: Int, saltGroups: Int,
      payload: Seq[String] = Nil, sized: Option[DataFrame] = None): Capped = {
    val bucketSizes = sized.getOrElse(sizes(members, keys))
    val keyed = members.join(bucketSizes, keys)
    val n = col("n")
    val cols = id +: payload
    def side(s: String) = keyed.where(isCold(n, bucketCap, hardCap))
      .select(keys.map(col) ++ cols.map(c => col(c).as(s"${c}_$s")): _*)
    val cold = side("a").join(side("b"), keys)
      .where(col(s"${id}_a") < col(s"${id}_b"))
      .select(cols.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
    val out = if (hardCap <= bucketCap) cold
      else cold.union(saltedSelfJoin(
        keyed.where(isSalted(n, bucketCap, hardCap)),
        keys, id, payload, saltGroups))
    Capped(out, bucketSizes.where(isDropped(n, hardCap)))
  }

  /** Probe rows joined with the index members sharing their key, one row
    * per (probe, index member, shared key): (keys…, `probeId`, `indexId`,
    * `probePayload`…). Only the index side is sized ([[sizes]] per key),
    * and each key is routed by its index size n:
    *
    *  1. n ≤ min(`bucketCap`, `hardCap`) — cold: plain equi-join;
    *  2. `bucketCap` < n ≤ `hardCap` — salted: index rows take the salt
    *     pmod(xxhash64(id), G), probe rows are replicated G ways
    *     (G = `saltGroups`), and the join is on (keys, salt), so a hot
    *     key's probe × index work spreads over G reducers, losslessly;
    *     when `hardCap` ≤ `bucketCap` this tier is left out of the plan;
    *  3. n > `hardCap` — dropped: the returned record is the (keys…, n)
    *     index buckets over `hardCap`.
    *
    * `indexId` and `probeId` must differ. Callers dedup (a pair sharing
    * several keys repeats) and verify. */
  def probe(index: DataFrame, probes: DataFrame, keys: Seq[String],
      indexId: String, probeId: String, bucketCap: Int, hardCap: Int,
      saltGroups: Int, probePayload: Seq[String] = Nil): Capped = {
    require(indexId != probeId, s"index and probe ids share the name $indexId")
    val sized = sizes(index, keys)
    val keyed = index.join(sized, keys)
    val n = col("n")
    val out = (keys ++ Seq(probeId, indexId) ++ probePayload).map(col)
    val cold = keyed.where(isCold(n, bucketCap, hardCap))
      .join(probes, keys).select(out: _*)
    val joined = if (hardCap <= bucketCap) cold else {
      val hot = isSalted(n, bucketCap, hardCap)
      val idx = keyed.where(hot)
        .withColumn("__salt", pmod(xxhash64(col(indexId)), lit(saltGroups)))
      val prb = probes.join(sized.where(hot).select(keys.map(col): _*), keys)
        .select((keys ++ (probeId +: probePayload)).map(col) :+
          explode(array((0 until saltGroups).map(g => lit(g)): _*))
            .as("__salt"): _*)
      cold.unionAll(idx.join(prb, keys :+ "__salt").select(out: _*))
    }
    Capped(joined, sized.where(isDropped(n, hardCap)))
  }

  /** Salted (fragment-replicate grid) self-join: member u of bucket k with
    * salt g = hash(u) mod G is replicated to grid cells (k, g, j≥g) on the
    * left and (k, i≤g, g) on the right; cell (k, i, j) joins fragment i ×
    * fragment j, so each unordered pair meets in exactly one cell and the
    * bucket's n²/2 work spreads over G(G+1)/2 reducers at replication
    * cost G. Equi-join on the salted composite key — no reducer ever sees
    * a whole hot bucket. Payload is replicated G × per member, which beats
    * re-deriving or re-joining the value per side afterwards for scalars
    * and short vectors. */
  private def saltedSelfJoin(hot: DataFrame, keys: Seq[String], id: String,
      payload: Seq[String], saltGroups: Int): DataFrame = {
    val (ia, ib) = (s"${id}_a", s"${id}_b")
    val g = pmod(xxhash64(col(id)), lit(saltGroups)).cast("int")
    val left = hot.select(keys.map(col) ++ Seq(col(id), g.as("__g")) ++
        payload.map(p => col(p).as(s"${p}_a")): _*)
      .withColumn("__j", explode(sequence(col("__g"), lit(saltGroups - 1))))
      .select(keys.map(col) ++ Seq(col("__g").as("__gi"), col("__j").as("__gj"),
        col(id).as(ia)) ++ payload.map(p => col(s"${p}_a")): _*)
    val right = hot.select(keys.map(col) ++ Seq(col(id), g.as("__g")) ++
        payload.map(p => col(p).as(s"${p}_b")): _*)
      .withColumn("__i", explode(sequence(lit(0), col("__g"))))
      .select(keys.map(col) ++ Seq(col("__i").as("__gi"), col("__g").as("__gj"),
        col(id).as(ib)) ++ payload.map(p => col(s"${p}_b")): _*)
    val swap = col(ia) > col(ib)
    left.join(right, keys ++ Seq("__gi", "__gj"))
      // same-fragment cell (i == j) holds both sides of every intra-fragment
      // pair: order by id; cross-fragment pairs meet exactly once
      .where((col("__gi") =!= col("__gj") && col(ia) =!= col(ib)) ||
        col(ia) < col(ib))
      .select(least(col(ia), col(ib)).as(ia) +:
        greatest(col(ia), col(ib)).as(ib) +:
        payload.flatMap(p => Seq(
          when(swap, col(s"${p}_b")).otherwise(col(s"${p}_a")).as(s"${p}_a"),
          when(swap, col(s"${p}_a")).otherwise(col(s"${p}_b")).as(s"${p}_b"))): _*)
  }
}
