package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temporal (interval-overlap) candidate generation — the blocking family
  * for TEMPORAL record linkage: entities carry validity intervals
  * (person-at-address spans, account-active windows, sensor sessions) and
  * two records can only co-refer when their intervals overlap. Spark has
  * no native interval join; the naive θ-join (`a.start <= b.end AND
  * b.start <= a.end`) plans as a nested-loop cross product — quadratic in
  * the corpus, not in the answer. This is the bucketed equi-join
  * formulation: quantize each interval to the grid cells it touches,
  * explode to (cell, id) keys, and run the house equi-self-join with the
  * full 3-tier skew contract.
  *
  * Completeness: overlapping closed intervals share at least the point
  * p = max(start_a, start_b) ≤ min(end_a, end_b), and the grid cell
  * containing p is covered by BOTH intervals — so every true overlap pair
  * shares ≥ 1 key and survives to verification (before caps; the caps are
  * the same observable recall trade every house pair generator exposes).
  * Cells are exact long floor-divisions (no double arithmetic anywhere),
  * so the blocking is bit-deterministic.
  *
  * Cost: each record fans out to `len/bucketWidth + 1..2` cells — pick
  * `bucketWidth` near the median interval length so the fan-out is ~2 and
  * a cell holds ~concurrent records. A pair overlapping many cells meets
  * in each, which the pair `distinct` inside [[Linkage.candidatePairs]]
  * absorbs; the final verify re-joins bounds by id (equi-joins) and keeps
  * exact overlaps only.
  *
  * Bounds are LONGs in caller units (epoch micros via `unix_micros`,
  * days, versions — the operator never touches timestamp semantics, so
  * there is no timezone or calendar drift to pin). Rows with a NULL bound
  * or `end < start` define no interval and are excluded (documented, not
  * an error — at 10^12 rows a malformed minority must not kill the job;
  * count them with a `where` if the pipeline needs the number). */
object Temporal {

  /** (key, url) cell-membership frame of [[intervalCandidates]] — `key` is
    * `partitionCols.mkString(":") : cell`, `url` the record id (the
    * [[Linkage.candidatePairs]] input schema). */
  def intervalKeys(df: DataFrame, idCol: String, startCol: String,
      endCol: String, bucketWidth: Long,
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val s = col(startCol).cast("long")
    val e = col(endCol).cast("long")
    // cells are labeled by their bucket START: x − pmod(x, w) — exact
    // long arithmetic for any sign, NO division anywhere (long / long
    // is double division in Spark SQL, inexact past 2^53)
    def floorTo(x: Column): Column = x - pmod(x, lit(bucketWidth))
    val exploded = Seq(col(idCol).as("url"),
      explode(sequence(floorTo(s), floorTo(e), lit(bucketWidth)))
        .as("__cell")) ++ partitionCols.map(col)
    df.where(s.isNotNull && e.isNotNull && e >= s)
      .select(exploded: _*)
      .select(col("url"),
        concat_ws(":", partitionCols.map(col) :+ col("__cell"): _*)
          .as("key"))
  }

  /** Interval-overlap candidate pairs, verified exact: (id_a, id_b,
    * overlap) with id_a < id_b and `overlap` = min(end) − max(start) ≥ 0
    * (0 = the closed intervals touch at a point). `partitionCols` are
    * additional equality keys (tenant, entity type, user) ANDed into the
    * blocking — the usual way a 10^12-row event corpus keeps cells small.
    *
    * Scale shape: explode → [[Linkage.candidatePairs]] (cold / salted /
    * dropped tiers, pair distinct) → two id-keyed equi-joins against the
    * bounds → one codegen overlap filter. `dropped` is the
    * (key, bucket_n) cells over `hardCap`, from the sizes the pair tiers
    * route on — a dropped cell here means "too many concurrent intervals
    * at one grid slot", the temporal analogue of a stopword block. */
  def intervalCandidates(df: DataFrame, idCol: String, startCol: String,
      endCol: String, bucketWidth: Long, partitionCols: Seq[String] = Nil,
      bucketCap: Int = 200, hardCap: Int = 100000,
      saltGroups: Int = 16): Capped = {
    val keys = intervalKeys(df, idCol, startCol, endCol, bucketWidth,
      partitionCols)
    val s = col(startCol).cast("long")
    val e = col(endCol).cast("long")
    val bounds = df.where(s.isNotNull && e.isNotNull && e >= s)
      .select(col(idCol).as("__tid"), s.as("__ts"), e.as("__te"))
    Linkage.candidateCapped(keys, bucketCap, hardCap, saltGroups).map(_
      .join(bounds.select(col("__tid").as("url_a"), col("__ts").as("__sa"),
        col("__te").as("__ea")), "url_a")
      .join(bounds.select(col("__tid").as("url_b"), col("__ts").as("__sb"),
        col("__te").as("__eb")), "url_b")
      .where(col("__sa") <= col("__eb") && col("__sb") <= col("__ea"))
      .select(col("url_a").as("id_a"), col("url_b").as("id_b"),
        (least(col("__ea"), col("__eb")) -
          greatest(col("__sa"), col("__sb"))).as("overlap")))
  }

  /** Distributed point-in-time (as-of) join — for each probe row
    * (id, ts, …) attach the LATEST version of that entity with
    * version-ts <= probe-ts: the lookup every temporal-linkage pipeline
    * needs between [[scd2Intervals]] (which builds the versions) and
    * scoring (which must compare a record against the attribute values
    * that were CURRENT when the record was observed, not today's).
    * Spark has no native as-of join; the naive formulations are a range
    * θ-join (nested-loop, quadratic) or a per-probe max-subquery (one
    * aggregation + self-join per probe set). This is the union + single
    * entity-partitioned window formulation: tag versions kind=0 and
    * probes kind=1, union them, sort each entity's rows once by
    * (ts, kind), and let every probe pick up the last non-null version
    * struct at-or-before it — ONE shuffle keyed by entity id, one
    * in-partition sort, zero range join, cost O((|P|+|V|) log) per
    * entity regardless of how many versions precede each probe.
    *
    * Semantics (all pinned):
    *   - match rule: version.ts <= probe.ts, greatest version.ts wins
    *     (a probe AT a version's ts sees that version — closed lower
    *     bound, same as DuckDB/kdb as-of);
    *   - probes with no version at-or-before keep NULL payload +
    *     NULL matched ts (left-join shape, probe rows never drop, exact
    *     probe multiplicity preserved);
    *   - versions sharing one (id, ts) collapse deterministically to
    *     the greatest payload struct (field-order lexicographic max —
    *     put the version ordinal first in `payloadCols` and "greatest"
    *     means "latest version") via one map-side-combinable groupBy,
    *     so duplicate-keyed version history cannot make the answer
    *     partitioning-dependent;
    *   - version rows with NULL ts define no point in time → excluded;
    *     NULL-ts probes match nothing (NULL payload), pinned.
    *   - payload values may themselves be NULL: the window carries the
    *     whole version STRUCT (non-null whenever a version row exists),
    *     so a NULL attribute inside a version is faithfully returned,
    *     never skipped through to an older version.
    *
    * Output: every probe column unchanged, then `payloadCols`, then the
    * matched version timestamp as `asOfTsCol` (default `vTsCol`; rename
    * when it collides with a probe column — probe and payload names must
    * be disjoint, required below).
    *
    * 100 TB shape: the window partitions by entity id — entities are the
    * parallelism unit (the same contract as [[scd2Intervals]] /
    * Sessionize). A pathologically hot entity concentrates its probes in
    * one task; if one id carries a corpus-scale probe share, pre-split
    * probes by time range and union the per-range as-of results (the
    * window is prefix-computable), or broadcast that entity's version
    * list — both compose from this operator unchanged. */
  def asOfJoin(probes: DataFrame, probeIdCol: String, probeTsCol: String,
      versions: DataFrame, vIdCol: String, vTsCol: String,
      payloadCols: Seq[String], asOfTsCol: String = ""): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    val outTs = if (asOfTsCol.nonEmpty) asOfTsCol else vTsCol
    val probeCols = probes.columns.toSeq
    val clash = probeCols.toSet
    require(!payloadCols.exists(clash) && !clash.contains(outTs),
      s"probe columns ${probeCols.mkString(",")} must be disjoint from " +
        s"payload/as-of output columns")
    require(!payloadCols.contains(outTs),
      s"as-of output column '$outTs' must not also be a payload column " +
        "(the output would carry two columns with the same name)")
    // one (id, ts)-keyed version struct per point in time, pinned max
    val vd = versions.where(col(vTsCol).isNotNull)
      .groupBy(col(vIdCol).as("__id"), col(vTsCol).as("__ts"))
      .agg(max(struct(payloadCols.map(col): _*)).as("__p"))
      .select(col("__id"), col("__ts"),
        struct(col("__ts").as("__vts"), col("__p").as("__pp")).as("__v"))
    val vType = vd.schema("__v").dataType
    val pType = org.apache.spark.sql.types.StructType(
      probes.schema.fields)
    val vSide = vd.select(col("__id"), col("__ts"), lit(0).as("__k"),
      col("__v"), lit(null).cast(pType).as("__probe"))
    val pSide = probes.select(col(probeIdCol).as("__id"),
      col(probeTsCol).as("__ts"), lit(1).as("__k"),
      lit(null).cast(vType).as("__v"),
      struct(probeCols.map(col): _*).as("__probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__ts").asc, col("__k").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    vSide.unionByName(pSide)
      .withColumn("__last", last(col("__v"), ignoreNulls = true).over(w))
      .where(col("__k") === 1)
      .select(probeCols.map(c => col(s"__probe.`$c`").as(c)) ++
        payloadCols.map(c => col(s"__last.__pp.`$c`").as(c)) :+
        col("__last.__vts").as(outTs): _*)
  }

  /** SCD-2 validity-interval construction — master-data versioning from
    * raw observation history: given per-entity observations
    * (id, ts, attribute values), collapse CONSECUTIVE runs of identical
    * values into versions (id, values…, version, valid_from, valid_to)
    * where valid_from = the run's first observation timestamp, valid_to =
    * the next version's valid_from (NULL for the current version — the
    * open interval), version = 1-based change ordinal. The output feeds
    * [[intervalCandidates]] directly: temporal linkage wants versions,
    * not observations, and A-value → B-value → A-value history yields
    * THREE versions (this is run-length encoding over time, not a
    * group-by on values).
    *
    * Pinned order: observations sort by (ts, values… as strings) inside
    * the entity — simultaneous contradictory observations get a
    * deterministic order instead of a nondeterministic winner; exact
    * duplicate rows collapse into their run harmlessly. Null timestamps
    * are out of scope (excluded, pinned); null values participate as
    * values (a NULL-valued run is a version like any other).
    *
    * Scale shape: two windows (lag-change flag, running sum) and one
    * lead, ALL partitioned by entity id — entities are the parallelism
    * unit, nothing global; the groupBy is map-side combinable. */
  def scd2Intervals(obs: DataFrame, idCol: String, tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "need at least one tracked value column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__ts") +: valueCols.map(c => col(c).cast("string").asc): _*)
    val changed = valueCols.map(c =>
      !(col(c).cast("string") <=> lag(col(c).cast("string"), 1).over(w)))
      .reduce(_ || _)
    val versioned = obs
      .select(col(idCol).as("__id") +: col(tsCol).as("__ts") +:
        valueCols.map(col): _*)
      .where(col("__ts").isNotNull)
      .withColumn("__chg",
        when(lag(col("__ts"), 1).over(w).isNull || changed, 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    val runs = versioned
      .groupBy(col("__id") +: col("version") +: valueCols.map(col): _*)
      .agg(min(col("__ts")).as("valid_from"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wl))
      .select(col("__id").as(idCol) +: valueCols.map(col) :+
        col("version") :+ col("valid_from") :+ col("valid_to"): _*)
  }
}
