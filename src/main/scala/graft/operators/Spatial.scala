package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spatial (grid-cell) candidate generation — the 2-D analogue of
  * [[Temporal]]'s interval grid and the blocking family behind
  * venue/address/store linkage ("same business, two crawls"): records
  * carrying point coordinates pair iff they sit within a Chebyshev
  * radius of each other, without any quadratic step.
  *
  * Coordinates are INTEGER fixed-point (e.g. microdegrees) by contract,
  * not floating degrees: the cell id, the neighbor expansion, and the
  * distance verification are then all exact long arithmetic, so the
  * operator is bit-reproducible across engines and partitionings (the
  * house hash-gate discipline — a double `round(lat * 1e6)` would hang
  * replay equality on HALF_UP-vs-away rounding at the .5 boundary).
  * Metric refinement (true haversine km on the surviving, already-small
  * candidate set) composes downstream via
  * [[Comparators.haversineKm]]/[[Comparators.geoKmLevels]], which is
  * also where float tolerance is handled (integer gamma levels).
  *
  * Coverage guarantee: with `cellSize >= radius`, any two points at
  * Chebyshev distance ≤ radius sit in equal or king-move-adjacent
  * cells; each record emits its HOME cell plus the four FORWARD
  * neighbors (E, NE, N, NW) — the plane-sweep half-neighborhood — so
  * every such pair co-occurs in at least one emitted cell (the other
  * four directions are covered by the partner's forward set), at
  * replication 5 instead of the naive 3×3's 9. A pair can co-occur in
  * up to two cells; [[Linkage.candidatePairs]] ends in a pair
  * `distinct()`, which absorbs that.
  *
  * Scale shape: explode(5 cells) → [[Linkage.candidatePairs]] (cold /
  * salted / dropped tiers — a city-center cell with 10^6 venues routes
  * through the salted grid, never one reducer) → two id-keyed
  * equi-joins against the coordinates → one codegen Chebyshev filter.
  * The result's `dropped` lists the cells a finite `hardCap` cut — a
  * dropped cell is the spatial analogue of a stopword block.
  */
object Spatial {

  /** (key, url) cell-membership frame of [[gridCandidates]] — `key` is
    * `partitionCols.mkString(":") : cellLat : cellLon`, `url` the record
    * id (the [[Linkage.candidatePairs]] input schema). Cells are labeled
    * by their south-west corner (x − pmod(x, cellSize): exact long
    * arithmetic for any sign — no division, no doubles). */
  def gridKeys(df: DataFrame, idCol: String, latCol: String,
      lonCol: String, cellSize: Long,
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(cellSize >= 1, s"cellSize must be >= 1, got $cellSize")
    val la = col(latCol).cast("long")
    val lo = col(lonCol).cast("long")
    def floorTo(x: org.apache.spark.sql.Column) = x - pmod(x, lit(cellSize))
    // forward half-neighborhood: home, E, NE, N, NW (dLat, dLon)
    val offsets = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L), (1L, -1L))
    val cells = array(offsets.map { case (dla, dlo) =>
      struct((floorTo(la) + dla * cellSize).as("cla"),
        (floorTo(lo) + dlo * cellSize).as("clo"))
    }: _*)
    // \u0001 separator + explicit NULL encoding: concat_ws(":") silently
    // DROPS null partition values (aliasing (NULL,a) with (a)) and a ":"
    // inside a partition value could alias distinct (partition, cell)
    // combinations onto one key — either would let cross-partition pairs
    // through the "additional equality keys ANDed in" contract.
    val partKeyCols = partitionCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0001null")))
    df.where(la.isNotNull && lo.isNotNull)
      .select(col(idCol).as("url") +: explode(cells).as("__cell") +:
        partitionCols.map(col): _*)
      .select(col("url"),
        concat_ws("\u0001",
          partKeyCols :+ col("__cell.cla") :+ col("__cell.clo"): _*)
          .as("key"))
  }

  /** Chebyshev-radius candidate pairs, verified exact: (id_a, id_b,
    * d_chebyshev) with id_a < id_b and
    * `d_chebyshev` = max(|Δlat|, |Δlon|) ≤ radius, all in the integer
    * coordinate unit. `partitionCols` are additional equality keys
    * (country, category, tenant) ANDed into the blocking. `cellSize`
    * must be ≥ `radius` — that inequality IS the lossless-coverage
    * proof; smaller cells would need a wider neighbor ring. `dropped` is
    * the (key, bucket_n) cells over `hardCap`, from the sizes the pair
    * tiers route on. */
  def gridCandidates(df: DataFrame, idCol: String, latCol: String,
      lonCol: String, radius: Long, cellSize: Long,
      partitionCols: Seq[String] = Nil, bucketCap: Int = 200,
      hardCap: Int = 100000, saltGroups: Int = 16): Capped = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    require(cellSize >= radius,
      s"cellSize ($cellSize) must be >= radius ($radius) — the forward " +
        "half-neighborhood only covers king-move-adjacent cells")
    val keys = gridKeys(df, idCol, latCol, lonCol, cellSize, partitionCols)
    val pts = df
      .where(col(latCol).isNotNull && col(lonCol).isNotNull)
      .select(col(idCol).as("__gid"), col(latCol).cast("long").as("__gla"),
        col(lonCol).cast("long").as("__glo"))
    Linkage.candidateCapped(keys, bucketCap, hardCap, saltGroups).map(_
      .join(pts.select(col("__gid").as("url_a"), col("__gla").as("__laa"),
        col("__glo").as("__loa")), "url_a")
      .join(pts.select(col("__gid").as("url_b"), col("__gla").as("__lab"),
        col("__glo").as("__lob")), "url_b")
      .select(col("url_a").as("id_a"), col("url_b").as("id_b"),
        greatest(abs(col("__laa") - col("__lab")),
          abs(col("__loa") - col("__lob"))).as("d_chebyshev"))
      .where(col("d_chebyshev") <= radius))
  }
}
