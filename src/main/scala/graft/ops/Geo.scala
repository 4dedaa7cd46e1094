package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial primitives for pipeline-scale point data: a grid-bucketed
  * within-radius join, k-nearest-within-radius on top of it, great-circle
  * distance, and space-filling-curve cell ids for spatial clustering.
  *
  * Coordinates are INTEGER MICRO-DEGREES (1e-6 deg, the OSM/telemetry
  * wire convention): every distance predicate below is decided in exact
  * 64-bit integer arithmetic, so results are bit-stable across engines
  * and partitionings — no float epsilon at the radius boundary.
  *
  * Scale shape of [[gridRadiusJoin]] (the workhorse): points are hashed
  * into square cells of side = radius; the left side expands to its 3×3
  * cell neighborhood via a zero-shuffle Expand (explode of two 3-element
  * literal arrays), then ONE equi-shuffle join on the cell key and an
  * exact integer distance filter. Candidate pairs are bounded by
  * 9 × (per-cell occupancy)² — never all-pairs — and a hot cell (urban
  * density skew) is exactly the equi-join skew AQE's skew-join split
  * handles. |Δlat| ≤ r implies the cells differ by at most 1, so the 3×3
  * neighborhood covers every qualifying pair exactly once (the right
  * row's cell is unique, and the left row visits it once).
  */
object Geo {

  /** Floor division of an integral column by a positive literal step.
    * Spark's `div` truncates toward zero, which would fold the four
    * cells around the origin into one for negative coordinates; the
    * pmod form is exact everywhere. */
  private def floorDiv(c: Column, step: Long): Column =
    call_function("div", c - pmod(c, lit(step)), lit(step))

  /** All (left, right) pairs within `radiusMicro` planar micro-degrees
    * (L2). Both frames carry integer micro-degree columns `latCol` /
    * `lonCol`; right's are surfaced as `<latCol>_r` / `<lonCol>_r` and
    * the exact squared distance as `dist2`. Column names across the two
    * payloads must be disjoint (standard join hygiene). */
  def gridRadiusJoin(left: DataFrame, right: DataFrame,
      latCol: String, lonCol: String, radiusMicro: Long): DataFrame = {
    require(radiusMicro > 0, s"radiusMicro must be positive: $radiusMicro")
    val r = radiusMicro
    val l = left
      .withColumn("__dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__cell_lat", floorDiv(col(latCol), r) + col("__dlat"))
      .withColumn("__cell_lon", floorDiv(col(lonCol), r) + col("__dlon"))
      .drop("__dlat", "__dlon")
    val rt = right
      .withColumnRenamed(latCol, s"${latCol}_r")
      .withColumnRenamed(lonCol, s"${lonCol}_r")
      .withColumn("__cell_lat", floorDiv(col(s"${latCol}_r"), r))
      .withColumn("__cell_lon", floorDiv(col(s"${lonCol}_r"), r))
    val dLat = col(latCol) - col(s"${latCol}_r")
    val dLon = col(lonCol) - col(s"${lonCol}_r")
    l.join(rt, Seq("__cell_lat", "__cell_lon"))
      .withColumn("dist2", dLat * dLat + dLon * dLon)
      .filter(col("dist2") <= lit(r * r))
      .drop("__cell_lat", "__cell_lon")
  }

  /** k nearest right-side points within `radiusMicro` of each left point:
    * [[gridRadiusJoin]] then a per-left-key ROW_NUMBER over the exact
    * (dist2, tie-break id) order — the window partitioning reuses the
    * left key, so beyond the grid join this adds one sort, no new
    * shuffle topology. Ties at equal distance break on `rightIdCol`,
    * making the selection deterministic. */
  def knnWithinRadius(left: DataFrame, right: DataFrame,
      latCol: String, lonCol: String, radiusMicro: Long,
      leftKeyCol: String, rightIdCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val pairs = gridRadiusJoin(left, right, latCol, lonCol, radiusMicro)
    val w = Window.partitionBy(col(leftKeyCol))
      .orderBy(col("dist2"), col(rightIdCol))
    pairs.withColumn("knn_rank", row_number().over(w).cast("long"))
      .filter(col("knn_rank") <= k)
  }

  /** Great-circle (haversine) distance in METERS between two points given
    * in DEGREES, rounded to the nearest meter. Pure
    * `org.apache.spark.sql.functions` trigonometry — whole-stage
    * codegen, no UDF. The rounding face is deliberate: IEEE libm
    * implementations differ by ulps across engines; a meter is ~1e6
    * ulps of slack at earth scale. Mean earth radius 6 371 008.8 m
    * (IUGG). */
  def haversineMeters(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val toRad = lit(math.Pi / 180.0)
    val phi1 = lat1 * toRad
    val phi2 = lat2 * toRad
    val dPhi = (lat2 - lat1) * toRad
    val dLmb = (lon2 - lon1) * toRad
    val a = sin(dPhi / 2) * sin(dPhi / 2) +
      cos(phi1) * cos(phi2) * sin(dLmb / 2) * sin(dLmb / 2)
    val c = lit(2.0) * asin(sqrt(least(a, lit(1.0))))
    round(lit(6371008.8) * c).cast("long")
  }

  /** Spatial hotspot cells: each occupied grid cell's 3×3 NEIGHBORHOOD
    * density against the global cell average, decided by the exact
    * integer cross-multiplication
    *   S_c · n_cells · den  >  num · 9 · N_total
    * (the seasonalAnomaly rational-threshold discipline — no float at
    * the decision boundary). A simplified Getis-Ord-style statistic
    * over the OCCUPIED-cell population: empty cells contribute zero to
    * every neighborhood sum by construction.
    *
    * Plan: points collapse to cells in one groupBy (the only shuffle
    * that sees data volume); neighborhoods form on the CELLS frame —
    * aggregate-sized — via the same 3×3 Expand + equi-join as
    * [[gridRadiusJoin]]; global totals ride an explicit ONE-ROW
    * broadcast cross join (build side bounded by construction). Output:
    * (cell_lat, cell_lon, n, s_neigh, hot_micro, is_hot) with
    * hot_micro = S·n_cells·10^6 div (9·N) — exact nonnegative integer
    * division, identical in any engine. */
  def hotspotCells(points: DataFrame, latCol: String, lonCol: String,
      cellMicro: Long, factorNum: Long = 3L, factorDen: Long = 2L): DataFrame =
    hotspotFromCells(cellCounts(points, latCol, lonCol, cellMicro),
      factorNum, factorDen)

  /** The (cell_lat, cell_lon, n) per-cell count frame [[hotspotCells]]
    * tests — exposed because cell counts are the MONOID an incremental
    * pipeline persists: day-level cell states re-SUM into any window's
    * state without rescanning points (the hourCells/anomaly pattern). */
  def cellCounts(points: DataFrame, latCol: String, lonCol: String,
      cellMicro: Long): DataFrame = {
    require(cellMicro > 0, s"cellMicro must be positive: $cellMicro")
    points.groupBy(
        floorDiv(col(latCol), cellMicro).as("cell_lat"),
        floorDiv(col(lonCol), cellMicro).as("cell_lon"))
      .agg(count(lit(1)).as("n"))
  }

  /** Merge of cell-count states (set union + per-cell re-sum). */
  def mergeCellCounts(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeCellCounts needs at least one state")
    states.reduce(_.unionAll(_))
      .groupBy(col("cell_lat"), col("cell_lon")).agg(sum(col("n")).as("n"))
  }

  /** [[hotspotCells]]'s test over a pre-aggregated cells frame (columns:
    * cell_lat, cell_lon, n) — used directly by incremental callers whose
    * stored state IS this frame. */
  def hotspotFromCells(cellsIn: DataFrame,
      factorNum: Long = 3L, factorDen: Long = 2L): DataFrame = {
    require(factorNum > 0 && factorDen > 0 && factorNum >= factorDen,
      s"threshold factor must be a rational >= 1, got $factorNum/$factorDen")
    val cells = cellsIn
    val probes = cells
      .withColumn("__dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select((col("cell_lat") + col("__dlat")).as("__nl"),
        (col("cell_lon") + col("__dlon")).as("__nn"),
        col("cell_lat"), col("cell_lon"))
    val neigh = probes.join(
        cells.select(col("cell_lat").as("__nl"), col("cell_lon").as("__nn"),
          col("n").as("__cnt")),
        Seq("__nl", "__nn"))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(sum(col("__cnt")).as("s_neigh"))
    val totals = cells
      .agg(count(lit(1)).as("__ncells"), sum(col("n")).as("__ntot"))
    // DECIMAL(38,0) products: S·cells·10^6 passes int64 once cell and
    // row counts reach planet scale (the kappa/KS overflow lesson).
    // One-row totals ride an explicit broadcast cross join (allowlisted
    // in the plan audit — the nested loop's build side is 1 row).
    val dec = "decimal(38,0)"
    cells.join(neigh, Seq("cell_lat", "cell_lon"))
      .crossJoin(broadcast(totals))
      .select(col("cell_lat"), col("cell_lon"), col("n"), col("s_neigh"),
        call_function("div",
          col("s_neigh").cast(dec) * col("__ncells") * lit(1000000L),
          lit(9L) * col("__ntot").cast(dec)).as("hot_micro"),
        (col("s_neigh").cast(dec) * col("__ncells") * lit(factorDen) >
          lit(factorNum) * lit(9L) * col("__ntot").cast(dec)).as("is_hot"))
  }

  /** Point-in-convex-polygon test, exact: the polygon is given as
    * COUNTERCLOCKWISE integer micro-degree vertices; a point is inside
    * (boundary inclusive) iff every edge's 2D cross product
    * (b−a) × (p−a) is ≥ 0 — pure int64 arithmetic (coordinate spans
    * < ~3·10⁹ keep the products exact), one codegen'd conjunction per
    * point, zero shuffle: the geofence test runs at scan speed. Fails
    * loud on polygons under 3 vertices or clockwise winding (negative
    * shoelace area). */
  def pointInConvexPolygon(points: DataFrame, latCol: String, lonCol: String,
      vertices: Seq[(Long, Long)], outCol: String = "inside"): DataFrame = {
    require(vertices.size >= 3, s"polygon needs >= 3 vertices: ${vertices.size}")
    val shoelace = vertices.indices.map { i =>
      val (ax, ay) = vertices(i)
      val (bx, by) = vertices((i + 1) % vertices.size)
      ax * by - bx * ay
    }.sum
    require(shoelace > 0,
      s"vertices must wind counterclockwise (shoelace $shoelace <= 0)")
    val p = (col(latCol), col(lonCol))
    val inside = vertices.indices.map { i =>
      val (ax, ay) = vertices(i)
      val (bx, by) = vertices((i + 1) % vertices.size)
      (lit(bx - ax) * (p._2 - lit(ay)) - lit(by - ay) * (p._1 - lit(ax))) >= 0L
    }.reduce(_ && _)
    points.withColumn(outCol, inside)
  }

  /** Cell index packed into one long — offset-shifted so negative
    * indices pack cleanly; fails loud past ±2^20 cells (a 2-meter grid
    * still spans the planet inside that). */
  private def packCell(la: Column, lo: Column): Column = {
    val bound = 1L << 20
    val guard = abs(la) >= bound || abs(lo) >= bound
    when(guard, raise_error(concat(lit("cell index beyond packable range: "),
      la.cast("string"), lit(","), lo.cast("string"))).cast("long"))
      .otherwise((la + lit(bound)) * lit(1L << 21) + (lo + lit(bound)))
  }

  /** Grid-DBSCAN (the cell-level formulation — CLIQUE/GriDBSCAN family):
    * a cell is DENSE when it holds ≥ minPts points; dense cells that are
    * 8-neighbors belong to one cluster; the cluster id is the MINIMUM
    * packed cell id of the component — a pure function of the data, so
    * labels are engine- and partitioning-independent (the dedup_clusters
    * discipline). Sparse cells are noise and are not emitted.
    *
    * Scale shape: points → cells is the only data-volume shuffle; the
    * dense-cell graph is aggregate-sized, its edges come from the same
    * 3×3 Expand + equi-join as [[gridRadiusJoin]], and components run
    * pointer-jumping in O(log diameter) rounds
    * ([[graft.ext.Dedup.components]] — one action per round,
    * edge-count-sized reducers, reliable checkpoints). Output:
    * (cell_lat, cell_lon, n, cluster_id), isolated dense cells as their
    * own singleton cluster. */
  def dbscanCells(points: DataFrame, latCol: String, lonCol: String,
      cellMicro: Long, minPts: Long): DataFrame =
    dbscanFromCells(cellCounts(points, latCol, lonCol, cellMicro), minPts)

  /** [[dbscanCells]] over a pre-aggregated cells frame (columns:
    * cell_lat, cell_lon, n) — the face incremental/streaming callers
    * run over merged stored cell-count state (the same state the
    * hotspot gate persists serves both tests).
    *
    * EAGER: unlike the rest of Geo this runs Spark jobs at
    * DataFrame-CONSTRUCTION time (the pointer-jumping component loop
    * in `Dedup.components` counts and checkpoints per round), so it
    * must not be embedded in an analysis-time path such as a SQL TVF
    * builder — keep it off the `GraftExtensions` table registry unless
    * converted to a lazy formulation. */
  def dbscanFromCells(cells: DataFrame, minPts: Long): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val dense = cells
      .filter(col("n") >= minPts)
      .withColumn("__id", packCell(col("cell_lat"), col("cell_lon")))
    val probes = dense
      .withColumn("__dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select((col("cell_lat") + col("__dlat")).as("__nl"),
        (col("cell_lon") + col("__dlon")).as("__nn"),
        col("__id").as("a_id"))
    val pairs = probes.join(
        dense.select(col("cell_lat").as("__nl"), col("cell_lon").as("__nn"),
          col("__id").as("b_id")),
        Seq("__nl", "__nn"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val comps = graft.ext.Dedup.components(pairs)
      .select(col("doc_id").as("__id"), col("cluster_id").as("__comp"))
    dense.join(comps, Seq("__id"), "left")
      .select(col("cell_lat"), col("cell_lon"), col("n"),
        coalesce(col("__comp"), col("__id")).as("cluster_id"))
  }

  /** Z-order (Morton) cell id of a point at `bits` bits per axis:
    * latitude quantized over [-90, 90), longitude over [-180, 180),
    * bits interleaved with longitude in the higher (odd) positions —
    * the geohash bit layout. Built as a closed-form integer sum of
    * shift/mask terms (whole-stage codegen'd, engine-portable — no
    * loop, no UDF): spatially near points share cell prefixes, so a
    * groupBy/sort on the cell id is a spatial clustering. `bits` ≤ 26
    * keeps lat and lon quanta and the interleave inside a long. */
  def mortonCellId(latDeg: Column, lonDeg: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 26, s"bits per axis must be in [1,26]: $bits")
    val n = 1L << bits
    // quantize: floor((deg - lo) / span * n), clamped to [0, n-1]
    def quant(c: Column, lo: Double, span: Double): Column =
      least(greatest(floor((c - lit(lo)) / lit(span) * lit(n.toDouble)), lit(0.0)), lit((n - 1).toDouble))
        .cast("long")
    val latQ = quant(latDeg, -90.0, 180.0)
    val lonQ = quant(lonDeg, -180.0, 360.0)
    (0 until bits).map { k =>
      (shiftright(latQ, k).bitwiseAND(lit(1L)) * lit(1L << (2 * k))) +
        (shiftright(lonQ, k).bitwiseAND(lit(1L)) * lit(2L << (2 * k)))
    }.reduce(_ + _)
  }
}
