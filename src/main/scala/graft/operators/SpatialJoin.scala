package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{CellsCovering, CentroidX, CentroidY, GridCell,
  H3CellsCovering, H3OfGeom, SpatialJoinRewrite, StContains}

/** Spatial joins as candidate-pair plans: a cell equi-join prefilter
  * followed by an exact refine, so Catalyst plans a shuffled or broadcast
  * equi-join (AQE handles skewed cells) instead of a nested loop.
  *
  * Point-in-polygon ([[pointInPolygon]], [[pointInPolygonH3]]) uses the
  * containment decomposition of [[graft.functions.SpatialJoinRewrite]]
  * (`containment`), the same one a declarative `JOIN ON st_contains(…)`
  * gets. A point lives in exactly one cell; a polygon is replicated to
  * the cells covering its envelope, so every true containment pair
  * shares exactly one cell and no pair is produced twice. Resolution
  * trades polygon replication (finer → more copies) against candidate
  * precision (coarser → more false candidates to refine); res 10–12 suits
  * building/city-scale polygons.
  *
  * The distance joins ([[distanceJoin]], [[distanceJoinGeodetic]])
  * replicate one side to a bounded cell neighborhood instead.
  */
object SpatialJoin {

  /** Join `points` (WKB `geom`) with `polygons` (WKB `geom`) on the
    * res-`res` rect grid: one output row per (point, containing polygon),
    * with every point column followed by every polygon column. The
    * polygon geometry column is renamed to `__poly_geom`; the other
    * columns keep their names.
    *
    * Polygons whose envelope covers more cells than the covering cap
    * (country/continent scale — `cells_covering` returns an empty array
    * past its cap) cannot ride the grid prefilter; instead of silently
    * dropping them, they take a broadcast-refine branch: such polygons are
    * by nature few, so broadcasting them against the point side is the
    * scalable fallback. */
  def pointInPolygon(points: DataFrame, polygons: DataFrame, res: Int = 10,
      pointGeom: String = "geom", polyGeom: String = "geom"): DataFrame =
    // NO Scatter here (unlike the H3 variant): the rect-grid encode is
    // ~100ns/row, so repartitioning the WKB payloads costs more than the
    // single-task encode saves (measured j3 0.7 -> 1.9s with it at sf0.1)
    containment(points, polygons, pointGeom, polyGeom,
      g => GridCell(CentroidX(g), CentroidY(g), Literal(res)),
      g => CellsCovering(g, Literal(res)))

  /** [[pointInPolygon]] on the TRUE H3 lattice instead of the rect grid —
    * the same lattice as the reference's heatmap
    * (East-Asia-Building-Footprints.md:250-252), so a pipeline can bucket
    * its join and aggregate its heatmap on one cell id. Points map to
    * their res-`res` H3 cell, polygons to a grid-disk covering of their
    * envelope; polygons whose covering overflows the disk cap take the
    * same broadcast-refine branch. Same output columns. */
  def pointInPolygonH3(points: DataFrame, polygons: DataFrame, res: Int = 9,
      pointGeom: String = "geom", polyGeom: String = "geom"): DataFrame =
    // h3_of_geom is the fused kernel — one WKB decode + one H3 encode per
    // row (the separate centroid_y/centroid_x form decodes the geometry
    // twice, the dominant point-side cost), worth a Scatter at low split
    // counts
    containment(Scatter(points), Scatter(polygons), pointGeom, polyGeom,
      g => H3OfGeom(g, Literal(res)), g => H3CellsCovering(g, Literal(res)))

  /** Both point-in-polygon operators: the rule's containment plan over
    * the two inputs' analyzed plans. The polygon side is re-aliased
    * (fresh attribute ids, so inputs sharing a lineage still join) with
    * its geometry renamed. */
  private def containment(points: DataFrame, polygons: DataFrame,
      pointGeom: String, polyGeom: String, key: Expression => Expression,
      covering: Expression => Expression): DataFrame = {
    val spark = points.sparkSession
    val resolver = SQLConf.get.resolver
    val probe = points.queryExecution.analyzed
    val pG = probe.resolveQuoted(pointGeom, resolver).getOrElse(
      throw new IllegalArgumentException(s"points have no column $pointGeom"))
    val polys = polygons.queryExecution.analyzed
    val renamed = polys.output.map(a => Alias(a,
      if (resolver(a.name, polyGeom)) "__poly_geom" else a.name)())
    val cG = renamed.find(_.name == "__poly_geom").map(_.toAttribute)
      .getOrElse(throw new IllegalArgumentException(
        s"polygons have no column $polyGeom"))
    val container = Project(renamed, polys)
    // The coarse branch re-scans the ENTIRE point side — at corpus scale
    // the dominant table — so it is planned only when an oversized
    // polygon exists. Probing costs one polygon-side-only job (polygons
    // are the small input of a point-in-polygon join); paying it once
    // beats a second full point scan on every run.
    val coarse = !SparkInternals.ofRows(spark,
      SpatialJoinRewrite.oversized(container, cG, covering(cG))).isEmpty
    SparkInternals.ofRows(spark, SpatialJoinRewrite.containment(probe,
      container, cG, Seq(StContains(cG, pG)), Inner, key(pG), covering(cG),
      coarse))
  }

  /** Distance join (ST_DWithin): pairs of points within `radius` in the
    * coordinate plane. Grid width = radius, so a true pair's cells differ
    * by at most one step per axis: the left side keys on its own cell, the
    * right side replicates to its 3×3 cell neighborhood, the join is a
    * plain equality join on the cell id, and an exact distance filter
    * refines. Replication is a constant 9× on ONE side (the smaller —
    * callers pass it as `right`), never data-dependent; per-cell collision
    * cost is density-bounded the same way the polygon prefilter is. The
    * distance test is squared-comparison (no sqrt): `dx² + dy² ≤ r²` is
    * exact IEEE arithmetic an oracle can replay bit-for-bit. */
  def distanceJoin(left: DataFrame, right: DataFrame, radius: Double,
      leftX: String = "x", leftY: String = "y",
      rightX: String = "rx", rightY: String = "ry"): DataFrame = {
    require(radius > 0, s"radius must be positive: $radius")
    val l = left
      .withColumn("__cx", floor(col(leftX) / radius).cast("long"))
      .withColumn("__cy", floor(col(leftY) / radius).cast("long"))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))
      .toSeq: _*)
    val r = right
      .withColumn("__o", explode(offsets))
      .withColumn("__cx", floor(col(rightX) / radius).cast("long") + col("__o.dx"))
      .withColumn("__cy", floor(col(rightY) / radius).cast("long") + col("__o.dy"))
      .drop("__o")
    l.join(r, Seq("__cx", "__cy"))
      .filter((col(leftX) - col(rightX)) * (col(leftX) - col(rightX)) +
        (col(leftY) - col(rightY)) * (col(leftY) - col(rightY)) <= lit(radius * radius))
      .drop("__cx", "__cy")
  }

  /** Great-circle distance in METERS between two EPSG:4326 (lat, lon)
    * coordinate pairs — haversine on the mean-Earth sphere (R =
    * 6371008.8, the PostGIS ST_DistanceSphere radius). EXACTLY this
    * formula is the oracle-replay contract; keep it in lockstep with
    * [[graft.geom.GeomLib.haversine]] and the gate SQL. */
  def haversineMeters(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val sLat = sin(radians(lat2 - lat1) / 2)
    val sLon = sin(radians(lon2 - lon1) / 2)
    lit(2.0 * graft.geom.GeomLib.EarthRadiusM) * asin(sqrt(
      sLat * sLat + cos(radians(lat1)) * cos(radians(lat2)) * sLon * sLon))
  }

  /** GEODETIC distance join (ST_DWithin over meters on EPSG:4326
    * lon/lat): pairs within `radiusMeters` great-circle distance. The
    * planar [[distanceJoin]] is the wrong ruler on 4326 data — the
    * reference's own contract (east_asia.py:55,245-246) spans lat
    * 18–46°, where a longitude degree is 0.70–0.95× a latitude degree
    * and "within 2.5 km" in degrees is off by up to 40%.
    *
    * Grid shape: latitude bands of height `radius` (one degree of
    * latitude is a constant 111.19 km, so a true pair differs by at most
    * one band); within each band, longitude cells are stretched by
    * 1/cos(band's poleward edge, one band of slack, ×1.02 for the
    * asin-vs-linear excess), so a true pair also differs by at most one
    * lon cell IN THE MATCHED BAND'S QUANTIZATION — the right side
    * replicates to the 3×3 neighborhood computing the lon cell with each
    * TARGET band's own width. Bands whose edge reaches past 85° collapse
    * to one whole-ring cell (the polar caps hold negligible data; an
    * all-pairs refine inside a cap is bounded by the cap). Longitude
    * cells wrap modulo the ring, so anti-meridian pairs meet; the dx
    * offsets shrink when the ring has <3 cells so no pair is produced
    * twice. Replication stays a constant ≤9× on ONE side (pass the
    * smaller input as `right`) at every latitude — the same 100 TB shape
    * as the planar join. The refine (and any oracle) is
    * [[haversineMeters]]. */
  def distanceJoinGeodetic(left: DataFrame, right: DataFrame,
      radiusMeters: Double,
      leftLon: String = "x", leftLat: String = "y",
      rightLon: String = "rx", rightLat: String = "ry"): DataFrame =
    distanceJoinGeodeticCols(left, right, radiusMeters,
      col(leftLon), col(leftLat), col(rightLon), col(rightLat))

  /** [[distanceJoinGeodetic]] over arbitrary lon/lat COLUMN EXPRESSIONS
    * (e.g. `centroid_x(geom)`): each side's coordinates are projected
    * ONCE per input row before the band explode, so an expensive
    * coordinate expression (a WKB decode) is never re-evaluated per
    * candidate pair. This is the entry [[graft.functions
    * .SpatialJoinRewrite]] uses to decompose declarative
    * `st_dwithin_sphere` joins. */
  def distanceJoinGeodeticCols(left: DataFrame, right: DataFrame,
      radiusMeters: Double,
      leftLonC: Column, leftLatC: Column,
      rightLonC: Column, rightLatC: Column): DataFrame = {
    require(radiusMeters > 0, s"radius must be positive: $radiusMeters")
    val mPerDeg = graft.geom.GeomLib.EarthRadiusM * math.Pi / 180.0
    val h = radiusMeters / mPerDeg // band height in degrees
    require(h <= 10.0,
      s"radius $radiusMeters m spans ${h}° of latitude — beyond 10° the " +
        "band grid degenerates; use a coarser operator")
    // lon cell width for band b: one band of slack poleward (the pair's
    // other point may sit one band beyond), clamped at 85°, stretched by
    // 1.02 for the asin excess; past 85° the band is one whole-ring cell
    def bandW(cy: Column): Column = {
      val edge = (greatest(abs(cy), abs(cy + 1)) + lit(1L)).cast("double") * h
      when(edge >= 85.0, lit(360.0))
        .otherwise(lit(1.02 * h) / cos(radians(edge)))
    }
    // ring = FLOOR(360/w): the last cell widens to absorb the remainder
    // (a ceil ring leaves an EMPTY trailing cell, putting the two seam
    // cells 2 apart — anti-meridian pairs would be lost); the index is
    // clamped into that last cell so the seam neighbors are exactly
    // ring−1 and 0
    def ringOf(w: Column): Column =
      greatest(floor(lit(360.0) / w).cast("long"), lit(1L))
    def cellOf(lon: Column, w: Column, ring: Column): Column =
      least(floor((lon + 180.0) / w).cast("long"), ring - 1)
    val l = left
      .withColumn("__glon_l", leftLonC)
      .withColumn("__glat_l", leftLatC)
      .withColumn("__cy", floor(col("__glat_l") / h).cast("long"))
      .withColumn("__w", bandW(col("__cy")))
      .withColumn("__ring", ringOf(col("__w")))
      .withColumn("__cx",
        cellOf(col("__glon_l"), col("__w"), col("__ring")))
      .drop("__w", "__ring")
    val r = right
      .withColumn("__glon_r", rightLonC)
      .withColumn("__glat_r", rightLatC)
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__cy",
        floor(col("__glat_r") / h).cast("long") + col("__dy"))
      .drop("__dy")
      .withColumn("__w", bandW(col("__cy")))
      .withColumn("__ring", ringOf(col("__w")))
      // dx offsets shrink with the ring so a wrap never double-produces
      // a pair: ring 1 → {0}, ring 2 → {0,1}, else {-1,0,1}
      .withColumn("__dx", explode(
        when(col("__ring") >= 3, array(lit(-1L), lit(0L), lit(1L)))
          .when(col("__ring") === 2, array(lit(0L), lit(1L)))
          .otherwise(array(lit(0L)))))
      .withColumn("__cx", pmod(
        cellOf(col("__glon_r"), col("__w"), col("__ring")) + col("__dx"),
        col("__ring")))
      .drop("__dx", "__w", "__ring")
    l.join(r, Seq("__cy", "__cx"))
      .filter(haversineMeters(col("__glat_l"), col("__glon_l"),
        col("__glat_r"), col("__glon_r")) <= lit(radiusMeters))
      .drop("__cy", "__cx", "__glon_l", "__glat_l", "__glon_r", "__glat_r")
  }
}
