package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Zonal statistics — per-polygon aggregates of raster samples, the classic
  * raster × vector analytics operation (GDAL's `gdal_zonal_stats` /
  * rasterio's `zonal_stats` shape, re-expressed as a Spark plan).
  *
  * The raster side explodes each GeoTIFF into pixel-center points via the
  * `geotiff_pixels` geotransform bridge — a map-only amplification exactly
  * like the dup-span explode (`TrainingData.scala`), so it parallelizes per
  * raster file and shuffles only the grid-cell join key, never the payload.
  * The polygon side rides [[SpatialJoin.pointInPolygon]], whose
  * grid-equi-join prefilter + exact refine is the containment plan
  * shared with the spatial-join rule (`SpatialJoinRewrite.containment`);
  * the final groupBy is a plain hash aggregate on the zone key. No
  * pixel loops outside Spark tasks, no cartesian product — the same
  * candidate-pair discipline as every other join surface here.
  */
object ZonalStats {

  /** Per-zone stats of band-`band` pixels whose CENTER falls inside the
    * zone polygon (the rasterio `zonal_stats` default). `rasters` carries
    * a binary GeoTIFF `payload` column (plus any lineage columns);
    * `polygons` carries `zoneKey` and a WKB `geom`. Returns one row per
    * zone with n / sum / min / max / mean over all rasters. Zones with no
    * covered pixel are absent (inner-join semantics, as in rasterio).
    *
    * TILE PREFILTER (the 100 TB lever): before any pixel explodes, each
    * raster FILE's envelope — read from its geotransform header, no sample
    * decode — is covered with res-`res` grid cells and tested against the
    * zones' cell set (one tiny broadcast array) via `arrays_overlap`. A
    * raster no zone can claim is dropped at header cost: the per-pixel
    * amplification (the dominant term — 10^6+ rows per tile) never runs
    * for it. Conservative by construction: rasters whose covering
    * overflows the cell cap are kept, and the prefilter disables itself
    * entirely when any ZONE's covering overflows (an un-coverable zone
    * could otherwise lose pixels). ScalePlanSpec asserts the filter sits
    * below the pixel explode and that a zone-free raster feeds it zero
    * rows. */
  def zonal(rasters: DataFrame, polygons: DataFrame, zoneKey: String,
      band: Int = 0, res: Int = 10, payloadCol: String = "payload",
      polyGeom: String = "geom", prefilter: Boolean = true): DataFrame = {
    val zs = polygons.select(col(zoneKey), col(polyGeom))
    val kept =
      if (!prefilter) rasters
      else {
        // one aggregate subplan for both the zone cell set and the
        // oversized-zone flag (two separate 1-row aggregates cost two
        // extra broadcast stages per run — measured ~0.5s at gate scale)
        val zCover = cells_covering(col(polyGeom), lit(res))
        val zinfo = zs
          .select(zCover.as("__cs"), col(polyGeom).isNotNull.as("__nn"))
          .agg(
            array_distinct(flatten(collect_list(col("__cs")))).as("__zcells"),
            max(when(size(col("__cs")) === 0 && col("__nn"), 1).otherwise(0))
              .as("__zover"))
        // raster envelope from the header geotransform, as a WKT ring in
        // the exact arithmetic geotiff_pixels uses for pixel centers
        val m = geotiff_meta(col(payloadCol))
        val x0 = m.getField("origin_x")
        val y1 = m.getField("origin_y")
        val x1 = x0 + m.getField("width") * m.getField("px_scale_x")
        val y0 = y1 - m.getField("height") * m.getField("px_scale_y")
        def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
        val envWkt = concat(lit("POLYGON(("),
          pt(x0, y0), lit(","), pt(x1, y0), lit(","),
          pt(x1, y1), lit(","), pt(x0, y1), lit(","), pt(x0, y0), lit("))"))
        rasters
          .withColumn("__rcells", cells_covering(st_geomfromtext(envWkt), lit(res)))
          .crossJoin(broadcast(zinfo))
          .filter(col("__zover") === 1 || size(col("__rcells")) === 0 ||
            arrays_overlap(col("__rcells"), col("__zcells")))
          .drop("__rcells", "__zcells", "__zover")
      }
    val pts = kept
      .select(explode(geotiff_pixels(col(payloadCol), lit(band))).as("px"))
      .select(st_point(col("px.lon"), col("px.lat")).as("geom"),
        col("px.value").as("value"))
    SpatialJoin.pointInPolygon(pts, zs,
        res = res, pointGeom = "geom", polyGeom = polyGeom)
      .groupBy(col(zoneKey))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        avg(col("value")).as("mean"))
  }
}
