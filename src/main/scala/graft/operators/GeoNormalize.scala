package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.functions.GraftFunctions._

/** The reference's `extract()` pipeline (east_asia.py:96-283) as one
  * declarative DataFrame program, plus the ZSTD/Hilbert Parquet write
  * contract shared by every reference sink (§1.3 of SURVEY.md).
  *
  * Differences from the reference mechanics (same capability, SURVEY.md §7.5):
  * heterogenous 2D/3D inputs are normalized per-row (`st_force2d`) instead of
  * per-file fallback; reprojection is the in-engine `st_transform` instead of
  * an ogr2ogr subprocess; the flip probe is a 1-row aggregate collect.
  */
object GeoNormalize {

  /** Discover the geometry column like the reference's
    * `DESCRIBE FROM ST_READ(...) LIMIT 1` probe (east_asia.py:145-161):
    * prefer conventional names, else the first binary column. */
  def findGeomColumn(df: DataFrame): Option[String] = {
    val binCols = df.schema.fields.filter(_.dataType == BinaryType).map(_.name)
    binCols.find(_.equalsIgnoreCase("geom"))
      .orElse(binCols.find(_.equalsIgnoreCase("shape")))
      .orElse(binCols.headOption)
  }

  /** Normalize one source table of WKB geometry + attributes:
    *  1. force 3D shapes to 2D (subsumes the reference's Python fallback F6)
    *  2. drop non-core-7 / broken / null geometries (P3, P4, P5)
    *  3. reproject `srcEpsg` → EPSG:4326 (G4)
    *  4. repair flipped lat-lon sources when MIN(ST_XMin) < 60 (F7 heuristic,
    *     east_asia.py:239)
    * Attribute columns ride along untouched (ORNL `* EXCLUDE(Shape)` shape,
    * ORNL-FEMA-Buildings.md:79-80). Returns the normalized frame with the
    * geometry in a `geom` column.
    */
  def normalize(df: DataFrame, srcEpsg: Int = 4326, flipProbe: Boolean = true): DataFrame = {
    val geomCol = findGeomColumn(df).getOrElse(
      throw new IllegalArgumentException("no binary geometry column found"))
    val attrs = df.columns.filter(_ != geomCol).map(col).toSeq

    val transformed =
      if (srcEpsg == 4326) (c: Column) => c
      else (c: Column) => st_transform(c, lit(srcEpsg), lit(4326))
    val flat = df
      .withColumn("__g", st_force2d(col(geomCol)))
      .filter(col("__g").isNotNull && wkb_shape_type(col("__g")) < 8)
      .withColumn("__g", transformed(col("__g")))
      .filter(centroid_x(col("__g")).isNotNull && centroid_y(col("__g")).isNotNull)

    val repaired =
      if (!flipProbe) flat
      else {
        // probe-before-plan (east_asia.py:195-239): cheap 1-row aggregate
        // decides whether the whole source is lat-lon flipped
        val minX = flat.agg(min(st_xmin(col("__g")))).head() match {
          case r if r.isNullAt(0) => Double.MaxValue
          case r                  => r.getDouble(0)
        }
        if (minX < 60.0) flat.withColumn("__g", st_flip_coordinates(col("__g")))
        else flat
      }

    repaired.select((attrs :+ col("__g").as("geom")): _*)
  }

  /** Spatial clustering + write contract (every reference sink,
    * east_asia.py:72-83): order by Hilbert(lat, lon of centroid), write
    * ZSTD parquet through [[sink]]. `numFiles <= 0` leaves Spark's
    * range-partitioned sort parallelism intact (the 100TB path: each range
    * partition is written by its own task and is internally Hilbert-ordered,
    * giving the same row-group locality without a single-writer
    * bottleneck); a positive `numFiles` forces that many output files
    * (reference parity: 1). */
  def writeClustered(df: DataFrame, outPath: String, numFiles: Int = 0,
      zstdLevel: Int = 22, rowGroupBytes: Long = sinkRowGroupBytes): Unit = {
    // numFiles > 0: the range exchange sets the write's parallelism, so no
    // Scatter (its partition count plans the query a second time, and its
    // round-robin exchange adds a shuffle and a job). The exchange keys on
    // the Hilbert expression and the key column comes after it: a projection
    // over the input would be pushed below a sort+limit input's limit and
    // turn its top-k into a global sort. The price is one more run of the
    // kernel (a WKB decode plus the Hilbert index) per row than a
    // pre-exchange key column costs: it runs for the range sample, for the
    // partition key, and again after the exchange for the sort key — with
    // numFiles = 1 in the one write task. numFiles <= 0: the input's splits
    // are the write's tasks, so a few-split input is scattered first.
    val hk = hilbert_of_geom(col("geom"))
    val placed =
      if (numFiles > 0) df.repartitionByRange(numFiles, hk)
      else Scatter(df)
    sink(placed.withColumn("__hk", hk).sortWithinPartitions("__hk").drop("__hk"),
      outPath, zstdLevel, rowGroupBytes)
  }

  private val sinkRowGroupBytes: Long = 4L * 1024 * 1024

  /** The one parquet sink of [[writeClustered]] and [[MergeParquet.merge]]:
    * overwrites `outPath` (partitioned by `partitionBy`, if any) through
    * [[ZstdSinkFormat]] — one zstd context per file, not one per page, and
    * each file's public GeoParquet 1.1 `geo` footer key ([[geoFooterJson]])
    * written in the same pass, so GDAL / geopandas / DuckDB-spatial
    * auto-recognize the geometry column (the reference reads its own output
    * back via explicit `ST_GEOMFROMWKB`, East-Asia-Building-Footprints.md:
    * 231-234 — the footer is pure interop upside). */
  private[operators] def sink(df: DataFrame, outPath: String, zstdLevel: Int,
      rowGroupBytes: Long = sinkRowGroupBytes, partitionBy: Seq[String] = Nil): Unit =
    df.write.mode("overwrite").format(ZstdSinkFormat.name)
      .partitionBy(partitionBy: _*)
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", zstdLevel.toString)
      // parquet-mr sizes row groups in bytes, not rows; small groups keep
      // the reference's row-group-level spatial pruning property (§1.3)
      .option("parquet.block.size", rowGroupBytes.toString)
      .save(outPath)

  /** The GeoParquet 1.1 `geo` JSON for one file (hand-rolled: the shape is
    * fixed and determinism matters for the gate hash). `crs` is omitted:
    * the spec default OGC:CRS84 is exactly the normalized lon-lat WGS84
    * this sink emits. */
  private[graft] def geoFooterJson(geomCol: String,
      bbox: Option[(Double, Double, Double, Double)], typeCodes: Seq[Int]): String = {
    val names = Map(1 -> "Point", 2 -> "LineString", 3 -> "Polygon",
      4 -> "MultiPoint", 5 -> "MultiLineString", 6 -> "MultiPolygon",
      7 -> "GeometryCollection")
    val types = typeCodes.flatMap(names.get).distinct.sorted
      .map(t => s""""$t"""").mkString(",")
    val bboxStr = bbox.map { case (x0, y0, x1, y1) =>
      s""","bbox":[$x0,$y0,$x1,$y1]"""
    }.getOrElse("")
    s"""{"version":"1.1.0","primary_column":"$geomCol","columns":""" +
      s"""{"$geomCol":{"encoding":"WKB","geometry_types":[$types]$bboxStr}}}"""
  }

  /** Consumer-side GeoParquet discovery (the read twin of the footer
    * [[writeClustered]] writes): parse the public `geo` footer key and
    * return the DataFrame plus the discovered primary geometry column and
    * the dataset bbox merged across files. Jackson-parsed, so ANY
    * GeoParquet 1.x writer's output works — GDAL/geopandas/DuckDB-spatial
    * files read back the same way ours do; fails loudly when no file
    * carries the key (plain parquet → caller names the column itself). */
  def readGeoParquet(spark: SparkSession, path: String)
      : (DataFrame, String, Option[(Double, Double, Double, Double)]) = {
    val footers = geoFooters(spark, path).flatMap(_._2)
    val primary = footers.headOption.map(_._1).orNull
    require(primary != null, s"no GeoParquet 'geo' footer found under $path")
    val bbox = footers.collect { case (`primary`, Some(b)) => b }
      .reduceOption((o, nb) => (math.min(o._1, nb._1), math.min(o._2, nb._2),
        math.max(o._3, nb._3), math.max(o._4, nb._4)))
    (spark.read.parquet(path), primary, bbox)
  }

  /** Bbox-pruned GeoParquet scan: list the lake's files, read each one's
    * GeoParquet `geo` footer (a KB-sized driver read per file — the same
    * planning cost every GeoParquet reader pays), and hand Spark ONLY the
    * files whose stored per-file bbox intersects the query box. On a
    * Hilbert-clustered lake ([[writeClustered]]) file bboxes are compact,
    * so a small query box reads a small fraction of a 100 TB lake before
    * a single row is scanned. Files without a footer (or without a bbox)
    * are conservatively kept — pruning is an optimization, never a
    * filter; combine with an exact predicate downstream.
    *
    * Returns (pruned frame, files kept, files total). */
  def readGeoParquetPruned(spark: SparkSession, path: String,
      bbox: (Double, Double, Double, Double)): (DataFrame, Int, Int) = {
    val (minx, miny, maxx, maxy) = bbox
    require(minx <= maxx && miny <= maxy, s"invalid query bbox: $bbox")
    val files = geoFooters(spark, path)
    val kept = files.filter {
      case (_, Some((_, Some(b)))) =>
        !(b._3 < minx || b._1 > maxx || b._4 < miny || b._2 > maxy)
      case _ => true // no footer or no bbox: keep, never silently drop data
    }.map(_._1)
    val df =
      if (kept.isEmpty)
        spark.read.parquet(path).limit(0) // schema-preserving empty frame
      else spark.read.parquet(kept: _*)
    (df, kept.length, files.length)
  }

  private type Bbox = (Double, Double, Double, Double)

  /** Each `.parquet` file under `path`, in name order, with its `geo`
    * footer's primary column and that column's bbox (None without the key
    * or a primary column; an inner None without a 4-number bbox). */
  private def geoFooters(spark: SparkSession, path: String)
      : Seq[(String, Option[(String, Option[Bbox])])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    root.getFileSystem(conf).listStatus(root).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
      .map { f =>
        f -> geoFooterOf(f, conf).map(om.readTree).flatMap { node =>
          Option(node.path("primary_column").asText(null)).map { primary =>
            val b = node.path("columns").path(primary).path("bbox")
            primary -> Option.when(b.isArray && b.size >= 4)((b.get(0).asDouble,
              b.get(1).asDouble, b.get(2).asDouble, b.get(3).asDouble))
          }
        }
      }
  }

  /** One parquet file's `geo` footer value (None when the key is absent),
    * read through Spark's footer reader. */
  private[graft] def geoFooterOf(file: String,
      conf: org.apache.hadoop.conf.Configuration): Option[String] =
    Option(RowGroupScan.footerOf(file, conf).getFileMetaData
      .getKeyValueMetaData.get("geo"))

  /** Idempotency guard (F4, east_asia.py:99-106 / ORNL-FEMA-Buildings.md:69):
    * true if `outPath` already holds a committed non-empty dataset. */
  def alreadyDone(spark: SparkSession, outPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) &&
      fs.listStatus(p).exists(s => s.getPath.getName.endsWith(".parquet") && s.getLen > 0)
  }

  /** The reference's `main` command end-to-end (east_asia.py:286-314): for
    * each (inputPath → srcEpsg) source table of WKB geometry, normalize and
    * write a Hilbert-clustered output under `outDir`, with retry-friendly
    * shuffled ordering (F3), idempotency skip (F4), and per-source error
    * isolation (F10). Sources are independent Spark jobs submitted from a
    * bounded driver-side pool (`maxConcurrent` at once) — concurrent
    * submission is the parallelism the reference got from its process Pool
    * (F1), and it hides each job's straggler tail behind the next job's
    * ramp-up; serial submission left the cluster idle between sources.
    * Returns the failures. */
  def convertAll(spark: SparkSession, sources: Seq[(String, Int)], outDir: String,
      numFilesPerSource: Int = 1, seed: Long = 42L,
      maxConcurrent: Int = 4): Seq[((String, Int), Throwable)] = {
    val shuffled = new scala.util.Random(seed).shuffle(sources)
    Concurrency.mapBounded(shuffled, maxConcurrent) { case src @ (path, epsg) =>
      try {
        val name = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".parquet")
        val out = s"$outDir/$name"
        if (!alreadyDone(spark, out)) {
          val df = RowGroupScan.readNoInfer(spark, Seq(path))
          writeClustered(normalize(df, epsg), out, numFiles = numFilesPerSource)
        }
        None
      } catch { case e: Throwable => Some(src -> e) }
    }.flatten
  }
}

/** Bounded-concurrency driver-side job submission. Spark jobs triggered
  * from different driver threads run concurrently on the cluster; the
  * bound keeps driver memory and scheduler pressure sane. */
private[graft] object Concurrency {
  def mapBounded[A, B](items: Seq[A], maxConcurrent: Int)(f: A => B): Seq[B] = {
    require(maxConcurrent >= 1)
    if (items.sizeIs <= 1 || maxConcurrent == 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, items.size))
    // the first failure propagates
    try items.map(a => pool.submit[B](() => f(a))).map(_.get())
    finally pool.shutdown()
  }
}
