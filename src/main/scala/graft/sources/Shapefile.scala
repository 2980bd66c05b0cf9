package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.locationtech.jts.geom._

import graft.geom.GeomLib

/** ESRI Shapefile ingestion (reference S1/S3: `ST_READ(shx, keep_wkb=TRUE)`,
  * east_asia.py:145,175; geopandas fallback east_asia.py:54-69).
  *
  * The `.shp` main-file format is a public spec (ESRI Shapefile Technical
  * Description, 1998): a 100-byte header (file code 9994 big-endian, shape
  * type little-endian), then records of [big-endian record header][little-
  * endian shape]. [[ShapefileCodec]] decodes the byte stream to WKB rows;
  * [[Shapefile.read]] distributes it with Spark's `binaryFile` source — one
  * task per file, the reference's file-granular parallelism (F1) with
  * Spark's scheduler in place of the process Pool.
  *
  * Supported shapes: Null(0), Point(1), PolyLine(3), Polygon(5),
  * MultiPoint(8) and their Z variants (11,13,15,18) — Z is parsed and
  * dropped (the engine's 2D normalization, SURVEY.md F6). Polygon rings are
  * assembled shell/hole by ring orientation (ESRI: clockwise = shell).
  */
object ShapefileCodec {

  private val gf = new GeometryFactory(new PrecisionModel(), 4326)

  /** Decode a whole .shp file to (recordNumber, shapeType, wkb) rows.
    * Broken trailing records end the iteration rather than failing the file
    * (reference F10 error isolation). */
  def decode(bytes: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
    if (bytes.length < 100) return Seq.empty
    val bb = ByteBuffer.wrap(bytes)
    bb.order(ByteOrder.BIG_ENDIAN)
    if (bb.getInt(0) != 9994) return Seq.empty
    // header file length is in 16-bit words, includes the header
    val fileLen = math.min(bb.getInt(24).toLong * 2, bytes.length.toLong)
    val out = Seq.newBuilder[(Int, Int, Array[Byte])]
    var pos = 100
    while (pos + 12 <= fileLen) {
      val recNo = bb.getInt(pos)
      val contentWords = bb.getInt(pos + 4)
      val contentLen = contentWords * 2
      if (contentWords <= 0 || pos + 8 + contentLen > fileLen) {
        // corrupt (non-positive content length ⇒ pos would stop advancing —
        // an executor-task infinite loop) or truncated record: stop here and
        // keep what decoded so far (reference F10 drops broken tails)
        pos = fileLen.toInt
      } else {
        try {
          val shape = ByteBuffer.wrap(bytes, pos + 8, contentLen)
            .order(ByteOrder.LITTLE_ENDIAN)
          val stype = shape.getInt
          val geom = decodeShape(shape, stype)
          if (geom != null) out += ((recNo, stype, GeomLib.write(geom)))
        } catch { case _: Exception => () } // skip broken record
        pos += 8 + contentLen
      }
    }
    out.result()
  }

  /** Decode a headerless run of shapefile records (a byte range cut on
    * record boundaries by [[splitRanges]]). Record numbers come from the
    * record headers themselves, so ranges need no external base offset. */
  def decodeRange(bytes: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.order(ByteOrder.BIG_ENDIAN)
    val out = Seq.newBuilder[(Int, Int, Array[Byte])]
    var pos = 0
    while (pos + 12 <= bytes.length) {
      val recNo = bb.getInt(pos)
      val contentWords = bb.getInt(pos + 4)
      val contentLen = contentWords * 2
      if (contentWords <= 0 || pos + 8 + contentLen > bytes.length) {
        pos = bytes.length // corrupt or truncated: stop (F10)
      } else {
        try {
          val shape = ByteBuffer.wrap(bytes, pos + 8, contentLen)
            .order(ByteOrder.LITTLE_ENDIAN)
          val stype = shape.getInt
          val geom = decodeShape(shape, stype)
          if (geom != null) out += ((recNo, stype, GeomLib.write(geom)))
        } catch { case _: Exception => () }
        pos += 8 + contentLen
      }
    }
    out.result()
  }

  /** Cut a `.shx` index into record-range splits of ≤ `maxRecords` records:
    * (byteStart, byteLength, firstRecordIndex, recordCount) against the
    * `.shp`. The .shx is 100-byte header + one big-endian (offsetWords,
    * contentWords) pair per record — arithmetic only, no shape decoding. */
  def splitRanges(shx: Array[Byte], maxRecords: Int): Seq[(Long, Int, Int, Int)] = {
    require(maxRecords > 0)
    if (shx.length < 108) return Seq.empty
    val bb = ByteBuffer.wrap(shx).order(ByteOrder.BIG_ENDIAN)
    if (bb.getInt(0) != 9994) return Seq.empty
    val nRecs = (math.min(bb.getInt(24).toLong * 2, shx.length.toLong).toInt - 100) / 8
    val out = Seq.newBuilder[(Long, Int, Int, Int)]
    var first = 0
    while (first < nRecs) {
      val last = math.min(first + maxRecords, nRecs) - 1
      val startBytes = bb.getInt(100 + first * 8).toLong * 2
      val endBytes = bb.getInt(100 + last * 8).toLong * 2 +
        8 + bb.getInt(100 + last * 8 + 4).toLong * 2
      if (endBytes <= startBytes) return out.result() // corrupt index: stop
      out += ((startBytes, (endBytes - startBytes).toInt, first, last - first + 1))
      first = last + 1
    }
    out.result()
  }

  private def decodeShape(b: ByteBuffer, stype: Int): Geometry = stype match {
    case 0 => null // null shape
    case 1 | 11 | 21 => // Point / PointZ / PointM: x,y first
      gf.createPoint(new Coordinate(b.getDouble, b.getDouble))
    case 8 | 18 | 28 => // MultiPoint (+Z/M)
      skipBbox(b)
      val n = b.getInt
      val pts = Array.fill(n)(new Coordinate(b.getDouble, b.getDouble))
      gf.createMultiPointFromCoords(pts)
    case 3 | 13 | 23 => // PolyLine (+Z/M)
      val parts = readParts(b)
      if (parts.length == 1) gf.createLineString(parts.head)
      else gf.createMultiLineString(parts.map(gf.createLineString).toArray)
    case 5 | 15 | 25 => // Polygon (+Z/M)
      assemblePolygon(readParts(b))
    case _ => null // unsupported type: dropped (the reference's core-7 gate)
  }

  private def skipBbox(b: ByteBuffer): Unit = { b.getDouble; b.getDouble; b.getDouble; b.getDouble }

  private def readParts(b: ByteBuffer): Seq[Array[Coordinate]] = {
    skipBbox(b)
    val numParts = b.getInt
    val numPoints = b.getInt
    val partIdx = Array.fill(numParts)(b.getInt)
    val coords = Array.fill(numPoints)(new Coordinate(b.getDouble, b.getDouble))
    (0 until numParts).map { i =>
      val from = partIdx(i)
      val to = if (i + 1 < numParts) partIdx(i + 1) else numPoints
      coords.slice(from, to)
    }
  }

  /** ESRI ring orientation: clockwise = shell, counter-clockwise = hole;
    * holes attach to the first shell that contains them. */
  private[sources] def assemblePolygon(rings: Seq[Array[Coordinate]]): Geometry = {
    val closed = rings.filter(_.length >= 4).map { r =>
      if (r.head.equals2D(r.last)) r else r :+ r.head.copy()
    }
    if (closed.isEmpty) return null
    val (shellRings, holeRings) = closed.partition(r =>
      !org.locationtech.jts.algorithm.Orientation.isCCW(gf.createLinearRing(r)
        .getCoordinateSequence))
    val shells = (if (shellRings.isEmpty) closed else shellRings).map(gf.createLinearRing)
    val holes = (if (shellRings.isEmpty) Seq.empty else holeRings).map(gf.createLinearRing)
    val polys = shells.map { shell =>
      val shellPoly = gf.createPolygon(shell)
      val myHoles = holes.filter(h =>
        shellPoly.contains(gf.createPoint(h.getCoordinateN(0))))
      gf.createPolygon(shell, myHoles.toArray)
    }
    if (polys.length == 1) polys.head
    else gf.createMultiPolygon(polys.toArray)
  }

  /** EPSG inference from a `.prj` WKT string (reference S8/G11,
    * east_asia.py:30-34): explicit AUTHORITY tag, else the common UTM-WGS84
    * name patterns; None for exotic CRSs (the reference shells out to
    * ogr2ogr there — we surface None and let callers decide). */
  def epsgFromPrj(wkt: String): Option[Int] = {
    if (wkt == null) return None
    val auth = "(?s).*AUTHORITY\\[\"EPSG\",\\s*\"(\\d+)\"\\]\\s*\\]\\s*$".r
    wkt match {
      case auth(code) => Some(code.toInt)
      case _ =>
        val utm = "(?si).*UTM[ _]zone[ _](\\d+)(N|S).*".r
        wkt match {
          case utm(z, ns) if wkt.toUpperCase.contains("WGS") =>
            Some((if (ns.equalsIgnoreCase("N")) 32600 else 32700) + z.toInt)
          case _ if wkt.contains("GCS_WGS_1984") || wkt.contains("WGS 84") => Some(4326)
          case _ => None
        }
    }
  }
}

/** dBASE III (.dbf) attribute sidecar decoder — the `.dbf` half of the
  * shapefile trio the reference's ST_READ exposes as attribute columns
  * (east_asia.py:145-153 discovers them; ORNL-FEMA-Buildings.md:79-80 keeps
  * them via `* EXCLUDE(Shape)`). Public dBASE spec: 32-byte header
  * (record count at offset 4 LE, header size at 8, record size at 10),
  * 32-byte field descriptors until 0x0D, then fixed-width ASCII records
  * prefixed by a deletion flag. */
object DbfCodec {

  final case class Field(name: String, ftype: Char, length: Int)

  def fields(bytes: Array[Byte]): Seq[Field] = {
    if (bytes.length < 33) return Seq.empty
    val out = Seq.newBuilder[Field]
    var pos = 32
    while (pos + 32 <= bytes.length && bytes(pos) != 0x0d) {
      val nameEnd = (pos until pos + 11).find(i => bytes(i) == 0).getOrElse(pos + 11)
      val name = new String(bytes, pos, nameEnd - pos, "US-ASCII").trim
      val ftype = (bytes(pos + 11) & 0xff).toChar
      val len = bytes(pos + 16) & 0xff
      out += Field(name, ftype, len)
      pos += 32
    }
    out.result()
  }

  /** Decode records to (recordIndex starting at 1, fieldName → trimmed
    * string value); deleted rows ('*' flag) are skipped but keep their
    * index so .shp record numbers still line up. */
  def decode(bytes: Array[Byte]): Seq[(Int, Map[String, String])] = {
    if (bytes.length < 32) return Seq.empty
    val nRec = (bytes(4) & 0xff) | ((bytes(5) & 0xff) << 8) |
      ((bytes(6) & 0xff) << 16) | ((bytes(7) & 0xff) << 24)
    val headerSize = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    val recSize = (bytes(10) & 0xff) | ((bytes(11) & 0xff) << 8)
    val fs = fields(bytes)
    if (fs.isEmpty || recSize <= 0) return Seq.empty
    val out = Seq.newBuilder[(Int, Map[String, String])]
    var i = 0
    while (i < nRec && headerSize + (i + 1) * recSize <= bytes.length) {
      val base = headerSize + i * recSize
      if (bytes(base) != '*') { // not deleted
        var off = base + 1
        val m = Map.newBuilder[String, String]
        fs.foreach { f =>
          m += f.name -> new String(bytes, off, f.length, "US-ASCII").trim
          off += f.length
        }
        out += ((i + 1, m.result()))
      }
      i += 1
    }
    out.result()
  }
}

object Shapefile {

  /** Read shapefiles matching `pathGlob` into (source, record_no, shape_type,
    * geom WKB). One Spark task per file via the binaryFile source —
    * file-granular parallelism and retry exactly like the reference's Pool
    * (east_asia.py:308-314), scheduled by Spark. */
  def read(spark: SparkSession, pathGlob: String): DataFrame =
    decodeWhole(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.shp")
      .load(pathGlob))

  /** Whole-file decode of a binaryFile frame of `.shp` files. */
  private def decodeWhole(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val src = path.substring(path.lastIndexOf('/') + 1)
        ShapefileCodec.decode(bytes).map { case (no, st, wkb) => (src, no, st, wkb) }
      }
      .toDF("source", "record_no", "shape_type", "geom")
  }

  /** Read shapefiles with intra-file parallelism: the `.shx` index cuts
    * each `.shp` into record ranges of ≤ `maxRecordsPerSplit`, and every
    * range decodes in its own Spark task. One 12.5M-record file no longer
    * caps a stage at one task (reference F1's limit; the Japan4 case in
    * BASELINE.md). Index decoding happens on executors; only the split
    * plan — a few rows per FILE, not per record — returns to the driver.
    *
    * Each `.shp` is read once: an indexed one only through its range
    * tasks, which open it with the session's Hadoop conf
    * ([[SessionFiles]]). The `.shp` files without a usable `.shx` are
    * listed on the driver and only they are decoded whole, one task per
    * file; with none, the whole-file read is not planned at all. */
  def readSplit(spark: SparkSession, pathGlob: String,
      maxRecordsPerSplit: Int = 250000): DataFrame = {
    import spark.implicits._
    val splits: Array[(String, Long, Int)] =
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.shx")
        .load(pathGlob)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, shx) =>
          val shp = path.stripSuffix(".shx") + ".shp"
          ShapefileCodec.splitRanges(shx, maxRecordsPerSplit)
            .map { case (off, len, _, _) => (shp, off, len) }
        }
        .collect()
    val indexed = splits.map(_._1).toSet
    // the .shp files, listed on the driver (no job); their URIs turned back
    // into the `path` column's form that `indexed` holds
    val unindexed = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.shp")
      .load(pathGlob)
      .inputFiles
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)).toString)
      .filterNot(indexed)
    // ranges: one task each, reading only its byte window
    val conf = SessionFiles.conf(spark)
    val ranged = spark.sparkContext
      .parallelize(splits.toIndexedSeq, math.max(1, splits.length))
      .flatMap { case (shp, off, len) =>
        val buf = new Array[Byte](len)
        SessionFiles.withStream(conf, shp)(_.readFully(off, buf))
        val src = shp.substring(shp.lastIndexOf('/') + 1)
        ShapefileCodec.decodeRange(buf).map { case (no, st, wkb) => (src, no, st, wkb) }
      }
      .toDF("source", "record_no", "shape_type", "geom")
    if (unindexed.isEmpty) return ranged
    // files without a usable .shx: whole-file decode, one task per file.
    // load() globs each path again, so a listed name's glob metacharacters
    // are escaped: `roads[2020].shp` must load itself, not `roads2.shp`
    val literal = unindexed.map(_.replaceAll("""([\\\[\]{}*?])""", """\\$1"""))
    val whole = decodeWhole(
      spark.read.format("binaryFile").load(literal.toIndexedSeq: _*))
    if (splits.isEmpty) whole else ranged.unionByName(whole)
  }

  /** Read shapefiles with their .dbf attribute sidecars: geometry rows
    * joined to per-record attributes (as a map column — shapefile schemas
    * vary per file, exactly why the reference probes schemas at runtime).
    * Both sides scan with one task per file; the join keys on
    * (source, record_no). */
  def readWithAttrs(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val geo = read(spark, pathGlob)
    val attrs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.dbf")
      .load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".dbf")
        DbfCodec.decode(bytes).map { case (no, m) => (base + ".shp", no, m) }
      }
      .toDF("source", "record_no", "attrs")
    geo.join(attrs, Seq("source", "record_no"), "left")
  }
}
