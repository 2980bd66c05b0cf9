package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** Pure-Scala geometry kernel over JTS — the correctness core of the engine.
  *
  * Geometry travels through the engine as WKB bytes in a `BinaryType` column
  * (the reference's storage contract: WKB in a `geom` column, see
  * /root/reference/east_asia.py:73,250 and ORNL-FEMA-Buildings.md:80).
  * All Catalyst expressions in [[graft.functions]] delegate to the static
  * methods here so the same code is unit-testable without a SparkSession and
  * callable from generated (Janino) code.
  *
  * Thread-safety: JTS readers/writers are not thread-safe; we keep them in
  * ThreadLocals so executor task threads never contend.
  */
object GeomLib {

  private val factory = new GeometryFactory(new PrecisionModel(), 4326)

  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  // Output dimension 2: writing always forces XY-only, matching the
  // reference's 2D output contract (shapely wkt.dumps(output_dimension=2),
  // east_asia.py:66-68). Little-endian (NDR) throughout: the hand-rolled
  // constructors, the shapefile spec, and DuckDB/GEOS output are all NDR,
  // so one byte order keeps WKB byte-comparable across the engine.
  private val wkbWriter2 = ThreadLocal.withInitial[WKBWriter](() =>
    new WKBWriter(2, org.locationtech.jts.io.ByteOrderValues.LITTLE_ENDIAN))
  private val wkbWriter3 = ThreadLocal.withInitial[WKBWriter](() =>
    new WKBWriter(3, org.locationtech.jts.io.ByteOrderValues.LITTLE_ENDIAN))
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())

  def read(wkb: Array[Byte]): Geometry = wkbReader.get.read(wkb)

  /** Null-safe read: returns null for undecodable bytes (the reference drops
    * broken geometries rather than failing the file, east_asia.py:85-91). */
  def readOrNull(wkb: Array[Byte]): Geometry =
    try read(wkb)
    catch { case _: Exception => null }

  def write(g: Geometry): Array[Byte] = wkbWriter2.get.write(g)
  def write3D(g: Geometry): Array[Byte] = wkbWriter3.get.write(g)

  // -------------------------------------------------------------------------
  // WKB byte-level introspection
  // -------------------------------------------------------------------------

  /** Low byte of the WKB geometry-type word — exactly what the reference's
    * `('0x' || substr(geom::BLOB::TEXT, 7, 2))::INT` computes
    * (east_asia.py:176,248): byte 1 of little-endian WKB. 2D core types give
    * 1..7; ISO 3D types (1000+k) give (1000+k)&0xFF, e.g. POLYGON Z = 1003 →
    * 0xEB = 235 (the "235(?)" in east_asia.py:37-42). Returns -1 for
    * undecodable input.
    */
  def wkbShapeType(wkb: Array[Byte]): Int = {
    if (wkb == null || wkb.length < 5) return -1
    if (wkb(0) == 1) wkb(1) & 0xff // little-endian: low byte first
    else wkb(4) & 0xff             // big-endian: low byte last
  }

  /** Full 32-bit WKB geometry-type word (e.g. 1003 for POLYGON Z). */
  def wkbTypeWord(wkb: Array[Byte]): Int = {
    if (wkb == null || wkb.length < 5) return -1
    if (wkb(0) == 1)
      (wkb(1) & 0xff) | ((wkb(2) & 0xff) << 8) | ((wkb(3) & 0xff) << 16) | ((wkb(4) & 0xff) << 24)
    else
      (wkb(4) & 0xff) | ((wkb(3) & 0xff) << 8) | ((wkb(2) & 0xff) << 16) | ((wkb(1) & 0xff) << 24)
  }

  // -------------------------------------------------------------------------
  // Fast hand-rolled WKB constructors (no JTS allocation on the hot path)
  // -------------------------------------------------------------------------

  /** 21-byte little-endian WKB POINT. */
  def pointWkb(x: Double, y: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    b.array()
  }

  /** ISO WKB POINT Z (type 1001) — used to synthesize 3D inputs for the
    * shape-type predicate (reference filters these out / reroutes them,
    * east_asia.py:174-193). */
  def pointZWkb(x: Double, y: Double, z: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1001).putDouble(x).putDouble(y).putDouble(z)
    b.array()
  }

  /** WKB MULTIPOINT of one point (type 4) — a second 2D core type for
    * shape-type variety in synthesized test geometry. */
  def multiPointWkb(x: Double, y: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(4).putInt(1)
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    b.array()
  }

  /** Axis-aligned square POLYGON around (cx, cy) with half-width h; closed
    * 5-point ring, LE WKB (93 bytes). Envelope is exactly
    * [cx-h, cx+h] x [cy-h, cy+h] and centroid exactly (cx, cy) in IEEE
    * arithmetic, which keeps DuckDB-oracle comparisons bit-exact. */
  def squareWkb(cx: Double, cy: Double, h: Double): Array[Byte] = {
    val x0 = cx - h; val x1 = cx + h; val y0 = cy - h; val y1 = cy + h
    val b = java.nio.ByteBuffer.allocate(93).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(3).putInt(1).putInt(5)
    b.putDouble(x0).putDouble(y0)
    b.putDouble(x1).putDouble(y0)
    b.putDouble(x1).putDouble(y1)
    b.putDouble(x0).putDouble(y1)
    b.putDouble(x0).putDouble(y0)
    b.array()
  }

  // -------------------------------------------------------------------------
  // Scalar geometry accessors (ST_* semantics over WKB)
  // -------------------------------------------------------------------------

  def centroid(wkb: Array[Byte]): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null else write(g.getCentroid)
  }

  /** X of a POINT (or of any geometry's first coordinate interior point
    * semantics: non-point inputs return the centroid X like DuckDB's
    * ST_X raises; we choose null for non-points). */
  def stX(wkb: Array[Byte]): java.lang.Double = {
    val fast = pointCoordFast(wkb)
    if (fast != null) return Double.box(fast.x)
    val g = readOrNull(wkb)
    g match {
      case p: Point if !p.isEmpty => Double.box(p.getX)
      case _                      => null
    }
  }

  def stY(wkb: Array[Byte]): java.lang.Double = {
    val fast = pointCoordFast(wkb)
    if (fast != null) return Double.box(fast.y)
    val g = readOrNull(wkb)
    g match {
      case p: Point if !p.isEmpty => Double.box(p.getY)
      case _                      => null
    }
  }

  def xMin(wkb: Array[Byte]): java.lang.Double = env(wkb, 0)
  def xMax(wkb: Array[Byte]): java.lang.Double = env(wkb, 1)
  def yMin(wkb: Array[Byte]): java.lang.Double = env(wkb, 2)
  def yMax(wkb: Array[Byte]): java.lang.Double = env(wkb, 3)

  private def env(wkb: Array[Byte], which: Int): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) return null
    val e = g.getEnvelopeInternal
    Double.box(which match {
      case 0 => e.getMinX
      case 1 => e.getMaxX
      case 2 => e.getMinY
      case _ => e.getMaxY
    })
  }

  /** Swap x<->y on every coordinate — ST_FlipCoordinates
    * (east_asia.py:261, the flipped-lat-lon repair F7). */
  def flip(wkb: Array[Byte]): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null) return null
    g.apply(new CoordinateFilter {
      override def filter(c: Coordinate): Unit = {
        val t = c.x; c.x = c.y; c.y = t
      }
    })
    g.geometryChanged()
    write(g)
  }

  /** Drop Z/M: WKBWriter with outputDimension=2 re-encodes XY only —
    * the capability behind the reference's shapely
    * `wkt.dumps(..., output_dimension=2)` fallback (east_asia.py:66-68).
    * Fast path: little-endian WKB whose type word is already a core-2D
    * code (1..7) is returned untouched — no decode/encode; on mixed
    * corpora the overwhelming majority of rows take this path. */
  def force2D(wkb: Array[Byte]): Array[Byte] = {
    if (wkb != null && wkb.length >= 5 && wkb(0) == 1) {
      val tw = wkbTypeWord(wkb)
      if (tw >= 1 && tw <= 7) return wkb
    }
    val g = readOrNull(wkb)
    if (g == null) null else write(g)
  }

  // -------------------------------------------------------------------------
  // Single-pass fused accessors (one WKB decode, no intermediate geometry
  // encode) — the hot-path forms GeoSimplify rewrites compositions into.
  // -------------------------------------------------------------------------

  /** Direct coordinate read for a plain 2D WKB point (21 bytes: order,
    * type word 1, x, y) — the dominant carrier in point-heavy pipelines.
    * Byte-identical to the JTS path: Centroid of a point returns its sole
    * coordinate unchanged, and the reader decodes the same two doubles.
    * Returns null for anything that is not that exact layout. */
  private def pointCoordFast(wkb: Array[Byte]): Coordinate = {
    if (wkb == null || wkb.length != 21) return null
    if (wkb(0) == 1 && wkb(1) == 1 && wkb(2) == 0 && wkb(3) == 0 && wkb(4) == 0)
      new Coordinate(rawDouble(wkb, 5, true), rawDouble(wkb, 13, true))
    else if (wkb(0) == 0 && wkb(1) == 0 && wkb(2) == 0 && wkb(3) == 0 && wkb(4) == 1)
      new Coordinate(rawDouble(wkb, 5, false), rawDouble(wkb, 13, false))
    else null
  }

  private def rawDouble(b: Array[Byte], o: Int, le: Boolean): Double = {
    var bits = 0L
    var i = 0
    while (i < 8) {
      bits = (bits << 8) | (b(if (le) o + 7 - i else o + i) & 0xffL)
      i += 1
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  private def centroidCoord(wkb: Array[Byte]): Coordinate = {
    val fast = pointCoordFast(wkb)
    if (fast != null) return fast
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null
    else org.locationtech.jts.algorithm.Centroid.getCentroid(g)
  }

  /** X of the centroid — equals stX(centroid(wkb)) bit-for-bit (JTS
    * getCentroid delegates to the same Centroid algorithm). */
  def centroidX(wkb: Array[Byte]): java.lang.Double = {
    val c = centroidCoord(wkb)
    if (c == null) null else Double.box(c.x)
  }

  def centroidY(wkb: Array[Byte]): java.lang.Double = {
    val c = centroidCoord(wkb)
    if (c == null) null else Double.box(c.y)
  }

  /** Hilbert key of the centroid — equals
    * hilbertEncode(stY(centroid(w)), stX(centroid(w))) in one pass. */
  def hilbertOfGeom(wkb: Array[Byte]): java.lang.Long = {
    val c = centroidCoord(wkb)
    if (c == null) null else Long.box(hilbertEncode(c.y, c.x))
  }

  /** H3 cell of the centroid — equals
    * h3LatLngToCell(stY(centroid(w)), stX(centroid(w)), res) in one WKB
    * pass: the spatial-join point-side key without a second decode. */
  def h3OfGeom(wkb: Array[Byte], res: Int): java.lang.Long = {
    val c = centroidCoord(wkb)
    if (c == null) null else Long.box(H3Lib.latLngToCell(c.y, c.x, res))
  }

  /** Planar area (JTS shoelace; 0 for points/lines) — the polygon-payload
    * accessor the FileGDB building-footprint path needs
    * (ORNL-FEMA-Buildings.md:77-87). */
  def area(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) null else Double.box(g.getArea)
  }

  /** Total vertex count across all rings/parts. */
  def nPoints(wkb: Array[Byte]): java.lang.Long = {
    val g = readOrNull(wkb)
    if (g == null) null else Long.box(g.getNumPoints.toLong)
  }

  def asText(wkb: Array[Byte]): String = {
    val g = readOrNull(wkb)
    if (g == null) null else wktWriter.get.write(g)
  }

  def fromText(wkt: String): Array[Byte] =
    try write(wktReader.get.read(wkt))
    catch { case _: Exception => null }

  def numPoints(wkb: Array[Byte]): java.lang.Integer = {
    val g = readOrNull(wkb)
    if (g == null) null else Int.box(g.getNumPoints)
  }

  // -------------------------------------------------------------------------
  // Hilbert curve (the reference's signature sort key — lindel
  // HILBERT_ENCODE([y,x]::DOUBLE[2]), east_asia.py:75-77)
  // -------------------------------------------------------------------------

  /** Bits per dimension. 31 (not 32) so the 2-D index fits in a positive
    * signed Long — it is a sort key, so only order matters; 31 bits over
    * [-180,180] is ~1.7e-8 deg ≈ 2 mm resolution. */
  val HilbertOrder: Int = 31
  private val HilbertMax: Long = (1L << HilbertOrder) - 1

  /** Map lat (y, first per lindel's [y,x] array) and lon to the Hilbert
    * index used as the spatial clustering key. Inputs outside world bounds
    * are clamped. */
  def hilbertEncode(lat: Double, lon: Double): Long = {
    val iy = scaleTo(lat, -90.0, 90.0)
    val ix = scaleTo(lon, -180.0, 180.0)
    hilbertXY2D(iy, ix)
  }

  private def scaleTo(v: Double, lo: Double, hi: Double): Long = {
    if (v.isNaN) return 0L
    val t = (v - lo) / (hi - lo)
    val c = if (t < 0) 0.0 else if (t > 1) 1.0 else t
    math.min((c * (HilbertMax + 1).toDouble).toLong, HilbertMax)
  }

  /** Classic 2-D Hilbert distance (x-y to d) over an order-31 grid; the
    * standard iterative rotate-and-accumulate transform. First axis = the
    * reference's first array element (latitude). */
  def hilbertXY2D(aIn: Long, bIn: Long): Long = {
    var x = aIn & HilbertMax
    var y = bIn & HilbertMax
    var d = 0L
    var s = 1L << (HilbertOrder - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate quadrant
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse of [[hilbertXY2D]] (d to x,y) — used by property tests
    * (bijectivity + adjacency). */
  def hilbertD2XY(dIn: Long): (Long, Long) = {
    var x = 0L
    var y = 0L
    var t = dIn
    var s = 1L
    while (s < (1L << HilbertOrder)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  // -------------------------------------------------------------------------
  // Geohash (Niemeyer 2008, public-domain spec): base-32 text cells over
  // an interleaved-bit lat/lon grid — the third spatial index alongside
  // the Hilbert key and H3 (geohashes are PREFIX-hierarchical, so string
  // range predicates prune them, which neither of the other two offers)
  // -------------------------------------------------------------------------

  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Geohash cell id at `precision` chars (clamped to 1..12 — 12 chars =
    * 60 bits, the most a Long carries). Equivalent to the textbook
    * bisection, computed directly: the bit string of a coordinate IS the
    * binary expansion of its position in the world range, so
    * `floor((v - lo) / range * 2^bits)` yields all bits at once; lon
    * takes the even interleave positions (MSB first). Out-of-range
    * coordinates clamp to the edge cell; NaN clamps low (matching
    * [[hilbertEncode]]'s posture: a sort/bucket key must stay total). */
  def geohashEncode(lat: Double, lon: Double, precision: Int): String = {
    val p = if (precision < 1) 1 else if (precision > 12) 12 else precision
    val bits = 5 * p
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    val lonI = geohashIdx(lon, -180.0, 360.0, lonBits)
    val latI = geohashIdx(lat, -90.0, 180.0, latBits)
    var acc = 0L
    var i = 0
    while (i < bits) {
      val b =
        if ((i & 1) == 0) (lonI >>> (lonBits - 1 - (i >> 1))) & 1L
        else (latI >>> (latBits - 1 - (i >> 1))) & 1L
      acc = (acc << 1) | b
      i += 1
    }
    val out = new Array[Char](p)
    var c = 0
    while (c < p) {
      out(c) = GeohashAlphabet.charAt(((acc >>> (5 * (p - 1 - c))) & 31L).toInt)
      c += 1
    }
    new String(out)
  }

  private def geohashIdx(v: Double, lo: Double, range: Double,
      nbits: Int): Long = {
    val n = 1L << nbits
    if (v.isNaN) return 0L
    val i = math.floor((v - lo) / range * n.toDouble).toLong
    if (i < 0) 0L else if (i >= n) n - 1 else i
  }

  /** (lonIdx, latIdx, lonBits, latBits) de-interleaved from a geohash;
    * null on any character outside the base-32 alphabet. */
  private def geohashIndices(hash: String): (Long, Long, Int, Int) = {
    val p = hash.length
    if (p < 1 || p > 12) return null
    var acc = 0L
    var c = 0
    while (c < p) {
      val v = GeohashAlphabet.indexOf(hash.charAt(c).toLower)
      if (v < 0) return null
      acc = (acc << 5) | v.toLong
      c += 1
    }
    val bits = 5 * p
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    var lonI = 0L
    var latI = 0L
    var i = 0
    while (i < bits) {
      val b = (acc >>> (bits - 1 - i)) & 1L
      if ((i & 1) == 0) lonI = (lonI << 1) | b else latI = (latI << 1) | b
      i += 1
    }
    (lonI, latI, lonBits, latBits)
  }

  /** Cell-center latitude of a geohash; null for malformed input. */
  def geohashLat(hash: String): java.lang.Double = {
    val ix = geohashIndices(hash)
    if (ix == null) null
    else -90.0 + (ix._2.toDouble + 0.5) * 180.0 / (1L << ix._4).toDouble
  }

  /** Cell-center longitude of a geohash; null for malformed input. */
  def geohashLon(hash: String): java.lang.Double = {
    val ix = geohashIndices(hash)
    if (ix == null) null
    else -180.0 + (ix._1.toDouble + 0.5) * 360.0 / (1L << ix._3).toDouble
  }

  // -------------------------------------------------------------------------
  // Hierarchical grid cells (capability substitute for DuckDB's H3 ext —
  // SURVEY.md §7.4.2 / §7.5: honest equal-capability discretizer)
  // -------------------------------------------------------------------------

  /** Bucket (lon, lat) into a 2^res x 2^res equal-angle grid cell.
    * Cell id layout: (res << 58) | (ix << res) | iy, so ids are unique
    * across resolutions and the parent of a cell is simply
    * cellEncode(..., res-1) of the same point (ix>>1, iy>>1) — the
    * hierarchical property H3 provides. res=12 cells are ~0.088 deg
    * (~10 km at the equator), comparable to H3 res 7 for heatmapping.
    * Deliberately SQL-expressible (floor + multiply + add) so the DuckDB
    * oracle can reproduce it exactly:
    *   (res<<58) + FLOOR((lon+180)/360 * 2^res) * 2^res + FLOOR((lat+90)/180 * 2^res)
    * with LEAST(...) clamping at the +180/+90 edge.
    */
  def cellEncode(lon: Double, lat: Double, res: Int): Long = {
    val n = 1L << res
    val ix = gridIndex(lon, -180.0, 360.0, n)
    val iy = gridIndex(lat, -90.0, 180.0, n)
    (res.toLong << 58) | (ix << res) | iy
  }

  private def gridIndex(v: Double, lo: Double, span: Double, n: Long): Long = {
    val i = math.floor((v - lo) / span * n.toDouble).toLong
    if (i < 0) 0L else if (i >= n) n - 1 else i
  }

  /** TRUE-H3 covering of the geometry's envelope (the H3-lattice twin of
    * [[cellsCovering]]): grid disk of the envelope-center cell wide enough
    * to contain the whole envelope. Empty array = oversized (same signal
    * as cellsCovering) or null/empty geometry. */
  def h3CellsCovering(wkb: Array[Byte], res: Int, maxCells: Int = 4096): Array[Long] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) return Array.empty
    val e = g.getEnvelopeInternal
    H3Lib.cellsCoveringEnvelope(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, res, maxCells)
  }

  /** TRUE-H3 polyfill (uber/h3 `polygonToCells` center-mode semantics):
    * the res-`res` cells whose CENTER lies inside the polygon — the
    * region-aggregation primitive (heatmap-by-region, area estimates).
    * Candidates are the envelope grid disk; each candidate's center is
    * point-in-polygon tested against a prepared geometry, so concave and
    * multi-part polygons need no connectivity assumptions. Empty array =
    * oversized envelope (same loud signal as the coverings), null/empty
    * geometry, or genuinely no cell center inside (a polygon smaller than
    * a cell — callers wanting guaranteed-nonempty coverage use
    * [[h3CellsCovering]]). Sorted for deterministic output. */
  def h3PolygonToCells(wkb: Array[Byte], res: Int, maxCells: Int = 65536): Array[Long] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) return Array.empty
    val e = g.getEnvelopeInternal
    val cand = H3Lib.cellsCoveringEnvelope(
      e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, res, maxCells)
    if (cand.isEmpty) return Array.empty
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
    val out = new scala.collection.mutable.ArrayBuffer[Long](cand.length / 4 + 1)
    cand.foreach { c =>
      val (lat, lng) = H3Lib.cellToLatLng(c)
      if (prep.covers(factory.createPoint(new Coordinate(lng, lat)))) out += c
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** All res-`res` cells intersecting the geometry's envelope — the
    * covering set used to bucket polygons for the spatial-join prefilter.
    * `maxCells` caps degenerate world-spanning geometries (callers coarsen
    * resolution instead of exploding). */
  def cellsCovering(wkb: Array[Byte], res: Int, maxCells: Int = 4096): Array[Long] =
    // the zero-pad case of the padded covering: ONE copy of the
    // index-clamp / cap-check / packing loop, so the spatial-join
    // rewrite's dedup cell can never drift between the two
    cellsCoveringPad(wkb, res, 0.0, maxCells)

  /** [[cellsCovering]] of the envelope EXPANDED by `pad` degrees on every
    * side — the covering a distance-within join buckets on (a true
    * `st_dwithin(a, b, d)` pair guarantees a's d-padded envelope
    * intersects b's envelope, so padding ONE side makes the cell
    * equi-join complete). Same empty-array overflow signal. */
  def cellsCoveringPad(wkb: Array[Byte], res: Int, pad: Double,
      maxCells: Int = 4096): Array[Long] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) return Array.empty
    val e = g.getEnvelopeInternal
    val n = 1L << res
    val ix0 = gridIndex(e.getMinX - pad, -180.0, 360.0, n)
    val ix1 = gridIndex(e.getMaxX + pad, -180.0, 360.0, n)
    val iy0 = gridIndex(e.getMinY - pad, -90.0, 180.0, n)
    val iy1 = gridIndex(e.getMaxY + pad, -90.0, 180.0, n)
    val count = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    if (count > maxCells) return Array.empty // caller must coarsen res
    val out = new Array[Long](count.toInt)
    var k = 0
    var ix = ix0
    while (ix <= ix1) {
      var iy = iy0
      while (iy <= iy1) {
        out(k) = (res.toLong << 58) | (ix << res) | iy
        k += 1
        iy += 1
      }
      ix += 1
    }
    out
  }

  // Catalyst-ArrayData forwarders: single static call sites for the
  // covering expressions' generated code (whole-stage codegen keeps the
  // spatial-join probe side in one generated function instead of
  // interpreted fallback per row).
  def cellsCoveringData(wkb: Array[Byte], res: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cellsCovering(wkb, res))

  def cellsCoveringPadData(wkb: Array[Byte], res: Int, pad: Double)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cellsCoveringPad(wkb, res, pad))

  def h3CellsCoveringData(wkb: Array[Byte], res: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      h3CellsCovering(wkb, res))

  /** Envelope min-x (null for null/empty geometry) — the spatial-join
    * rewrite's dedup reference point rides on these. */
  def envMinX(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null
    else Double.box(g.getEnvelopeInternal.getMinX)
  }

  def envMinY(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null
    else Double.box(g.getEnvelopeInternal.getMinY)
  }

  /** JTS containment test over WKB (null-safe: false on broken input). */
  def contains(outer: Array[Byte], inner: Array[Byte]): Boolean = {
    val a = readOrNull(outer)
    val b = readOrNull(inner)
    a != null && b != null && a.contains(b)
  }

  /** JTS intersects over WKB (null-safe: false on broken input). */
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = {
    val ga = readOrNull(a)
    val gb = readOrNull(b)
    ga != null && gb != null && ga.intersects(gb)
  }

  /** Planar distance between geometries (null on broken input). */
  def distance(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    val ga = readOrNull(a)
    val gb = readOrNull(b)
    if (ga == null || gb == null) null else Double.box(ga.distance(gb))
  }

  /** Mean Earth radius in meters — the PostGIS ST_DistanceSphere sphere. */
  final val EarthRadiusM = 6371008.8

  /** Great-circle (haversine) distance in METERS between two point
    * coordinates given as EPSG:4326 (lon, lat) degrees. This exact
    * formula — sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2) through asin — is the
    * replay contract shared with the SQL oracles and with
    * [[graft.operators.SpatialJoin.haversineMeters]]; keep the three in
    * lockstep. */
  def haversine(lat1: Double, lon1: Double,
      lat2: Double, lon2: Double): Double = {
    val sLat = math.sin(math.toRadians(lat2 - lat1) / 2)
    val sLon = math.sin(math.toRadians(lon2 - lon1) / 2)
    2.0 * EarthRadiusM * math.asin(math.sqrt(
      sLat * sLat + math.cos(math.toRadians(lat1)) *
        math.cos(math.toRadians(lat2)) * sLon * sLon))
  }

  /** Spherical ring area (the turf.js / geographiclib-lite trapezoid
    * form): R²/2 · |Σ (λ₂−λ₁)(2 + sinφ₁ + sinφ₂)| over consecutive
    * vertices — exact for meridian/parallel-bounded shapes, a
    * second-order approximation for arbitrary geodesic edges. The sum
    * runs in RING ORDER so SQL oracles can replay it term for term. */
  private def ringAreaSphere(
      cs: Array[org.locationtech.jts.geom.Coordinate]): Double = {
    var s = 0.0
    var i = 0
    while (i < cs.length - 1) {
      s += (math.toRadians(cs(i + 1).x) - math.toRadians(cs(i).x)) *
        (2.0 + math.sin(math.toRadians(cs(i).y)) +
          math.sin(math.toRadians(cs(i + 1).y)))
      i += 1
    }
    math.abs(s) * EarthRadiusM * EarthRadiusM / 2.0
  }

  private def ringLengthSphere(
      cs: Array[org.locationtech.jts.geom.Coordinate]): Double = {
    var s = 0.0
    var i = 0
    while (i < cs.length - 1) {
      s += haversine(cs(i).y, cs(i).x, cs(i + 1).y, cs(i + 1).x)
      i += 1
    }
    s
  }

  /** st_area_sphere: polygon area in m² on the mean-Earth sphere —
    * shells minus holes, every ring through [[ringAreaSphere]]. Null on
    * broken input; 0 for points/lines (area semantics). The reference's
    * corpus is building footprints in 4326 — "area in m²" is ITS
    * canonical measure, and planar [[area]] returns square DEGREES. */
  def areaSphere(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) return null
    var total = 0.0
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case p: org.locationtech.jts.geom.Polygon =>
          total += ringAreaSphere(p.getExteriorRing.getCoordinates)
          var h = 0
          while (h < p.getNumInteriorRing) {
            total -= ringAreaSphere(p.getInteriorRingN(h).getCoordinates)
            h += 1
          }
        case _ => ()
      }
      i += 1
    }
    Double.box(total)
  }

  /** st_perimeter_sphere: great-circle meters around every polygon ring
    * (exterior + holes, PostGIS perimeter semantics); 0 for non-areal
    * geometry. Null on broken input. */
  def perimeterSphere(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) return null
    var total = 0.0
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case p: org.locationtech.jts.geom.Polygon =>
          total += ringLengthSphere(p.getExteriorRing.getCoordinates)
          var h = 0
          while (h < p.getNumInteriorRing) {
            total += ringLengthSphere(p.getInteriorRingN(h).getCoordinates)
            h += 1
          }
        case _ => ()
      }
      i += 1
    }
    Double.box(total)
  }

  /** st_length_sphere: great-circle meters along lineal parts only
    * (ST_Length geography semantics — polygons measure 0; use
    * [[perimeterSphere]] for ring length). Null on broken input. */
  def lengthSphere(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) return null
    var total = 0.0
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case l: org.locationtech.jts.geom.LineString =>
          total += ringLengthSphere(l.getCoordinates)
        case _ => ()
      }
      i += 1
    }
    Double.box(total)
  }

  /** st_dwithin_sphere refine: great-circle proximity in meters between
    * centroids; false on broken input (a broken geometry is within
    * distance of nothing — the same contract as the planar predicates). */
  def dwithinSphere(a: Array[Byte], b: Array[Byte], m: Double): Boolean = {
    val d = distanceSphere(a, b)
    d != null && d.doubleValue <= m
  }

  /** Geodetic (sphere) distance in meters between the centroids of two
    * WKB geometries interpreted as EPSG:4326 lon/lat — the
    * ST_DistanceSphere point semantics. Null on broken input. The
    * reference's data contract is 4326 (east_asia.py:55,245-246), where
    * planar degree distance is wrong away from the equator. */
  def distanceSphere(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    val ga = readOrNull(a)
    val gb = readOrNull(b)
    if (ga == null || gb == null || ga.isEmpty || gb.isEmpty) return null
    val ca = ga.getCentroid
    val cb = gb.getCentroid
    Double.box(haversine(ca.getY, ca.getX, cb.getY, cb.getX))
  }

  // -------------------------------------------------------------------------
  // Measures, constructive ops, and binary overlays — the DuckDB-spatial /
  // PostGIS surface beyond the reference's own call sites, so a user of the
  // reference's engine can keep the rest of their spatial SQL when they
  // switch (interop depth per VERDICT r5; DuckDB spatial is the reference's
  // execution engine, east_asia.py:49-50).
  // -------------------------------------------------------------------------

  /** Length of the lineal parts only — 0 for points and polygons (PostGIS /
    * DuckDB ST_Length semantics: polygon boundaries are measured by
    * [[perimeter]], not length). */
  def length(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) return null
    var sum = 0.0
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case l: LineString => sum += l.getLength
        case _ => ()
      }
      i += 1
    }
    Double.box(sum)
  }

  /** Boundary length of the polygonal parts only — 0 otherwise (PostGIS /
    * DuckDB ST_Perimeter semantics). */
  def perimeter(wkb: Array[Byte]): java.lang.Double = {
    val g = readOrNull(wkb)
    if (g == null) return null
    var sum = 0.0
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case p: Polygon => sum += p.getLength
        case _ => ()
      }
      i += 1
    }
    Double.box(sum)
  }

  /** Envelope as a geometry: POLYGON for areal extents, degenerate inputs
    * yield JTS's POINT/LINESTRING forms (PostGIS ST_Envelope). */
  def envelopeGeom(wkb: Array[Byte]): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null else write(g.getEnvelope)
  }

  def convexHull(wkb: Array[Byte]): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null || g.isEmpty) null else write(g.convexHull())
  }

  /** JTS buffer with round joins and `quadSegs` segments per quadrant —
    * DuckDB/PostGIS ST_Buffer defaults at quadSegs = 8. Negative distances
    * shrink polygons (and may empty them, returned as an empty polygon). */
  def buffer(wkb: Array[Byte], dist: Double, quadSegs: Int): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null) null
    else write(org.locationtech.jts.operation.buffer.BufferOp
      .bufferOp(g, dist, new org.locationtech.jts.operation.buffer.BufferParameters(quadSegs)))
  }

  /** Douglas–Peucker simplification at `tolerance` (PostGIS ST_Simplify:
    * topology not preserved; collapsed parts drop). */
  def simplify(wkb: Array[Byte], tolerance: Double): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null) null
    else write(org.locationtech.jts.simplify.DouglasPeuckerSimplifier
      .simplify(g, tolerance))
  }

  /** OGC validity per JTS IsValidOp (null for undecodable bytes — distinct
    * from a well-formed-but-invalid geometry, which is false). */
  def isValid(wkb: Array[Byte]): java.lang.Boolean = {
    val g = readOrNull(wkb)
    if (g == null) null else java.lang.Boolean.valueOf(g.isValid)
  }

  /** Repair invalid geometry (JTS GeometryFixer — the PostGIS ST_MakeValid
    * capability): bowties split into their lobes, duplicate rings merge. */
  def makeValid(wkb: Array[Byte]): Array[Byte] = {
    val g = readOrNull(wkb)
    if (g == null) null
    else write(org.locationtech.jts.geom.util.GeometryFixer.fix(g))
  }

  private def overlay(a: Array[Byte], b: Array[Byte])(
      op: (Geometry, Geometry) => Geometry): Array[Byte] = {
    val ga = readOrNull(a)
    val gb = readOrNull(b)
    if (ga == null || gb == null) null
    else try write(op(ga, gb))
    catch { case _: org.locationtech.jts.geom.TopologyException => null }
  }

  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay(a, b)(_.union(_))
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay(a, b)(_.intersection(_))
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay(a, b)(_.difference(_))
  def symDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay(a, b)(_.symDifference(_))

  /** a within b ≡ b contains a. */
  def within(a: Array[Byte], b: Array[Byte]): Boolean = contains(b, a)

  /** Distance-bounded proximity via JTS isWithinDistance (envelope
    * short-circuit — cheaper than materializing the distance). */
  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean = {
    val ga = readOrNull(a)
    val gb = readOrNull(b)
    ga != null && gb != null && ga.isWithinDistance(gb, d)
  }

  /** Boundary polygon (WKT) of a grid cell — capability twin of
    * H3_CELL_TO_BOUNDARY_WKT (East-Asia-Building-Footprints.md:264). */
  def cellBoundaryWkt(cell: Long): String = {
    val res = (cell >> 58).toInt
    val n = 1L << res
    val ix = (cell >> res) & (n - 1)
    val iy = cell & (n - 1)
    val lon0 = -180.0 + ix * 360.0 / n
    val lon1 = -180.0 + (ix + 1) * 360.0 / n
    val lat0 = -90.0 + iy * 180.0 / n
    val lat1 = -90.0 + (iy + 1) * 180.0 / n
    s"POLYGON (($lon0 $lat0, $lon1 $lat0, $lon1 $lat1, $lon0 $lat1, $lon0 $lat0))"
  }

  /** Centroid longitude of a cell (for the anti-meridian band filter P6). */
  def cellCenterLon(cell: Long): Double = {
    val res = (cell >> 58).toInt
    val n = 1L << res
    val ix = (cell >> res) & (n - 1)
    -180.0 + (ix + 0.5) * 360.0 / n
  }
}
