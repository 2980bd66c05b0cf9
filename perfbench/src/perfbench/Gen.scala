package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.util.Random

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, PrecisionModel}

import graft.geom.{CrsTransform, GeomLib}

/** Seeded synthetic inputs shared by the workloads. Everything here is
  * plain JVM code: the library only ever sees the generated bytes. */
object Gen {
  val gf = new GeometryFactory(new PrecisionModel(), 4326)

  /** A city: building footprints scatter around (lon, lat) with a
    * gaussian of `spread` degrees. Cities sit in the East-Asia box the
    * source paper processes, clear of the anti-meridian. */
  final case class City(lon: Double, lat: Double, spread: Double)

  def cities(rnd: Random, n: Int): Array[City] =
    Array.fill(n)(City(100.0 + rnd.nextDouble() * 44.0,
      20.0 + rnd.nextDouble() * 24.0, 0.05 + rnd.nextDouble() * 0.25))

  /** Zipf-ish city pick: a few large cities hold most buildings. */
  def pickCity(rnd: Random, cs: Array[City]): City = {
    val u = rnd.nextDouble()
    cs(math.min(cs.length - 1, (cs.length * u * u * u).toInt))
  }

  /** An axis-aligned building footprint: (minx, miny, maxx, maxy). */
  final case class Box(x0: Double, y0: Double, x1: Double, y1: Double) {
    def cx: Double = (x0 + x1) / 2
    def cy: Double = (y0 + y1) / 2
  }

  def building(rnd: Random, c: City): Box = {
    val cx = c.lon + rnd.nextGaussian() * c.spread
    val cy = c.lat + rnd.nextGaussian() * c.spread
    val w = 0.00008 + rnd.nextDouble() * 0.0004
    val h = 0.00008 + rnd.nextDouble() * 0.0004
    Box(cx - w, cy - h, cx + w, cy + h)
  }

  /** Clockwise ring (the ESRI shell orientation), closed. */
  def ring(b: Box): Array[Coordinate] = Array(
    new Coordinate(b.x0, b.y0), new Coordinate(b.x0, b.y1),
    new Coordinate(b.x1, b.y1), new Coordinate(b.x1, b.y0),
    new Coordinate(b.x0, b.y0))

  def polygon(b: Box): Geometry = gf.createPolygon(ring(b))

  def wkb(b: Box): Array[Byte] = GeomLib.write(polygon(b))

  def polygon3dWkb(b: Box, z: Double): Array[Byte] = {
    val cs = ring(b).map(c => new Coordinate(c.x, c.y, z))
    GeomLib.write3D(gf.createPolygon(cs))
  }

  // ---------------------------------------------------------------------
  // ESRI shapefile trio writer (public 1998 spec): .shp, .shx, .dbf, .prj

  /** One shapefile record: a polygon ring, a Null shape, or a broken
    * polygon (a 2-point ring the decoder must drop). */
  sealed trait Rec
  final case class Poly(ring: Array[Coordinate], z: Double) extends Rec
  case object NullShape extends Rec
  case object Broken extends Rec

  private def contentBytes(r: Rec, withZ: Boolean): Array[Byte] = r match {
    case NullShape =>
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(0).array()
    case Broken =>
      polyContent(Array(new Coordinate(0, 0), new Coordinate(1, 1)), 0.0, withZ)
    case Poly(ring, z) => polyContent(ring, z, withZ)
  }

  private def polyContent(pts: Array[Coordinate], z: Double,
      withZ: Boolean): Array[Byte] = {
    val n = pts.length
    val len = 44 + 4 + 16 * n + (if (withZ) 16 + 8 * n else 0)
    val bb = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(if (withZ) 15 else 5)
    bb.putDouble(pts.map(_.x).min).putDouble(pts.map(_.y).min)
    bb.putDouble(pts.map(_.x).max).putDouble(pts.map(_.y).max)
    bb.putInt(1).putInt(n).putInt(0)
    pts.foreach(c => bb.putDouble(c.x).putDouble(c.y))
    if (withZ) {
      bb.putDouble(z).putDouble(z)
      (0 until n).foreach(_ => bb.putDouble(z))
    }
    bb.array()
  }

  private def header(fileBytes: Int, shapeType: Int): ByteBuffer = {
    val bb = ByteBuffer.allocate(100)
    bb.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, fileBytes / 2)
    bb.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, shapeType)
    bb
  }

  /** The .shp bytes and the .shx bytes of `recs`. */
  def shpBytes(recs: Seq[Rec], withZ: Boolean): (Array[Byte], Array[Byte]) = {
    val contents = recs.map(contentBytes(_, withZ))
    val shpLen = 100 + contents.map(8 + _.length).sum
    val shp = ByteBuffer.allocate(shpLen)
    shp.put(header(shpLen, if (withZ) 15 else 5).array())
    val shx = ByteBuffer.allocate(100 + 8 * contents.length)
    shx.put(header(100 + 8 * contents.length, if (withZ) 15 else 5).array())
    contents.zipWithIndex.foreach { case (c, i) =>
      shx.order(ByteOrder.BIG_ENDIAN).putInt(shp.position() / 2).putInt(c.length / 2)
      shp.order(ByteOrder.BIG_ENDIAN).putInt(i + 1).putInt(c.length / 2)
      shp.put(c)
    }
    (shp.array(), shx.array())
  }

  /** dBASE III attributes: ID (numeric) and HEIGHT (numeric, 1 decimal). */
  def dbfBytes(n: Int, heights: Int => Double): Array[Byte] = {
    val fields = Seq(("ID", 10, 0), ("HEIGHT", 8, 1))
    val recLen = 1 + fields.map(_._2).sum
    val hdrLen = 32 + 32 * fields.length + 1
    val bb = ByteBuffer.allocate(hdrLen + recLen * n + 1).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0, 0x03.toByte).putInt(4, n).putShort(8, hdrLen.toShort)
      .putShort(10, recLen.toShort)
    bb.position(32)
    fields.foreach { case (name, len, dec) =>
      val d = new Array[Byte](32)
      name.getBytes("ASCII").copyToArray(d)
      d(11) = 'N'.toByte; d(16) = len.toByte; d(17) = dec.toByte
      bb.put(d)
    }
    bb.put(0x0D.toByte)
    (0 until n).foreach { i =>
      bb.put(0x20.toByte)
      bb.put(("%10d".format(i + 1)).getBytes("ASCII"))
      bb.put(("%8.1f".format(heights(i))).getBytes("ASCII"))
    }
    bb.put(0x1A.toByte)
    bb.array()
  }

  def prj(epsg: Int): String = epsg match {
    case 3857 =>
      "PROJCS[\"WGS 84 / Pseudo-Mercator\",GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
        "SPHEROID[\"WGS 84\",6378137,298.257223563]]],PROJECTION[\"Mercator_1SP\"]," +
        "UNIT[\"metre\",1],AUTHORITY[\"EPSG\",\"3857\"]]"
    case _ =>
      "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137," +
        "298.257223563]],UNIT[\"degree\",0.0174532925199433],AUTHORITY[\"EPSG\",\"4326\"]]"
  }

  def writeShapefile(dir: Path, name: String, recs: Seq[Rec], withZ: Boolean,
      epsg: Int, heights: Int => Double): Unit = {
    val (shp, shx) = shpBytes(recs, withZ)
    Files.write(dir.resolve(s"$name.shp"), shp)
    Files.write(dir.resolve(s"$name.shx"), shx)
    Files.write(dir.resolve(s"$name.dbf"), dbfBytes(recs.size, heights))
    Files.write(dir.resolve(s"$name.prj"), prj(epsg).getBytes("UTF-8"))
  }

  /** lon/lat → EPSG:3857 metres, through the library's own transform so
    * the round trip back to 4326 is the one the pipeline applies. */
  def toMercator(c: Coordinate): Coordinate = {
    val (x, y) = CrsTransform.transformXY(c.x, c.y, 4326, 3857)
    new Coordinate(x, y)
  }

  // ---------------------------------------------------------------------
  // text corpus and embeddings

  /** Zipf-vocabulary documents with planted duplicates: every `nearEvery`
    * -th doc copies its predecessor with word 0 replaced (a near
    * duplicate), and every `exactEvery`-th doc copies it verbatim. Returns
    * the texts and the number of planted duplicates. */
  def corpus(rnd: Random, n: Int, words: Int = 60, nearEvery: Int = 50,
      exactEvery: Int = 500): (Array[String], Int) = {
    def word(): String =
      if (rnd.nextInt(10) < 3) "h" + rnd.nextInt(50)
      else "w" + (rnd.nextDouble() * rnd.nextDouble() * 20000).toInt
    val out = new Array[String](n)
    var planted = 0
    var i = 0
    while (i < n) {
      if (i > 0 && i % exactEvery == exactEvery - 1 && out(i - 1) != null &&
          !isCopy(i - 1, nearEvery, exactEvery)) {
        out(i) = out(i - 1); planted += 1
      } else if (i > 0 && i % nearEvery == nearEvery - 1 &&
          !isCopy(i - 1, nearEvery, exactEvery)) {
        out(i) = "nd" + rnd.nextInt(1000) + out(i - 1).substring(out(i - 1).indexOf(' '))
        planted += 1
      } else out(i) = Array.fill(words)(word()).mkString(" ")
      i += 1
    }
    (out, planted)
  }

  private def isCopy(i: Int, nearEvery: Int, exactEvery: Int): Boolean =
    i > 0 && (i % nearEvery == nearEvery - 1 || i % exactEvery == exactEvery - 1)

  /** Clustered embeddings: `n` vectors of `dim` floats around `k` random
    * centres. */
  def embeddings(rnd: Random, n: Int, dim: Int, k: Int): Array[Array[Float]] = {
    val centres = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    Array.fill(n) {
      val c = centres(rnd.nextInt(k))
      Array.tabulate(dim)(j => (c(j) + 0.35 * rnd.nextGaussian()).toFloat)
    }
  }
}
