package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomLib
import graft.sources.{Shapefile, ShapefileCodec}

/** Builds minimal .shp byte images by hand (per the public ESRI spec) and
  * checks the decoder; then the distributed read path. */
object ShpFixture {

  private def header(shapeType: Int, totalWords: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994)
    b.putInt(24, totalWords)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000)
    b.putInt(32, shapeType)
    b.array()
  }

  /** dBASE III sidecar with fields NAME(C,8), POP(N,6); two records. */
  def dbf(): Array[Byte] = {
    val fields = Seq(("NAME", 'C', 8), ("POP", 'N', 6))
    val recSize = 1 + fields.map(_._3).sum
    val headerSize = 32 + fields.size * 32 + 1
    val b = ByteBuffer.allocate(headerSize + 2 * recSize + 1)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.put(0, 3.toByte)
    b.putInt(4, 2) // record count
    b.putShort(8, headerSize.toShort)
    b.putShort(10, recSize.toShort)
    fields.zipWithIndex.foreach { case ((name, t, len), i) =>
      val off = 32 + i * 32
      name.getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) => b.put(off + j, c) }
      b.put(off + 11, t.toByte)
      b.put(off + 16, len.toByte)
    }
    b.put(32 + fields.size * 32, 0x0d.toByte)
    def rec(off: Int, name: String, pop: String): Unit = {
      b.put(off, ' '.toByte)
      name.padTo(8, ' ').getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) =>
        b.put(off + 1 + j, c) }
      pop.reverse.padTo(6, ' ').reverse.getBytes("US-ASCII").zipWithIndex.foreach {
        case (c, j) => b.put(off + 9 + j, c) }
    }
    rec(headerSize, "tokyo", "37400")
    rec(headerSize + recSize, "osaka", "19200")
    b.array()
  }

  /** `n` point records with matching .shx index: (shpBytes, shxBytes). */
  def manyPoints(n: Int): (Array[Byte], Array[Byte]) = {
    val shpTotal = 100 + n * 28
    val shp = ByteBuffer.allocate(shpTotal)
    shp.put(header(1, shpTotal / 2))
    val shx = ByteBuffer.allocate(100 + n * 8)
    shx.put(header(1, (100 + n * 8) / 2))
    shx.order(ByteOrder.BIG_ENDIAN)
    var offWords = 50 // 100 bytes
    (1 to n).foreach { i =>
      shp.order(ByteOrder.BIG_ENDIAN).putInt(i).putInt(10)
      shp.order(ByteOrder.LITTLE_ENDIAN).putInt(1)
        .putDouble(i * 0.01 - 25.0).putDouble(i * 0.005 - 12.5)
      shx.putInt(offWords).putInt(10)
      offWords += 14 // 28 bytes per record
    }
    (shp.array(), shx.array())
  }

  /** One Point record + one Polygon record (single CW ring). */
  def pointAndPolygon(): Array[Byte] = {
    // point record: header 8 + content (4 + 16) = 28 bytes
    val pt = ByteBuffer.allocate(28)
    pt.order(ByteOrder.BIG_ENDIAN).putInt(1).putInt(10) // rec 1, 10 words
    pt.order(ByteOrder.LITTLE_ENDIAN).putInt(1).putDouble(116.4).putDouble(39.9)
    // polygon: bbox(32) + numParts(4) + numPoints(4) + parts(4) + 5 pts (80)
    val content = 4 + 32 + 4 + 4 + 4 + 80
    val pg = ByteBuffer.allocate(8 + content)
    pg.order(ByteOrder.BIG_ENDIAN).putInt(2).putInt(content / 2)
    pg.order(ByteOrder.LITTLE_ENDIAN)
    pg.putInt(5) // polygon
    pg.putDouble(0).putDouble(0).putDouble(1).putDouble(1) // bbox
    pg.putInt(1).putInt(5).putInt(0)
    // clockwise ring (ESRI shell orientation): (0,0) (0,1) (1,1) (1,0) (0,0)
    Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)).foreach {
      case (x, y) => pg.putDouble(x).putDouble(y)
    }
    val total = 100 + 28 + 8 + content
    val out = ByteBuffer.allocate(total)
    out.put(header(1, total / 2)).put(pt.array()).put(pg.array())
    out.array()
  }
}

/** The local file system under a scheme of its own, which only a conf that
  * names its class (`fs.sessiononly.impl`) can open. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessiononly:///")
  override def getScheme: String = "sessiononly"
}

class ShapefileSpec extends AnyFunSuite {

  test("decode point + polygon records to WKB") {
    val rows = ShapefileCodec.decode(ShpFixture.pointAndPolygon())
    assert(rows.map(_._1) == Seq(1, 2))
    assert(rows.map(_._2) == Seq(1, 5))
    val pt = rows.head._3
    assert(GeomLib.wkbShapeType(pt) == 1)
    assert(math.abs(GeomLib.stX(pt) - 116.4) < 1e-12)
    val poly = rows(1)._3
    assert(GeomLib.wkbShapeType(poly) == 3) // WKB polygon
    assert(GeomLib.xMin(poly) == 0.0 && GeomLib.xMax(poly) == 1.0)
  }

  test("garbage and truncated input decode to empty, never throw") {
    assert(ShapefileCodec.decode(Array.fill(50)(7.toByte)).isEmpty)
    assert(ShapefileCodec.decode(ShpFixture.pointAndPolygon().take(110)).nonEmpty == false ||
      ShapefileCodec.decode(ShpFixture.pointAndPolygon().take(110)).size <= 1)
  }

  test("epsg inference from .prj WKT") {
    assert(ShapefileCodec.epsgFromPrj(
      """PROJCS["x",GEOGCS["GCS_WGS_1984"],AUTHORITY["EPSG","32650"]]""") == Some(32650))
    assert(ShapefileCodec.epsgFromPrj(
      """PROJCS["WGS 84 / UTM zone 50N",GEOGCS["WGS 84"]]""") == Some(32650))
    assert(ShapefileCodec.epsgFromPrj("""GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]""") == Some(4326))
    assert(ShapefileCodec.epsgFromPrj("""PROJCS["Weird Local Grid"]""") == None)
    assert(ShapefileCodec.epsgFromPrj(null) == None)
  }

  test("dbf decode: fields, records, record numbering") {
    val bytes = ShpFixture.dbf()
    import graft.sources.DbfCodec
    assert(DbfCodec.fields(bytes).map(f => (f.name, f.ftype, f.length)) ==
      Seq(("NAME", 'C', 8), ("POP", 'N', 6)))
    val recs = DbfCodec.decode(bytes)
    assert(recs == Seq(
      1 -> Map("NAME" -> "tokyo", "POP" -> "37400"),
      2 -> Map("NAME" -> "osaka", "POP" -> "19200")))
    assert(DbfCodec.decode(Array.fill(10)(1.toByte)).isEmpty)
  }

  test("readWithAttrs joins .shp geometry with .dbf attributes") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("shpattr").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "demo.shp"),
      ShpFixture.pointAndPolygon())
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "demo.dbf"),
      ShpFixture.dbf())
    val df = Shapefile.readWithAttrs(spark, dir)
    assert(df.count() == 2)
    val byRec = df.collect().map(r =>
      r.getAs[Int]("record_no") -> r.getAs[Map[String, String]]("attrs")).toMap
    assert(byRec(1)("NAME") == "tokyo" && byRec(2)("POP") == "19200")
  }

  test("distributed read via binaryFile source") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "demo.shp"),
      ShpFixture.pointAndPolygon())
    val df = Shapefile.read(spark, dir)
    assert(df.columns.toSeq == Seq("source", "record_no", "shape_type", "geom"))
    assert(df.count() == 2)
    assert(df.filter(df("source") === "demo.shp").count() == 2)
  }

  test("shx record-range splitting matches whole-file decode") {
    val spark = SparkTestSession.spark
    val n = 5000
    val (shp, shx) = ShpFixture.manyPoints(n)
    assert(ShapefileCodec.splitRanges(shx, 1000).length == 5,
      "5000 records at 1000/split must yield 5 ranges")
    val dir = java.nio.file.Files.createTempDirectory("shpsplit").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.shp"), shp)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.shx"), shx)
    val split = Shapefile.readSplit(spark, dir, maxRecordsPerSplit = 1000)
    assert(split.rdd.getNumPartitions >= 2,
      "a .shx-indexed file must decode across multiple tasks")
    val whole = ShapefileCodec.decode(shp)
    assert(whole.length == n)
    val splitRows = split.collect()
      .map(r => (r.getInt(1), graft.geom.GeomLib.readOrNull(
        r.getAs[Array[Byte]](3)).getCoordinate.x)).toMap
    assert(splitRows.size == n)
    whole.foreach { case (no, _, wkb) =>
      assert(splitRows(no) == GeomLib.readOrNull(wkb).getCoordinate.x)
    }
  }

  test("readSplit falls back to whole-file decode when no .shx exists") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("shpnoshx").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "demo.shp"),
      ShpFixture.pointAndPolygon())
    assert(Shapefile.readSplit(spark, dir).count() == 2)
  }

  /** `big.shp` (`n` points) with its `.shx`, and `demo.shp` (2 records)
    * without one, in a new directory. */
  private def mixedDir(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("shpmixed").toString
    val (shp, shx) = ShpFixture.manyPoints(n)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.shp"), shp)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.shx"), shx)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "demo.shp"),
      ShpFixture.pointAndPolygon())
    dir
  }

  test("readSplit reads each .shp once: the indexed one only through its " +
    "ranges, the unindexed one whole") {
    val spark = SparkTestSession.spark
    val dir = mixedDir(3000)
    val (rows, c) = Harness.probe(spark)(
      Shapefile.readSplit(spark, dir, maxRecordsPerSplit = 1000)
        .select("source", "record_no").collect())
    val keys = rows.map(r => (r.getString(0), r.getInt(1)))
    assert(keys.length == 3002 && keys.distinct.length == keys.length)
    assert(keys.groupBy(_._1).map { case (k, v) => k -> v.length } ==
      Map("big.shp" -> 3000, "demo.shp" -> 2))
    // one record per file read whole: big.shx and demo.shp, not big.shp
    assert(c.recordsRead == 2, s"read ${c.recordsRead} whole files")
  }

  test("readSplit decodes an unindexed .shp whose name is a glob pattern " +
    "as itself, not as the indexed file the pattern matches") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("shpglob").toString
    val (shp, shx) = ShpFixture.manyPoints(50)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "roads2.shp"), shp)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "roads2.shx"), shx)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "roads[2020].shp"),
      ShpFixture.pointAndPolygon())
    val counts = Shapefile.readSplit(spark, dir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("roads2.shp" -> 50L, "roads[2020].shp" -> 2L),
      counts.toString)
  }

  test("readSplit's range tasks open files with the session's Hadoop conf") {
    val spark = SparkTestSession.spark
    val dir = mixedDir(2000)
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.sessiononly.impl", "fs.sessiononly.impl.disable.cache")
    try {
      conf.set(keys(0), classOf[SessionOnlyFs].getName)
      conf.set(keys(1), "true")
      val df = Shapefile.readSplit(spark, s"sessiononly:$dir",
        maxRecordsPerSplit = 500)
      assert(df.rdd.getNumPartitions >= 4)
      assert(df.count() == 2002)
    } finally keys.foreach(conf.unset)
  }
}
