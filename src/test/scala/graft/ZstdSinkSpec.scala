package graft

import scala.jdk.CollectionConverters._

import com.github.luben.zstd.{EndDirective, Zstd, ZstdCompressCtx}
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.geom.GeomLib
import graft.operators.{Concurrency, GeoNormalize, ZstdSinkFormat}

/** The zstd sink's writer against Spark's built-in parquet writer: same
  * file layout, no larger chunks, one zstd context per file, a `geo` footer
  * equal to the one recomputed from each file's rows, page frames cut to
  * their page's size with the blocks the full geometry gives, and a failed
  * task leaves nothing committed and no context open. */
class ZstdSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("zsink").toString

  /** Points on a 200 × 60 grid with a near-duplicate text column and a
    * low-cardinality one (dictionary pages). Every column is nullable, as
    * a parquet read-back's are. */
  private def frame() = (0 until 12000).map { i =>
    val lon = -170.0 + (i % 200) * 1.7
    val lat = -75.0 + (i / 200) * 2.5
    (Option(i.toLong), s"building $i on block ${i % 97} of ward ${i % 13}",
      s"class_${i % 7}", GeomLib.pointWkb(lon, lat))
  }.toDF("fid", "label", "kind", "geom")

  private case class Chunk(path: String, codec: CompressionCodecName,
      encodings: Set[String], pages: Int, bytes: Long)
  private case class Layout(rowGroups: Seq[Long], chunks: Seq[Chunk],
      sparkSchema: String)

  private def layout(file: String): Layout = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val chunks = blocks.flatMap(_.getColumns.asScala.map { c =>
        val oi = r.readOffsetIndex(c)
        assert(oi != null, s"no offset index in $file")
        Chunk(c.getPath.toDotString, c.getCodec,
          c.getEncodings.asScala.map(_.name).toSet, oi.getPageCount,
          c.getTotalSize)
      })
      Layout(blocks.map(_.getRowCount), chunks, r.getFooter.getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq

  /** Each sink file's stored `geo` value and the one `geoFooterJson` gives
    * for the Spark aggregates over that file's rows (envelope min/max, set
    * of WKB type codes; no bbox when no row has an envelope). */
  private def geoFooters(dir: String): Seq[(String, Option[String], String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(dir).map { f =>
      val r = spark.read.parquet(f)
        .agg(min(st_xmin($"geom")), min(st_ymin($"geom")),
          max(st_xmax($"geom")), max(st_ymax($"geom")),
          collect_set(wkb_shape_type($"geom")))
        .head()
      val bbox = Option.when(!r.isNullAt(0))(
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      (f, GeoNormalize.geoFooterOf(f, conf),
        GeoNormalize.geoFooterJson("geom", bbox, r.getSeq[Int](4)))
    }
  }

  test("writeClustered at level 22 matches Spark's parquet writer page for " +
    "page, with no larger chunks and one zstd context per file") {
    val df = frame()
    val rowGroupBytes = 64L * 1024
    val sink = tmp() + "/sink"
    val created0 = ZstdSinkFormat.contextsCreated.get()
    GeoNormalize.writeClustered(df, sink, numFiles = 4, zstdLevel = 22,
      rowGroupBytes = rowGroupBytes)
    val created = ZstdSinkFormat.contextsCreated.get() - created0
    // each sink file's rows, in file order (one small file is one split),
    // written again by Spark's own parquet writer with the same options
    val sf = parquetFiles(sink)
    val base = tmp()
    val pf = Concurrency.mapBounded(sf.indices, sf.size) { i =>
      spark.read.parquet(sf(i))
        .write.option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "22")
        .option("parquet.block.size", rowGroupBytes.toString)
        .parquet(s"$base/plain$i")
      parquetFiles(s"$base/plain$i")
    }.flatten
    assert(sf.size == 4 && pf.size == 4, (sf, pf))
    assert(sf.forall(_.endsWith(".zstd.parquet")))
    // one context per file written, not one per page
    assert(created == sf.size, s"$created contexts for ${sf.size} files")
    assert(ZstdSinkFormat.contextsOpen.get() == 0)
    var pages = 0
    sf.zip(pf).foreach { case (s, p) =>
      val (a, b) = (layout(s), layout(p))
      assert(a.rowGroups == b.rowGroups, s"row groups of $s")
      assert(a.rowGroups.size > 1, s"one row group in $s")
      assert(a.sparkSchema != null && a.sparkSchema == b.sparkSchema)
      assert(a.chunks.size == b.chunks.size)
      a.chunks.zip(b.chunks).foreach { case (x, y) =>
        assert(x.path == y.path && x.pages == y.pages &&
          x.encodings == y.encodings, s"$x vs $y")
        assert(x.codec == CompressionCodecName.ZSTD, x)
        assert(x.bytes <= y.bytes, s"$x larger than $y")
      }
      pages += a.chunks.map(_.pages).sum
    }
    assert(pages > 4 * sf.size, s"only $pages pages")
    val (ra, rb) = (spark.read.parquet(sink), spark.read.parquet(pf: _*))
    assert(ra.count() == df.count() && rb.count() == df.count())
    assert(ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty)
    assert(ra.exceptAll(df).isEmpty)
    geoFooters(sink).foreach { case (f, got, want) =>
      assert(got.contains(want), s"$f: $got vs $want")
      assert(want.contains("\"bbox\":[") && want.contains("[\"Point\"]"), want)
    }
  }

  /** The window log a zstd frame's header names: the Window_Descriptor
    * follows the 4-byte magic and the descriptor byte, which for these
    * frames (unknown size, no dictionary) flags no other field. */
  private def windowLog(frame: Array[Byte]): Int = {
    assert(frame(4) == 0, s"frame header flags ${frame(4)}")
    assert((frame(5) & 7) == 0, s"window mantissa in ${frame(5)}")
    10 + ((frame(5) & 0xff) >> 3)
  }

  private def ceilLog2(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(n, 2) - 1)

  test("page frames equal an unclamped context's but for the window they name") {
    // near-duplicate text lines, as a column of labels pages
    val rnd = new scala.util.Random(7)
    def page(n: Int): Array[Byte] = {
      val sb = new StringBuilder
      while (sb.length < n)
        sb ++= s"building ${rnd.nextInt(100000)} on block ${rnd.nextInt(97)} ${rnd.nextDouble()}\n"
      sb.toString.getBytes("UTF-8").take(n)
    }
    val pages = Seq(8, 20000, 150000, 1000000, 3000000).map(page)
    def plainFrame(zc: ZstdCompressCtx, p: Array[Byte]): Array[Byte] = {
      val src = java.nio.ByteBuffer.allocateDirect(p.length).put(p).flip()
      val dst = java.nio.ByteBuffer.allocateDirect(Zstd.compressBound(p.length).toInt)
      zc.compressDirectByteBufferStream(dst, src, EndDirective.CONTINUE)
      while (!zc.compressDirectByteBufferStream(dst, src, EndDirective.END)) {}
      dst.flip()
      val out = new Array[Byte](dst.remaining); dst.get(out); out
    }
    val defaultWindow = Map(1 -> 19, 3 -> 21, 9 -> 22, 19 -> 23, 22 -> 27)
    defaultWindow.foreach { case (level, w) =>
      val plain = new ZstdCompressCtx().setLevel(level)
      val sized = new ZstdSinkFormat.ZstdPages(level, 0)
      try pages.foreach { p =>
        val a = plainFrame(plain, p)
        val b = sized.compress(BytesInput.from(p)).toByteArray
        // the unclamped frame names the level's default window
        assert(windowLog(a) == w, s"level $level")
        val want = w.min(ceilLog2(p.length).max(17))
        assert(windowLog(b) == want, s"level $level, ${p.length} B page")
        assert(a.length == b.length && a.indices.forall(i => i == 5 || a(i) == b(i)),
          s"level $level, ${p.length} B page: ${a.length} vs ${b.length} B")
        assert(Zstd.decompress(b, p.length).sameElements(p))
      } finally { plain.close(); sized.release() }
    }
  }

  test("each page of a level-22 file is a frame no wider than its page") {
    val sink = tmp() + "/windows"
    GeoNormalize.writeClustered(frame(), sink, numFiles = 2, zstdLevel = 22,
      rowGroupBytes = 64L * 1024)
    val conf = spark.sparkContext.hadoopConfiguration
    var pages = 0
    parquetFiles(sink).foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach { c =>
        val in = new java.io.ByteArrayInputStream(bytes, c.getStartingPos.toInt,
          c.getTotalSize.toInt)
        while (in.available > 0) {
          val h = Util.readPageHeader(in)
          assert(h.getType == PageType.DATA_PAGE || h.getType == PageType.DICTIONARY_PAGE,
            s"${h.getType} page in $f")
          val body = in.readNBytes(h.getCompressed_page_size)
          val bound = ceilLog2(h.getUncompressed_page_size).max(17)
          assert(windowLog(body) <= bound,
            s"${c.getPath}: ${h.getUncompressed_page_size} B page, window 2^${windowLog(body)}")
          pages += 1
        }
      } finally r.close()
    }
    assert(pages > 8, s"only $pages pages")
  }

  test("the geo footer takes types and bbox only from decodable geometries") {
    // nulls, 3-byte stubs (no type code, no envelope) and an empty
    // linestring (type code 2, no envelope) beside points and squares
    val stub = Array[Byte](1, 3, 0)
    val emptyLine = Array[Byte](1, 2, 0, 0, 0, 0, 0, 0, 0)
    val mixed = (0 until 400).map { i =>
      val g = i % 5 match {
        case 0 => null
        case 1 => stub
        case 2 => emptyLine
        case 3 => GeomLib.pointWkb(10.0 + i * 0.1, -5.0 + i * 0.05)
        case _ => GeomLib.squareWkb(-20.0 + i * 0.1, 3.0, 0.5)
      }
      (i.toLong, g)
    }.toDF("fid", "geom")
    val sink = tmp() + "/mixed"
    GeoNormalize.writeClustered(mixed, sink, numFiles = 2, zstdLevel = 1)
    val footers = geoFooters(sink)
    assert(footers.size == 2)
    footers.foreach { case (f, got, want) =>
      assert(got.contains(want), s"$f: $got vs $want")
    }
    val all = footers.map(_._3).mkString
    assert(all.contains("\"bbox\":[") && all.contains("\"LineString\""), all)
    // no row with an envelope: types from the decodable shapes, no bbox
    val none = tmp() + "/noenv"
    GeoNormalize.writeClustered(mixed.filter($"fid" % 5 < 3), none, numFiles = 1,
      zstdLevel = 1)
    val Seq((f, got, want)) = geoFooters(none)
    assert(got.contains(want), s"$f: $got vs $want")
    assert(!want.contains("bbox") && want.contains("\"geometry_types\":[\"LineString\"]"),
      want)
    assert(spark.read.parquet(none).count() == 240)
  }

  test("other codecs go to parquet's own compressor") {
    val out = tmp() + "/snappy"
    val created0 = ZstdSinkFormat.contextsCreated.get()
    frame().limit(500).coalesce(1).write.format(ZstdSinkFormat.name)
      .option("compression", "snappy").save(out)
    assert(ZstdSinkFormat.contextsCreated.get() == created0)
    val files = parquetFiles(out)
    assert(files.size == 1 && files.head.endsWith(".snappy.parquet"))
    assert(layout(files.head).chunks.forall(_.codec == CompressionCodecName.SNAPPY))
    assert(spark.read.parquet(out).exceptAll(frame().limit(500)).isEmpty)
  }

  test("a task failing mid-partition fails the job with its own error, " +
    "commits no file and closes every zstd context") {
    val out = tmp() + "/aborted"
    val created0 = ZstdSinkFormat.contextsCreated.get()
    val failAt = udf { (i: Long) =>
      if (i == 5000L) throw new IllegalStateException("planted failure at fid 5000")
      i
    }
    // the UDF runs in the write task, after rows before it were written
    // (16 KB row groups, so whole pages are already compressed)
    val e = intercept[Exception] {
      frame().repartitionByRange(2, col("fid")).sortWithinPartitions("fid")
        .withColumn("fid", failAt(col("fid")))
        .write.format(ZstdSinkFormat.name)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "22")
        .option("parquet.block.size", (16 * 1024).toString)
        .save(out)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "planted failure at fid 5000"), causes.map(_.toString))
    assert(ZstdSinkFormat.contextsCreated.get() > created0)
    // the other task is cancelled; its writer closes as it aborts
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (ZstdSinkFormat.contextsOpen.get() != 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(ZstdSinkFormat.contextsOpen.get() == 0)
    val left = {
      val root = java.nio.file.Paths.get(out)
      if (!java.nio.file.Files.exists(root)) Seq.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .map(_.getFileName.toString).toSeq
    }
    assert(!left.contains("_SUCCESS"), left)
    assert(!left.exists(_.endsWith(".parquet")), left)
  }
}
