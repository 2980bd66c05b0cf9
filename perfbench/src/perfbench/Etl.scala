package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import graft.geom.GeomLib
import graft.operators.{GeoNormalize, GeoStats, MergeParquet}
import graft.sources.{Shapefile, ShapefileCodec}

object Etl {
  val kinds: Seq[String] = Seq("etl.readsplit", "etl.convert", "etl.merge", "etl.profile")

  /** One generated set of sources: where, how many records, how many of
    * them are planted null or broken shapes. */
  final case class Sources(dir: Path, perSource: Int, records: Long, planted: Long,
      boxes: Array[Gen.Box]) {
    def maxRows: Long = perSource * 5L / 2 // ~2 sources per merged file
    def bounds: Seq[Double] =
      Seq(boxes.map(_.x0).min, boxes.map(_.y0).min, boxes.map(_.x1).max, boxes.map(_.y1).max)
  }
}

/** The source paper's `main` + `merge-pqs` + profiling path: shapefile
  * sources → `Shapefile.readSplit` → staged WKB parquet →
  * `GeoNormalize.convertAll` (Hilbert-clustered zstd-22 GeoParquet per
  * source) → `MergeParquet.merge` at zstd 22 → `GeoStats` shape-type
  * histogram, grid heatmap and bbox of the merged output. One step is one
  * whole pass. */
final class Etl(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Etl.Sources

  val name = "etl"
  val opKinds = Etl.kinds
  val mainKinds = Set("etl.readsplit", "etl.convert")
  val sideKinds = Set("etl.merge")
  val aliases = Seq(
    "main_rows_per_s" -> "etl_ingest_rows_per_s",
    "side_rows_per_s" -> "etl_merge_rows_per_s",
    "stored_bytes_per_row" -> "etl_out_bytes_per_row")

  /** (name, EPSG, Z shapes, lat/lon flipped) of each source. */
  private val sources = Seq(
    ("a_2d", 4326, false, false), ("b_3d", 4326, true, false),
    ("c_merc3d", 3857, true, false), ("d_flipped", 4326, false, true))
  private val perSource = 6000

  private var main: Sources = _
  private var warm: Sources = _
  private var workDir: Path = _
  private var pass = 0
  private var lastMerged: Seq[String] = Nil

  def setup(dir: Path): Unit = {
    val rnd = new Random(seed)
    val cs = Gen.cities(rnd, 12)
    main = write(dir.resolve("src"), perSource, rnd, cs)
    warm = write(dir.resolve("warm-src"), 100, rnd, cs)
    workDir = Files.createDirectories(dir.resolve("passes"))
    pass = 0
  }

  private def write(dir: Path, n: Int, rnd: Random, cs: Array[Gen.City]): Sources = {
    Files.createDirectories(dir)
    var planted = 0L
    val own = Array.newBuilder[Gen.Box]
    sources.foreach { case (name, epsg, z, flipped) =>
      val recs = (0 until n).map { i =>
        if (i % 97 == 13) { planted += 1; Gen.NullShape }
        else if (i % 89 == 7) { planted += 1; Gen.Broken }
        else {
          val b = Gen.building(rnd, Gen.pickCity(rnd, cs))
          own += b
          val ring = Gen.ring(b).map { c =>
            if (epsg == 3857) Gen.toMercator(c)
            else if (flipped) new org.locationtech.jts.geom.Coordinate(c.y, c.x)
            else c
          }
          Gen.Poly(ring, 3.0 + (i % 40))
        }
      }
      Gen.writeShapefile(dir, name, recs, z, epsg, i => 3.0 + (i % 40))
    }
    Sources(dir, n, n.toLong * sources.size, planted, own.result())
  }

  private def footers(files: Seq[String]) = {
    val conf = new Configuration()
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getFooter finally r.close()
    }
  }

  private def parquetFiles(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.substring(p.lastIndexOf('/') + 1).startsWith("."))
        .toSeq.sorted
      finally s.close()
    }

  /** Warm-up: one pass over the small source set, merging at zstd 1 (the
    * level-22 cost is native code, nothing there to warm). */
  override def warmup(r: Run): Unit = runPass(r, warm, mergeLevel = 1)

  def step(r: Run): Unit = runPass(r, main, mergeLevel = 22)
  val cycleSteps = 1

  private def runPass(r: Run, src: Sources, mergeLevel: Int): Unit = {
    pass += 1
    Stats.deleteTree(workDir.resolve(s"p${pass - 1}"))
    val root = Files.createDirectories(workDir.resolve(s"p$pass"))
    val stage = root.resolve("stage")
    val conv = root.resolve("conv")
    val merged = root.resolve("merged")
    val expected = src.records - src.planted
    if (!r.op("etl.readsplit") {
      Shapefile.readSplit(spark, src.dir.toString, maxRecordsPerSplit = src.perSource / 2)
        .write.partitionBy("source").parquet(stage.toString)
      src.records
    }) return
    val staged = Files.list(stage).iterator.asScala.filter(Files.isDirectory(_)).toSeq
      .sortBy(_.toString).map { d =>
        val base = d.getFileName.toString.stripPrefix("source=").stripSuffix(".shp")
        val wkt = new String(Files.readAllBytes(src.dir.resolve(s"$base.prj")), "UTF-8")
        d.toString -> ShapefileCodec.epsgFromPrj(wkt).getOrElse(4326)
      }
    if (!r.op("etl.convert") {
      val failures = GeoNormalize.convertAll(spark, staged, conv.toString,
        numFilesPerSource = 1, seed = seed, maxConcurrent = cores)
      failures.headOption.foreach { case (_, e) => throw e }
      expected
    }) return
    val converted = parquetFiles(conv)
    if (!r.op("etl.merge") {
      MergeParquet.merge(spark, converted, merged.toString, maxRows = src.maxRows,
        zstdLevel = mergeLevel, maxConcurrent = cores)
      expected
    }) return

    val outFiles = parquetFiles(merged)
    val convFooters = footers(converted)
    val outFooters = footers(outFiles)
    val rowsOut = outFooters.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
    r.check(rowsOut == expected, s"etl pass $pass: $rowsOut rows out, expected $expected")
    r.check(convFooters.forall(_.getFileMetaData.getKeyValueMetaData.containsKey("geo")),
      s"etl pass $pass: converted file without a geo footer")
    r.check((convFooters ++ outFooters).forall(_.getBlocks.asScala.forall(
      _.getColumns.asScala.forall(_.getCodec == CompressionCodecName.ZSTD))),
      s"etl pass $pass: column chunk not zstd-compressed")
    r.check(outFooters.forall(_.getBlocks.asScala.map(_.getRowCount).sum <= src.maxRows),
      s"etl pass $pass: merged file over maxRows ${src.maxRows}")
    r.record("etl.ingest_ms", r.samples.takeRight(3).take(2).map(_.ms).sum)
    r.record("etl.output_bytes", outFiles.map(f => Files.size(java.nio.file.Paths.get(f))).sum.toDouble)
    r.record("etl.merge_batches", Files.list(merged).iterator.asScala
      .count(p => p.getFileName.toString.startsWith("merged_")))
    r.record("etl.rows_dropped", (src.records - rowsOut).toDouble)
    lastMerged = outFiles

    r.op("etl.profile") {
      val out = spark.read.parquet(outFiles: _*)
      val hist = GeoStats.ewkbStats(out).collect()
        .map(h => h.getAs[Int]("shape_type") -> h.getAs[Long]("num_recs"))
      val heat = GeoStats.cellHeatmap(out).agg(sum("num_recs")).head().getLong(0)
      val b = GeoStats.bbox(out).head()
      val got = Seq(b.getDouble(0), b.getDouble(2), b.getDouble(1), b.getDouble(3))
      r.check(hist.forall(_._1 == 3) && hist.map(_._2).sum == expected,
        s"etl pass $pass: shape-type histogram ${hist.toSeq}, expected $expected polygons")
      r.check(heat == expected, s"etl pass $pass: heatmap counts sum to $heat, not $expected")
      // 3857 sources round-trip through the transform: equal to ~1e-9 degrees
      r.check(got.zip(src.bounds).forall { case (g, w) => math.abs(g - w) < 1e-9 },
        s"etl pass $pass: bbox $got, generator bounds ${src.bounds}")
      expected
    }
  }

  /** Hilbert keys never decrease within a merged file (read in order). */
  def finish(r: Run): Unit = lastMerged.foreach { f =>
    val keys = spark.read.parquet(f).select("geom").collect()
      .map(row => GeomLib.hilbertOfGeom(row.getAs[Array[Byte]](0)).longValue)
    r.check(keys.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      s"etl: Hilbert keys decrease within $f")
  }

  /** An ingest pass is readSplit + convert. */
  override def endToEnd(r: Run): Map[String, Double] =
    super.endToEnd(r) + ("main_p50_ms" -> Stats.median(r.seriesOf("etl.ingest_ms")))

  def storedBytesPerRow(r: Run): Double =
    lastMerged.map(f => Files.size(java.nio.file.Paths.get(f))).sum.toDouble /
      math.max(1L, main.records - main.planted)

  override def layer(r: Run, t: Trace): Map[String, Double] = {
    val merges = t.ops.filter(o => o.ok && o.kind == "etl.merge")
    Map(
      "etl.merge_batches" -> Stats.median(r.seriesOf("etl.merge_batches")),
      "etl.rows_dropped" -> Stats.median(r.seriesOf("etl.rows_dropped")),
      "etl.output_bytes" -> Stats.median(r.seriesOf("etl.output_bytes")),
      "etl.merge_task_max_ms" ->
        Stats.median(merges.map(o => t.jobsOf(o).map(_.taskMaxMs).foldLeft(0L)(math.max).toDouble).toSeq))
  }

  def kernelInputs: KernelInputs = {
    val gen = Kernels.generated(seed)
    val own = Kernels.fromBoxes(main.boxes.take(4000), gen.texts, gen.vectors)
    own.copy(shp = Files.readAllBytes(main.dir.resolve("a_2d.shp")), shpRecords = perSource)
  }
}
