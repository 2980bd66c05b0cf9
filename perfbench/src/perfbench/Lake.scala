package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types._

import graft.operators.{LakeSelect, TableLog}

object Lake {
  val kinds: Seq[String] = Seq("lake.optimize", "lake.append", "lake.update", "lake.delete",
    "lake.point", "lake.range", "lake.count")
  private val writeKinds = Set("lake.append", "lake.update", "lake.delete")

  /** Coordinates in microdegrees: integer footer stats can prove a whole
    * file inside a range (floating-point stats never do). */
  val schema = StructType(Seq(StructField("id", LongType), StructField("lon", LongType),
    StructField("lat", LongType), StructField("height", DoubleType)))

  final case class Pt(lon: Long, lat: Long, height: Double)

  private def e6(deg: Double): Long = math.round(deg * 1e6)
}

/** The lakehouse operators, run as op kinds of the corpus workload: one
  * client on a `TableLog` table of building points with blooms on `id`
  * and the row-group index. One cycle compacts (optimize clustered by
  * (lon, lat), then vacuum), writes (a small append, a single-row update
  * and delete) and reads (a point lookup on `id`, a bbox read, a
  * half-plane count through `LakeSelect`), so every read sees a clustered
  * table plus one cycle of writes. The driver keeps a model of the live
  * rows; every answer is checked against it. */
final class Lake(spark: SparkSession, seed: Long, cores: Int) {
  import Lake.{e6, Pt, schema}

  private val nRows = 20000
  private val fileRows = 5000L
  private val appendRows = 50

  private var dir: String = _
  private var rnd: Random = _
  private var cities: Array[Gen.City] = _
  private val live = mutable.HashMap.empty[Long, Pt]
  private var nextId = 0L

  private def point(): Pt = {
    val c = Gen.pickCity(rnd, cities)
    Pt(e6(c.lon + rnd.nextGaussian() * c.spread), e6(c.lat + rnd.nextGaussian() * c.spread),
      3.0 + rnd.nextInt(58))
  }

  private def frame(rows: Seq[(Long, Pt)], parts: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, p) => Row(id, p.lon, p.lat, p.height) }, parts), schema)

  private def newRows(n: Int): Seq[(Long, Pt)] = (0 until n).map { _ =>
    nextId += 1
    (nextId, point())
  }

  /** Load `nRows` in `cores` files and index them; each cycle's first
    * op clusters them. */
  def setup(at: Path): Unit = {
    rnd = new Random(seed * 31 + 7)
    cities = Gen.cities(rnd, 8)
    live.clear()
    nextId = 0L
    dir = at.toString
    val rows = newRows(nRows)
    TableLog.append(frame(rows, cores), dir)
    live ++= rows
    TableLog.computeBlooms(spark, dir, "id")
    TableLog.computeRowGroupIndex(spark, dir)
  }

  private def liveId(): Long = {
    var id = 1L + (rnd.nextDouble() * nextId).toLong
    while (!live.contains(id)) id = 1L + (rnd.nextDouble() * nextId).toLong
    id
  }

  /** A box of half a city spread around a city: the predicate and the
    * model's answer. */
  private def bbox(): (String, Set[Long]) = {
    val c = Gen.pickCity(rnd, cities)
    val d = c.spread / 2
    val Seq(x0, x1, y0, y1) = Seq(c.lon - d, c.lon + d, c.lat - d, c.lat + d).map(e6)
    val want = live.collect { case (id, p) if p.lon >= x0 && p.lon <= x1 && p.lat >= y0 && p.lat <= y1 => id }
    (s"lon >= ${x0}L AND lon <= ${x1}L AND lat >= ${y0}L AND lat <= ${y1}L", want.toSet)
  }

  /** Everything east of a city: whole files fall inside, so part of the
    * count can come from footers. */
  private def east(): (String, Int) = {
    val x0 = e6(Gen.pickCity(rnd, cities).lon)
    (s"lon >= ${x0}L", live.valuesIterator.count(_.lon >= x0))
  }

  private def pruning(r: Run, st: LakeSelect.Stats): Unit = {
    r.record("lake.rg_opened", st.rgOpened.toDouble)
    r.record("lake.rg_total", st.rgTotal.toDouble)
    r.record("lake.files_opened", st.filesOpened.toDouble)
    r.record("lake.files_total", st.filesTotal.toDouble)
  }

  val cycleSteps: Int = Lake.kinds.size

  /** Step `i` of the cycle, in the order of [[Lake.kinds]]. */
  def step(r: Run, i: Int): Unit = Lake.kinds(i) match {
    case "lake.append" =>
      val rows = newRows(appendRows)
      if (r.op("lake.append") { TableLog.append(frame(rows, 1), dir); appendRows }) live ++= rows
      r.record("lake.rows_written", appendRows)
    case "lake.update" =>
      val id = liveId()
      r.op("lake.update") {
        val (_, n, _, _) = TableLog.update(spark, dir, s"id = $id", Map("height" -> "height + 1"))
        r.check(n == 1, s"lake: update of id $id changed $n rows")
        live(id) = live(id).copy(height = live(id).height + 1)
        n
      }
      r.record("lake.rows_written", 1)
    case "lake.delete" =>
      val id = liveId()
      r.op("lake.delete") {
        val (_, n, _, _) = TableLog.delete(spark, dir, s"id = $id")
        r.check(n == 1, s"lake: delete of id $id removed $n rows")
        live -= id
        n
      }
      r.record("lake.rows_written", 1)
    case "lake.point" =>
      val id = liveId()
      r.op("lake.point") {
        val (df, st) = LakeSelect.readWhere(spark, dir, s"id = $id")
        val got = df.select("height").collect().map(_.getDouble(0)).toSeq
        r.check(got == Seq(live(id).height), s"lake: id $id read $got, model ${live(id).height}")
        pruning(r, st)
        1L
      }
    case "lake.range" =>
      val (pred, want) = bbox()
      r.op("lake.range") {
        val (df, st) = LakeSelect.readWhere(spark, dir, pred)
        val got = df.select("id").collect().map(_.getLong(0))
        r.check(got.length == want.size && got.toSet == want,
          s"lake: bbox read of $pred gave ${got.length} rows, model ${want.size}")
        pruning(r, st)
        got.length.toLong
      }
    case "lake.count" =>
      val (pred, want) = east()
      r.op("lake.count") {
        val (n, cs) = LakeSelect.countWhere(spark, dir, pred)
        r.check(n == want, s"lake: count of $pred is $n, model $want")
        r.record("lake.count_meta_rows", cs.metaRows.toDouble)
        r.record("lake.count_rows", n.toDouble)
        n
      }
    case "lake.optimize" =>
      r.record("lake.snapshot_files", TableLog.snapshot(dir).files.size.toDouble)
      r.op("lake.optimize") {
        TableLog.optimize(spark, dir, maxRows = fileRows, clusterBy = Seq("lon", "lat"))
        TableLog.vacuum(dir, TableLog.currentVersion(dir), graceMs = 0)
        live.size.toLong
      }
      r.record("lake.stored_bytes_per_row", storedBytes.toDouble / live.size)
  }

  /** All bytes under the table directory: data, sidecars and log. */
  private def storedBytes: Long = Stats.dirBytes(java.nio.file.Paths.get(dir))

  /** The table's count and `sum(height)` equal the model's. */
  def finish(r: Run): Unit = {
    val (n, _) = LakeSelect.countWhere(spark, dir)
    val total = TableLog.read(spark, dir).agg(sum("height")).head().getDouble(0)
    val want = live.valuesIterator.map(_.height).sum
    r.check(n == live.size, s"lake: table holds $n rows, model ${live.size}")
    r.check(total == want, s"lake: sum(height) $total, model $want")
  }

  /** Stored bytes per live row, measured after each compaction. */
  def storedBytesPerRow(r: Run): Double = Stats.median(r.seriesOf("lake.stored_bytes_per_row"))

  def layer(r: Run, t: Trace): Map[String, Double] = {
    def ratio(a: String, b: String) = {
      val d = r.seriesOf(b).sum
      if (d <= 0) 0.0 else r.seriesOf(a).sum / d
    }
    val writes = t.ops.filter(o => o.ok && Lake.writeKinds(o.kind)).toSeq
    val written = writes.flatMap(t.jobsOf).map(_.output).sum.toDouble
    val logical = r.seriesOf("lake.rows_written").sum * storedBytesPerRow(r)
    Map(
      "lake.rg_opened_ratio" -> ratio("lake.rg_opened", "lake.rg_total"),
      "lake.files_opened_ratio" -> ratio("lake.files_opened", "lake.files_total"),
      "lake.count_meta_ratio" -> ratio("lake.count_meta_rows", "lake.count_rows"),
      "lake.write_amp" -> (if (logical <= 0) 0.0 else written / logical),
      "lake.snapshot_files" -> Stats.median(r.seriesOf("lake.snapshot_files")),
      "lake.stored_bytes_per_row" -> storedBytesPerRow(r))
  }
}
