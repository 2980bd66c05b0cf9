package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed call into the library: its kind, wall time, and the rows
  * (or docs, queries) it processed. */
final case class Sample(kind: String, ms: Double, rows: Long)

/** Inputs for the single-threaded kernel timings, taken from the
  * workload's own generated data where the workload has that kind of
  * data (see README.md for which workloads borrow generated inputs). */
final case class KernelInputs(geoms: Array[Array[Byte]], geoms3d: Array[Array[Byte]],
    geoms3857: Array[Array[Byte]], shp: Array[Byte], shpRecords: Int,
    texts: Array[String], vectors: Array[Array[Float]])

/** A workload: seeded inputs, set-up, a closed-loop step, and the checks
  * that its outputs are right. One client issues one step at a time. */
trait Workload {
  def name: String
  /** Every op kind of the workload's cycle. */
  def opKinds: Seq[String]
  /** Op kinds whose samples make the `main_*` and `side_*` metrics. */
  def mainKinds: Set[String]
  def sideKinds: Set[String]
  /** Generic metric slot -> the workload-specific name it stands for. */
  def aliases: Seq[(String, String)]
  /** Generate the inputs and build the initial state under `dir`. */
  def setup(dir: Path): Unit
  /** One unit of closed-loop work: one or more ops through `r.op`. */
  def step(r: Run): Unit
  /** Steps in one turn of the workload's fixed op cycle. */
  def cycleSteps: Int
  /** Warm-up before timing: every op kind at least once. */
  def warmup(r: Run): Unit
  /** End-of-run correctness checks (per-op checks happen inside ops). */
  def finish(r: Run): Unit
  /** Bytes on disk per row of the workload's stored output. */
  def storedBytesPerRow(r: Run): Double
  /** Share of checked answers that were right; corpus: ANN recall@10. */
  def quality(r: Run): Double = r.checkRatio
  /** Workload-specific per-layer metrics (names in [[Layers.names]]). */
  def layer(r: Run, t: Trace): Map[String, Double]
  def kernelInputs: KernelInputs
  /** End-to-end metrics computed from the untraced samples. */
  def endToEnd(r: Run): Map[String, Double] = {
    val main = r.samples.filter(s => mainKinds(s.kind))
    val side = r.samples.filter(s => sideKinds(s.kind))
    Map(
      "main_rows_per_s" -> Stats.rate(main),
      "main_p50_ms" -> Stats.median(main.map(_.ms)),
      "side_rows_per_s" -> Stats.rate(side),
      "side_p50_ms" -> Stats.median(side.map(_.ms)),
      "stored_bytes_per_row" -> storedBytesPerRow(r),
      "quality" -> quality(r))
  }
}

/** The record of one measured window: samples, failures, checks. */
final class Run(val trace: Option[Trace]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  var checks = 0
  var checksOk = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Workload-specific measured series (per-pass totals, recalls, ...). */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextId = 0

  def record(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def seriesOf(name: String): Seq[Double] = series.get(name).map(_.toSeq).getOrElse(Nil)

  /** Time one call; `f` returns the rows it processed. A call that throws
    * is counted as failed and leaves no sample. */
  def op(kind: String)(f: => Long): Boolean = {
    attempted += 1
    nextId += 1
    val t0 = System.nanoTime()
    try {
      val rows = trace match {
        case Some(t) => t.around(nextId, kind)(f)
        case None => f
      }
      val s = Sample(kind, (System.nanoTime() - t0) / 1e6, rows)
      samples += s
      System.err.println(f"[perfbench] sample ${s.kind}%-18s ${s.ms}%10.1f ms ${s.rows}%10d rows")
      true
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
  }

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (ok) checksOk += 1 else problems += what
  }

  def checkRatio: Double = if (checks == 0) 1.0 else checksOk.toDouble / checks

  /** A failed op, or an op kind with no sample, is a failed check: the
    * outputs it should have produced were never checked. */
  def verify(what: String, kinds: Seq[String]): Unit = {
    if (failed > 0) problems += s"$what: $failed of $attempted ops failed"
    val seen = samples.map(_.kind).toSet
    kinds.filterNot(seen).foreach(k => problems += s"$what: no successful $k op")
  }
}

object Stats {
  /** Logs how long a set-up phase took (stderr, for tuning). */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench] phase $name%-20s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Rows per second over the samples' summed time. */
  def rate(ss: collection.Seq[Sample]): Double = {
    val ms = ss.map(_.ms).sum
    if (ms <= 0) 0.0 else ss.map(_.rows).sum * 1000.0 / ms
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

/** Host-band reading: the same fixed integer chain on every core at
  * once; wall-clock ms for all to finish. A diagnostic, never a gate. */
object Sentinel {
  private def chain(n: Int): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < n) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      h = (h ^ i) * 0x100000001b3L
      i += 1
    }
    h
  }

  def mtMs(): Double = {
    val cores = Runtime.getRuntime.availableProcessors
    val runs = (0 until 3).map { _ =>
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = (0 until cores).map(_ => new Thread(() => { sink.addAndGet(chain(50000000)); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(runs)
  }
}

/** Single-threaded kernel timings: public library functions called
  * directly on arrays, after warm-up; median ns per row of 5 batches. */
object Kernels {
  import graft.geom.{CrsTransform, GeomLib}
  import graft.sources.ShapefileCodec
  import graft.text.TextLib
  import graft.vector.VectorLib

  @volatile private var sink = 0L

  private def nsPerItem(items: Int)(pass: => Long): Double = {
    var w = 0
    while (w < 3) { sink += pass; w += 1 }
    val per = (0 until 5).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var t = t0
      while (reps == 0 || t - t0 < 40000000L) { sink += pass; reps += 1; t = System.nanoTime() }
      (t - t0).toDouble / (reps.toLong * items)
    }
    Stats.median(per)
  }

  private def geomPass(gs: Array[Array[Byte]])(f: Array[Byte] => Long): Long = {
    var acc = 0L
    var i = 0
    while (i < gs.length) { acc += f(gs(i)); i += 1 }
    acc
  }

  private def boxedLong(x: java.lang.Long): Long = if (x == null) 0L else x.longValue
  private def boxedDouble(x: java.lang.Double): Long =
    if (x == null) 0L else java.lang.Double.doubleToRawLongBits(x.doubleValue) & 1L

  def timings(in: KernelInputs): Map[String, Double] = {
    val g = in.geoms
    val n = g.length
    val texts = in.texts
    val vs = in.vectors
    Map(
      "geom.hilbert_ns_per_row" -> nsPerItem(n)(geomPass(g)(w => boxedLong(GeomLib.hilbertOfGeom(w)))),
      "geom.h3_ns_per_row" -> nsPerItem(n)(geomPass(g)(w => boxedLong(GeomLib.h3OfGeom(w, 9)))),
      "geom.centroid_x_ns_per_row" -> nsPerItem(n)(geomPass(g)(w => boxedDouble(GeomLib.centroidX(w)))),
      "geom.xmin_ns_per_row" -> nsPerItem(n)(geomPass(g)(w => boxedDouble(GeomLib.xMin(w)))),
      "geom.force2d_ns_per_row" ->
        nsPerItem(in.geoms3d.length)(geomPass(in.geoms3d)(w => GeomLib.force2D(w).length.toLong)),
      "geom.shape_type_ns_per_row" -> nsPerItem(n)(geomPass(g)(w => GeomLib.wkbShapeType(w).toLong)),
      "geom.transform_3857_ns_per_row" -> nsPerItem(in.geoms3857.length)(
        geomPass(in.geoms3857)(w => CrsTransform.transformWkb(w, 3857, 4326).length.toLong)),
      "sources.shp_decode_ns_per_record" ->
        nsPerItem(in.shpRecords)(ShapefileCodec.decode(in.shp).size.toLong),
      "text.minhash_ns_per_doc" -> nsPerItem(texts.length) {
        var acc = 0L
        var i = 0
        while (i < texts.length) {
          acc += TextLib.minHashSignature(TextLib.shingleHashes(texts(i), 3), 64, 42L)(0)
          i += 1
        }
        acc
      },
      "vector.cosine_ns" -> nsPerItem(vs.length - 1) {
        var acc = 0.0
        var i = 1
        while (i < vs.length) { acc += VectorLib.cosine(vs(i - 1), vs(i)); i += 1 }
        acc.toLong
      })
  }

  /** Kernel inputs from generated data, for the kinds of data a workload
    * does not have of its own. */
  def generated(seed: Long): KernelInputs = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val cs = Gen.cities(rnd, 8)
    val boxes = Array.fill(4000)(Gen.building(rnd, Gen.pickCity(rnd, cs)))
    fromBoxes(boxes, Gen.corpus(rnd, 2000)._1, Gen.embeddings(rnd, 2000, 32, 16))
  }

  def fromBoxes(boxes: Array[Gen.Box], texts: Array[String],
      vectors: Array[Array[Float]]): KernelInputs = {
    val recs = boxes.toSeq.map(b => Gen.Poly(Gen.ring(b), 0.0))
    KernelInputs(
      geoms = boxes.map(Gen.wkb),
      geoms3d = boxes.map(b => Gen.polygon3dWkb(b, 12.5)),
      geoms3857 = boxes.map(b => CrsTransform.transformWkb(Gen.wkb(b), 4326, 3857)),
      shp = Gen.shpBytes(recs, withZ = false)._1, shpRecords = recs.size,
      texts = texts, vectors = vectors)
  }
}
