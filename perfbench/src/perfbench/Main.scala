package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --trace-out <file>
  *
  * Untraced (`--trace 0`): set up at least three times (the median is
  * `setup_s`), warm up, then run the workload's closed loop for whole op
  * cycles until `--seconds` have passed and report the end-to-end
  * metrics. Traced (`--trace 1`): the same untraced window,
  * then a second window with spans and Spark listeners on, then the
  * kernel timings; reports the per-layer metrics and writes the spans to
  * `--trace-out`. The last stdout line is `PERFBENCH_RESULT <json>`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceOut: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("trace-out")))
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, cores: Int): Workload =
    name match {
      case "etl" => new Etl(spark, seed, cores)
      case "corpus" => new Corpus(spark, seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Whole op cycles until `seconds` have passed, so every window holds
    * the same mix of ops however fast the host runs them. */
  def loop(wl: Workload, r: Run, seconds: Int): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline) (0 until wl.cycleSteps).foreach(_ => wl.step(r))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(o.work)
    val spark = Stats.phase("session")(session(o.work, cores))
    val wl = workload(o.workload, spark, o.seed, cores)
    val sentinelBefore = if (o.trace) Sentinel.mtMs() else 0.0

    // set-up: into fresh directories, median reported; the last one is the
    // state the measured window runs on. At least 3 times and, for a
    // cheap set-up, until 5 s are spent: a 0.1 s set-up takes about ten
    // rounds to warm up, so its median is of warm runs
    val setupMs = mutable.ArrayBuffer.empty[Double]
    while (setupMs.size < 3 || (setupMs.size < 60 && setupMs.sum < 5000)) {
      val i = setupMs.size
      val dir = o.work.resolve(s"setup-$i")
      if (i > 0) Stats.deleteTree(o.work.resolve(s"setup-${i - 1}"))
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      Stats.phase("setup")(wl.setup(dir))
      setupMs += (System.nanoTime() - t0) / 1e6
    }
    val warm = new Run(None)
    Stats.phase("warmup")(wl.warmup(warm))

    val plain = new Run(None)
    Stats.phase("window")(loop(wl, plain, o.seconds))

    val result = mutable.LinkedHashMap.empty[String, Double]
    var all = Seq(plain)
    if (!o.trace) {
      result("setup_s") = Stats.median(setupMs) / 1000.0
      result("peak_rss_mb") = peakRssMb()
      result("ok_ops_ratio") =
        (plain.attempted - plain.failed).toDouble / math.max(1, plain.attempted)
      Stats.phase("finish")(wl.finish(plain))
      result ++= wl.endToEnd(plain)
    } else {
      val t = new Trace(spark)
      val traced = new Run(Some(t))
      t.start()
      val t0 = System.currentTimeMillis()
      loop(wl, traced, o.seconds)
      val t1 = System.currentTimeMillis()
      t.stop()
      wl.finish(traced)
      all = Seq(plain, traced)
      result ++= Layers.names.map(_ -> 0.0)
      result ++= Layers.fromTrace(t, cores)
      result ++= Kernels.timings(wl.kernelInputs)
      result ++= wl.layer(traced, t)
      // per op kind of the end-to-end metrics, so windows that end at
      // different ops compare alike
      val p50 = (r: Run, k: String) => Stats.median(r.samples.filter(_.kind == k).map(_.ms))
      result("bench.trace_overhead_ms") = Stats.median(
        (wl.mainKinds ++ wl.sideKinds).toSeq.map(k => p50(traced, k) - p50(plain, k)))
      result("bench.sentinel_mt_ms_before") = sentinelBefore
      result("bench.sentinel_mt_ms_after") = Sentinel.mtMs()
      val spans = t.spansJson(wl.name, o.seed, t0, t1)
      result("bench.trace_spans") = spans.size.toDouble
      Files.createDirectories(o.traceOut.getParent)
      Files.write(o.traceOut, spans.mkString("", "\n", "\n").getBytes("UTF-8"))
      val unknown = result.keySet.toSet -- Layers.names
      require(unknown.isEmpty, s"per-layer metrics missing from Layers.names: $unknown")
      if (t.fallbackClasses.nonEmpty)
        println(s"# interpreted expressions seen: ${t.fallbackClasses.mkString(", ")}")
    }

    all.last.samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      println(f"# op $k%-18s n=${ss.size}%4d p50=${Stats.median(ss.map(_.ms))}%10.1f ms")
    }
    warm.verify("warm-up", Nil)
    all.foreach(_.verify("window", wl.opKinds))
    val problems = (warm +: all).flatMap(_.problems)
    problems.foreach(p => println(s"# CHECK FAILED: $p"))
    if (!o.trace) wl.aliases.foreach { case (slot, alias) =>
      println(f"# $alias%-28s ${result(slot)}%14.4f  ($slot)")
    }
    val attempted = (warm +: all).map(_.attempted).sum
    val failed = (warm +: all).map(_.failed).sum
    val metrics = result.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${problems.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metrics}""")
    Stats.phase("stop")(spark.stop())
    System.exit(if (problems.isEmpty) 0 else 1)
  }
}

/** Every per-layer metric name the traced run reports. A layer a
  * workload does not use reads 0 there (its op kinds never ran). */
object Layers {
  val kinds: Seq[String] = Etl.kinds ++ Corpus.kinds ++ Lake.kinds

  private val perKind = Seq("p50_ms", "jobs", "driver_self_ms", "slot_utilization")

  private val sparkTotals = Seq("jobs", "stages", "tasks", "executor_cpu_ms",
    "executor_run_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes")

  val names: Seq[String] =
    kinds.flatMap(k => perKind.map(m => s"$k.$m")) ++
      sparkTotals.map(m => s"spark.${m}_per_op") ++ Seq("spark.slot_utilization") ++
      Seq("geom.hilbert_ns_per_row", "geom.h3_ns_per_row", "geom.centroid_x_ns_per_row",
        "geom.xmin_ns_per_row", "geom.force2d_ns_per_row", "geom.shape_type_ns_per_row",
        "geom.transform_3857_ns_per_row", "sources.shp_decode_ns_per_record",
        "text.minhash_ns_per_doc", "vector.cosine_ns") ++
      Seq("functions.codegen_fallback_nodes") ++
      Seq("etl.merge_batches", "etl.merge_task_max_ms", "etl.rows_dropped", "etl.output_bytes") ++
      Seq("dedup.pairs_ms", "dedup.clusters_ms", "dedup.jobs", "ann.ivf_recall_at10",
        "ann.lsh_recall_at10") ++
      Seq("lake.rg_opened_ratio", "lake.files_opened_ratio", "lake.count_meta_ratio",
        "lake.write_amp", "lake.snapshot_files", "lake.stored_bytes_per_row") ++
      Seq("bench.sentinel_mt_ms_before", "bench.sentinel_mt_ms_after",
        "bench.trace_overhead_ms", "bench.trace_spans")

  /** Per-kind and whole-window Spark metrics from the spans. */
  def fromTrace(t: Trace, cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ops = t.ops.filter(_.ok).toSeq
    ops.groupBy(_.kind).foreach { case (kind, os) =>
      val js = os.map(t.jobsOf)
      out(s"$kind.p50_ms") = Stats.median(os.map(o => (o.endMs - o.startMs).toDouble))
      out(s"$kind.jobs") = Stats.median(js.map(_.size.toDouble))
      out(s"$kind.driver_self_ms") = Stats.median(os.map(o => t.selfMs(o).toDouble))
      val wall = os.map(o => o.endMs - o.startMs).sum.toDouble
      out(s"$kind.slot_utilization") =
        if (wall <= 0) 0.0 else js.flatten.map(_.runMs).sum / (wall * cores)
    }
    val js = ops.flatMap(t.jobsOf)
    val n = math.max(1, ops.size).toDouble
    def per(f: Trace.JobSpan => Double) = js.map(f).sum / n
    out("spark.jobs_per_op") = js.size / n
    out("spark.stages_per_op") = per(_.stages)
    out("spark.tasks_per_op") = per(_.tasks)
    out("spark.executor_cpu_ms_per_op") = per(_.cpuNs / 1e6)
    out("spark.executor_run_ms_per_op") = per(_.runMs.toDouble)
    out("spark.gc_ms_per_op") = per(_.gcMs.toDouble)
    out("spark.shuffle_read_bytes_per_op") = per(_.shuffleRead.toDouble)
    out("spark.shuffle_write_bytes_per_op") = per(_.shuffleWrite.toDouble)
    out("spark.spill_bytes_per_op") = per(_.spill.toDouble)
    out("spark.input_bytes_per_op") = per(_.input.toDouble)
    out("spark.output_bytes_per_op") = per(_.output.toDouble)
    val wall = ops.map(o => o.endMs - o.startMs).sum.toDouble
    out("spark.slot_utilization") = if (wall <= 0) 0.0 else js.map(_.runMs).sum / (wall * cores)
    out("functions.codegen_fallback_nodes") = t.fallbackByKind.values.sum.toDouble
    out.toMap
  }
}
