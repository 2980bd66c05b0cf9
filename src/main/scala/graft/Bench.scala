package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A warm-up pass at sf0.001 (disable with SPARK_GRAFT_WARMUP=0) first
  * exercises each query so JIT compilation, whole-stage-codegen
  * compilation, and file-index caches are paid outside the timed region —
  * standard JVM benchmarking practice; the timed numbers then reflect
  * steady-state engine throughput rather than first-call compilation.
  */
object Bench {

  /** Pure-JVM single-thread CPU sentinel (no Spark, no allocation): a
    * serial xorshift-FNV dependency chain with a fixed iteration count.
    * Recorded in bench.json so two artifacts from different host bands
    * (the 1.3x hypervisor-neighbor drift documented in docs/NOTES.md
    * round 6/7) can be normalized after the fact: on identical code the
    * suite total scales ≈ linearly with sentinel_ms. */
  private def sentinelOnceMs(): Double = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) { h = (h ^ (h >>> 27)) * 0x100000001b3L; h ^= i; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) print("") // keep the chain live against DCE
    ms
  }

  /** Median of 5 sentinel runs — robust to one-off scheduler hiccups. */
  private def sentinelMs(): Double = {
    val runs = Array.fill(5)(sentinelOnceMs()).sorted
    runs(2)
  }

  /** Multi-core sentinel: the same chain on every core simultaneously,
    * wall-clock for ALL to finish. Round-8 finding: the single-thread
    * sentinel stayed flat at ~198 ms across runs whose suite totals
    * spanned 69–121 s — hypervisor CPU-steal under PARALLEL load is what
    * actually moves, and only a saturating measurement sees it. */
  private[graft] def sentinelMtMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val threads = (0 until n).map { ti =>
      val th = new Thread(() => {
        var h = 0x9e3779b97f4a7c15L + ti
        var i = 0
        while (i < 100000000) { h = (h ^ (h >>> 27)) * 0x100000001b3L; h ^= i; i += 1 }
        if (h == 42L) print("")
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Seconds one run of query `name` takes, or None when it throws: a
    * failed query's elapsed time is not a timing. */
  private def timeQuery(spark: SparkSession, name: String,
      sfDir: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, sfDir).count()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(Harness.selected)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      val warmDir = "/root/testdata/sf0.001"
      names.foreach { name =>
        try SparkEntry.queries(name)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
    }

    val sentinelPre = sentinelMs()
    val sentinelMtPre = sentinelMtMs()
    // best-of-2 per query (back-to-back, so both passes sit in the same
    // host band): the min discards one-off GC/scheduler interference the
    // way isolated RunOne measurements do, making the recorded artifact
    // comparable across rounds
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // per-query job/stage counts ride the probe and land in the JSON as
    // ADDITIONS-only keys ("jobs"/"stages"): at sf0.1 most gates are
    // fixed-overhead-bound, so wall-clock cannot resolve a structural
    // optimization across host-band shifts — the structural counts can.
    val structural = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()
    val timed = names.map { name =>
      val times = (0 until passes).map { i =>
        // GC quiescence outside the timed region: without it, garbage from
        // earlier queries' shuffles is collected INSIDE whichever later
        // query happens to allocate next (measured: t3/t5 2-3x inflated
        // late in the suite while isolated runs are flat)
        System.gc()
        // job/stage counts are taken from the LAST pass (steady state);
        // the probe's drains sit outside timeQuery's timed region
        if (i == passes - 1) {
          val (t, c) = Harness.probe(spark)(timeQuery(spark, name, sfDir))
          structural(name) = (c.jobs, c.stages)
          t
        } else timeQuery(spark, name, sfDir)
      }
      name -> Option.when(times.forall(_.isDefined))(times.flatten.min)
    }
    val results = timed.collect { case (name, Some(t)) => name -> t }
    val failed = timed.collect { case (name, None) => name }
    val sentinelPost = sentinelMs()
    val sentinelMtPost = sentinelMtMs()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sentinel = (sentinelPre + sentinelPost) / 2
    val sentinelMt = (sentinelMtPre + sentinelMtPost) / 2
    val js = structural.map { case (k, (j, _)) => s"\"" + k + "\":" + j }
      .mkString("{", ",", "}")
    val ss = structural.map { case (k, (_, s)) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","sentinel_ms":$sentinel,"sentinel_pre_ms":$sentinelPre,"sentinel_post_ms":$sentinelPost,"sentinel_mt_ms":$sentinelMt,"sentinel_mt_pre_ms":$sentinelMtPre,"sentinel_mt_post_ms":$sentinelMtPost,"passes":$passes,"jobs":$js,"stages":$ss,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(json)
    // stdout is interleaved with sbt/log4j noise; also write the line to a
    // file so machine parsers never miss it
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))

    // SPARK_GRAFT_BENCH_AB=1: per-gate MEDIANS for the expensive gates,
    // measured round-robin (one rep of each gate per sweep, so a host
    // band shift hits every gate equally — the interleaved-A/B
    // adjudication discipline, machine-readable instead of NOTES
    // prose). Round-14 quantified why one-shots cannot adjudicate:
    // same-HEAD driver-vs-builder per-gate ratios had median 1.03 but a
    // tail to 1.92x; medians of interleaved reps are the trustworthy
    // per-gate signal.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_AB", "0") == "1") {
      val slow = results.filter(_._2 >= 1.5).map(_._1)
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_AB_REPS", "3").toInt
      val runs = (0 until reps).flatMap(_ => slow.map { name =>
        System.gc()
        name -> timeQuery(spark, name, sfDir)
      }).groupMap(_._1)(_._2)
      val (timedOk, abFailed) = slow.partition(runs(_).forall(_.isDefined))
      val best = results.toMap
      val entries = timedOk.map { n =>
        val ts = runs(n).flatten
        val med = ts.sorted.apply(ts.size / 2)
        s""""$n":{"median":$med,"times":[${ts.mkString(",")}],""" +
          s""""best_of_main":${best(n)}}"""
      }
      val abJson = s"""{"metric":"bench_ab","sf":"$sfDir",""" +
        s""""reps":$reps,"sentinel_mt_ms":$sentinelMt,""" +
        s""""threshold_sec":1.5,"gates":{${entries.mkString(",")}},""" +
        s""""failed":${abFailed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_AB_OUT", "bench_ab.json")),
        (abJson + "\n").getBytes("UTF-8"))
      println(abJson)
    }
    spark.stop()
  }
}
