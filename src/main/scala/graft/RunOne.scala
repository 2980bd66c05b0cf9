package graft

/** Dev tool: run a single SparkEntry gate query by name against a chosen
  * SF dir, print its timing (after one warm-up run) and, with `explain`,
  * the formatted physical plan. Usage:
  *   runMain graft.RunOne <query[,query…]> [sfDir] [explain] [jobs|jobsv]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    // ad-hoc session confs for perf triage: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF token missing '=': '$kv' (expected k=v;k=v)")
        }
      })
    // `jobs` arg: per-run Spark job/stage/task counts, input records read
    // and shuffle bytes written — the "where does the fixed overhead go"
    // probe for gates whose cost is job-count-bound rather than
    // data-bound (lifecycle gates at sf0.1);
    // `jobsv` adds each job's name (the call site of the action whose
    // SQL execution ran it, else its result stage) and its result stage's
    // task count (a hint at the data volume behind the job)
    val verbose = args.contains("jobsv")
    val counting = args.contains("jobs") || verbose
    // comma-separated names share one JVM/session (cuts startup cost out
    // of multi-gate probe sweeps; timings stay per-gate)
    name.split(",").filter(_.nonEmpty).foreach { nm =>
      val q = SparkEntry.queries(nm)
      if (args.contains("explain")) q(spark, sfDir).explain("formatted")
      q(spark, sfDir).count() // warm-up: JIT + codegen + file index
      val runs = (1 to 2).map { _ =>
        Harness.probe(spark) {
          val t0 = System.nanoTime()
          val n = q(spark, sfDir).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
      }
      runs.foreach { case ((n, s), c) =>
        if (counting)
          println(f"RUNONE $nm%s rows=$n%d time=$s%.3f s jobs=${c.jobs}%d stages=${c.stages}%d tasks=${c.tasks}%d records=${c.recordsRead}%d shuffle_write=${c.shuffleWriteBytes}%d")
        else println(f"RUNONE $nm%s rows=$n%d time=$s%.3f s")
        if (verbose) c.jobNames.zipWithIndex.foreach { case (site, i) =>
          println(f"  JOB $i%3d  $site%s")
        }
      }
    }
    spark.stop()
  }
}
