package graft

import org.apache.spark.sql.graft.SparkInternals
import org.scalatest.funsuite.AnyFunSuite

/** The job probe every harness and spec counts Spark work with. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("probe counts the jobs, stages and tasks statusTracker reports " +
    "for a job group around the same action") {
    val sc = spark.sparkContext
    val (_, c) = Harness.probe(spark) {
      sc.setJobGroup("harness-probe", "harness-probe", false)
      try spark.range(1000).repartition(4).collect()
      finally sc.clearJobGroup()
    }
    val st = sc.statusTracker
    val jobs = st.getJobIdsForGroup("harness-probe")
    // a stage AQE already ran as its own job shows up again, skipped
    val stages = jobs.flatMap(j => st.getJobInfo(j).get.stageIds).distinct
      .flatMap(st.getStageInfo).filter(_.numCompletedTasks > 0)
    assert(jobs.length >= 2, "the shuffle map stage and the collect")
    assert((c.jobs, c.stages, c.tasks) ==
      ((jobs.length, stages.length, stages.map(_.numTasks).sum)))
    assert(c.jobNames.length == c.jobs)
  }

  test("with AQE on, every job of an action is named after the " +
    "action's call site") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (_, c) = Harness.probe(spark) {
      spark.range(1000).groupBy(org.apache.spark.sql.functions.col("id") % 7)
        .count().collect()
    }
    assert(c.jobs >= 2, "AQE runs the shuffle map stage as its own job")
    assert(c.jobNames.forall(_.startsWith("collect at HarnessSpec.scala:")),
      c.jobNames.mkString("\n"))
  }

  test("probe does not count a job that ran before it") {
    // many task events, and no drain between this action and the probe
    spark.range(0, 100000, 1, 64).repartition(64).collect()
    val (_, c) = Harness.probe(spark)(spark.range(10).collect())
    assert((c.jobs, c.stages) == ((1, 1)))
  }

  test("probe propagates an exception from its body and removes its " +
    "listener") {
    val before = SparkInternals.listenerCount(spark)
    val e = intercept[IllegalStateException](Harness.probe(spark) {
      spark.range(10).collect()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(SparkInternals.listenerCount(spark) == before)
  }
}
