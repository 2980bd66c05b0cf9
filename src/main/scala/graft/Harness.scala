package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.SparkInternals

/** The one local session and the one job probe shared by the harnesses
  * (`Bench`, `RunOne`, `Verify`, `Stress`, `Rehearsal`) and the specs. */
object Harness {

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC
    * session time and no UI. `cpus` defaults to `SPARK_GRAFT_CPUS`, else
    * the host's processor count. */
  def session(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val only =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** Whether a harness runs the SparkEntry query `name`. Unset,
    * `SPARK_GRAFT_ONLY` selects every query; set, only the queries its
    * comma list names. */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** Spark work started while a probed body ran: jobs, completed stages
    * and their tasks, input records read, shuffle bytes written and the
    * stages that wrote them (one per shuffle the body ran), and per
    * job its name with its result stage's task count. A job is named by
    * the SQL execution that ran it (the action's call site, which AQE's
    * query-stage jobs carry too), else by its result stage. */
  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      recordsRead: Long = 0L, shuffleWriteBytes: Long = 0L,
      shuffleStages: Int = 0, jobNames: Vector[String] = Vector.empty)

  /** Run `body` and count the Spark work it starts. The listener bus is
    * drained before the listener is added, so no earlier job is counted,
    * and again after `body`, so every event of its jobs is. A drain that
    * times out throws rather than return a short count. */
  def probe[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val listener = new Probe
    SparkInternals.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      SparkInternals.drainListeners(spark)
      (a, listener.counts)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One bus thread delivers every event to a listener, so each update
    * below has a single writer; `probe` reads after a drain. */
  private final class Probe extends SparkListener {
    @volatile var counts = Counts()
    private var executions = Map.empty[Long, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions += x.executionId -> x.description
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val execution = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executions.get(id.toLong))
      counts = counts.copy(jobs = counts.jobs + 1,
        jobNames = counts.jobNames :+ j.stageInfos.lastOption
          .fold("?")(si =>
            s"${execution.getOrElse(si.name)} tasks=${si.numTasks}"))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = Option(s.stageInfo.taskMetrics)
      counts = counts.copy(stages = counts.stages + 1,
        tasks = counts.tasks + s.stageInfo.numTasks,
        shuffleStages = counts.shuffleStages +
          m.count(_.shuffleWriteMetrics.bytesWritten > 0))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) counts = counts.copy(
        recordsRead =
          counts.recordsRead + e.taskMetrics.inputMetrics.recordsRead,
        shuffleWriteBytes = counts.shuffleWriteBytes +
          e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
}
