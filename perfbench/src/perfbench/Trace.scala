package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark-level counts for the traced run. Three span levels:
  * the workload, each op the benchmark issues, and each Spark job the op
  * ran. Jobs are tied to their op through a job group the benchmark sets
  * before the op (`op-<id>`); nothing inside the library is instrumented.
  * Spans stay in memory and are written once, at the end of the run. */
final class Trace(spark: SparkSession) {
  import Trace.{JobSpan, OpSpan}

  private val sc: SparkContext = spark.sparkContext

  val ops = mutable.ArrayBuffer.empty[OpSpan]
  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** op kind -> largest count of interpreted (codegen-fallback)
    * expressions found in one executed plan of that kind. */
  val fallbackByKind = mutable.HashMap.empty[String, Int]
  val fallbackClasses = mutable.TreeSet.empty[String]
  @volatile private var currentKind: String = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .flatMap(Option(_)).getOrElse("")
      val site = e.stageInfos.map(_.details).mkString("\n")
      jobs(e.jobId) = new JobSpan(e.jobId, group, e.time, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
        if (e.taskInfo != null) j.taskMaxMs = math.max(j.taskMaxMs, e.taskInfo.duration)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val kind = currentKind
      if (kind != null) {
        val found = fallbacks(qe.executedPlan)
        Trace.this.synchronized {
          fallbackByKind(kind) = math.max(fallbackByKind.getOrElse(kind, 0), found.size)
          fallbackClasses ++= found
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Class names of the interpreted expressions in an executed plan,
    * adaptive and query-stage wrappers included. */
  private def fallbacks(plan: SparkPlan): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => fallbacks(a.executedPlan)
    case q: QueryStageExec => fallbacks(q.plan)
    case p =>
      p.expressions.flatMap(_.collect { case e: CodegenFallback => e.getClass.getSimpleName }) ++
        p.children.flatMap(fallbacks) ++ p.subqueries.flatMap(fallbacks)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` as op `id` of `kind`, its Spark jobs in group `op-<id>`. */
  def around[T](id: Int, kind: String)(f: => T): T = {
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    currentKind = kind
    val t0 = System.currentTimeMillis()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val t1 = System.currentTimeMillis()
      // plan callbacks arrive through the listener bus: deliver this op's
      // before its kind is cleared
      org.apache.spark.PerfbenchBus.drain(sc)
      currentKind = null
      sc.clearJobGroup()
      synchronized { ops += OpSpan(id, kind, t0, t1, ok) }
    }
  }

  def jobsOf(op: OpSpan): Seq[JobSpan] = jobs.values.filter(_.group == s"op-${op.id}").toSeq

  /** Op time no Spark job of the op covers: driver planning, commits,
    * listing, driver-side kernels. */
  def selfMs(op: OpSpan): Long = {
    val iv = jobsOf(op).map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (op.endMs - op.startMs) - covered
  }

  /** Spans as JSON lines: workload, then ops, then jobs. */
  def spansJson(workload: String, seed: Long, t0: Long, t1: Long): Seq[String] = {
    val w = s"""{"level":"workload","name":"$workload","seed":$seed,"start_ms":$t0,"end_ms":$t1}"""
    val o = ops.map { op =>
      s"""{"level":"op","id":${op.id},"kind":"${op.kind}","parent":"$workload",""" +
        s""""start_ms":${op.startMs},"end_ms":${op.endMs},"self_ms":${selfMs(op)},"ok":${op.ok}}"""
    }
    val j = jobs.values.map { js =>
      val parent = if (js.group.startsWith("op-")) js.group.stripPrefix("op-") else "null"
      s"""{"level":"job","id":${js.id},"parent_op":$parent,"start_ms":${js.startMs},""" +
        s""""end_ms":${js.endMs},"stages":${js.stages},"tasks":${js.tasks},""" +
        s""""cpu_ms":${js.cpuNs / 1000000},"run_ms":${js.runMs},"gc_ms":${js.gcMs},""" +
        s""""shuffle_read_bytes":${js.shuffleRead},"shuffle_write_bytes":${js.shuffleWrite},""" +
        s""""spill_bytes":${js.spill},"input_bytes":${js.input},"output_bytes":${js.output},""" +
        s""""task_max_ms":${js.taskMaxMs},"phase":"${Trace.phaseOf(js.callSite)}"}"""
    }
    (w +: o.toSeq) ++ j
  }
}

object Trace {
  final case class OpSpan(id: Int, kind: String, startMs: Long, endMs: Long,
      ok: Boolean)
  final class JobSpan(val id: Int, val group: String, val startMs: Long,
      val callSite: String) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var taskMaxMs = 0L
  }

  /** The library function a job was launched from, read off the job's
    * call site (the user frames Spark records with each stage). */
  def phaseOf(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim).filter(_.startsWith("graft."))
    frames.headOption.map { f =>
      val m = f.takeWhile(_ != '(')
      m.split('.').takeRight(2).mkString(".").replace("$", "")
    }.getOrElse("")
  }
}
