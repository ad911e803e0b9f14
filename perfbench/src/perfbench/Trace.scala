package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One stage attempt, summed from its task-end events. Times are epoch ms. */
final class StageRec(val stageId: Int, val attempt: Int, val op: String, val jobId: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  def done: Boolean = completeMs > 0
  /** Slowest task over the median task; 1 for a single-task stage. */
  def skew: Double =
    if (taskRunMs.size < 2) 1.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

final class JobRec(val jobId: Int, val op: String, val startMs: Long) {
  var endMs = 0L
}

/** Planning time and final-plan exchanges of one executed Dataset action. */
final case class PlanRec(op: String, planMs: Long, exchanges: Int)

/** The traced run's listener pair. It is registered only when a run asks
 *  for a trace. Every job carries the job group of the call that started
 *  it; the call also sets [[currentOp]], which attributes plan events
 *  (those carry no job group). The caller drains the listener bus after
 *  each call, so no event of one call is processed during the next. */
final class Tracer extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var currentOp: String = ""

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val stageOwner = mutable.HashMap.empty[Int, (String, Int)]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(currentOp)

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), {
      val (op, job) = stageOwner.getOrElse(id, (currentOp, -1))
      new StageRec(id, attempt, op, job)
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobs += new JobRec(e.jobId, op, e.time)
    e.stageIds.foreach(s => stageOwner(s) = (op, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitMs == 0) s.submitMs = i.submissionTime.getOrElse(s.completeMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    val ex = try exchanges(qe.executedPlan) catch { case _: Exception => 0 }
    synchronized { plans += PlanRec(currentOp, planMs, ex) }
  }

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size
}

/** Layer totals of a set of traced calls. */
final case class Layer(
    wallS: Double, driverS: Double, taskS: Double, gcS: Double, stages: Int,
    shuffleMb: Double, spillMb: Double, scanMb: Double,
    planS: Double, jobs: Int, exchanges: Int) {
  def +(o: Layer): Layer = Layer(wallS + o.wallS, driverS + o.driverS, taskS + o.taskS,
    gcS + o.gcS, stages + o.stages, shuffleMb + o.shuffleMb, spillMb + o.spillMb,
    scanMb + o.scanMb, planS + o.planS, jobs + o.jobs, exchanges + o.exchanges)
  def /(n: Int): Layer = Layer(wallS / n, driverS / n, taskS / n, gcS / n, stages / n,
    shuffleMb / n, spillMb / n, scanMb / n, planS / n, jobs / n, exchanges / n)
}

object Layer {
  val zero: Layer = Layer(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Length of the union of closed intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Span of one benchmark call. Times are epoch ms; `wallS` is measured
 *  with the monotonic clock. */
final case class CallSpan(id: String, pass: Int, name: String, module: String,
    startMs: Long, endMs: Long, wallS: Double, cpuS: Double, ok: Boolean)

/** Spans of a traced run, grouped into the tree workload → call → job →
 *  stage, with each node's self time: its span minus what its children
 *  cover. */
final class TraceTree(tracer: Tracer, val calls: Seq[CallSpan]) {
  private val stagesByOp = tracer.stages.values.filter(_.done).toSeq.groupBy(_.op)
  private val jobsByOp = tracer.jobs.toSeq.groupBy(_.op)
  private val plansByOp = tracer.plans.toSeq.groupBy(_.op)

  def stagesOf(c: CallSpan): Seq[StageRec] = stagesByOp.getOrElse(c.id, Nil)
  def jobsOf(c: CallSpan): Seq[JobRec] = jobsByOp.getOrElse(c.id, Nil)

  def layer(c: CallSpan): Layer = {
    val st = stagesOf(c)
    val pl = plansByOp.getOrElse(c.id, Nil)
    val busyS = Layer.covered(st.map(s => (s.submitMs, s.completeMs))) / 1000.0
    Layer(c.wallS, math.max(0.0, c.wallS - busyS), st.map(_.runMs).sum / 1000.0,
      st.map(_.gcMs).sum / 1000.0, st.size, st.map(_.shuffleWriteBytes).sum / 1e6,
      st.map(_.spillBytes).sum / 1e6, st.map(_.inputBytes).sum / 1e6,
      pl.map(_.planMs).sum / 1000.0, jobsOf(c).size, pl.map(_.exchanges).sum)
  }

  /** Median over stages of the slowest task over the median task. */
  def taskSkew(cs: Seq[CallSpan]): Double =
    Stats.median(cs.flatMap(stagesOf).filter(_.taskRunMs.size >= 2).map(_.skew))

  def json(workload: String): String = {
    val sb = new StringBuilder
    sb.append(s"""{"workload":"$workload","calls":[""")
    sb.append(calls.map { c =>
      val jobs = jobsOf(c).map { j =>
        val st = stagesOf(c).filter(_.jobId == j.jobId)
        val self = (j.endMs - j.startMs) - Layer.covered(st.map(s => (s.submitMs, s.completeMs)))
        val stJson = st.map(s =>
          s"""{"stage":${s.stageId},"attempt":${s.attempt},"start_ms":${s.submitMs},"end_ms":${s.completeMs},""" +
          s""""tasks":${s.taskRunMs.size},"task_ms":${s.runMs},"gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
          s""""spill_bytes":${s.spillBytes},"input_bytes":${s.inputBytes}}""").mkString(",")
        s"""{"job":${j.jobId},"start_ms":${j.startMs},"end_ms":${j.endMs},"self_ms":$self,"stages":[$stJson]}"""
      }.mkString(",")
      val l = layer(c)
      s"""{"call":"${c.id}","module":"${c.module}","start_ms":${c.startMs},"end_ms":${c.endMs},""" +
      s""""wall_s":${c.wallS},"self_s":${l.driverS},"ok":${c.ok},"jobs":[$jobs]}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    sb.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
