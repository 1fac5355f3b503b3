package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Traced runs only: records every Spark job, stage, task and query
  * execution with its wall-clock time, and attributes each to the call
  * whose interval contains it. Calls are sequential, so containment is
  * unambiguous. Events stay in memory until [[layerMetrics]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.add(JobEv(j.jobId, j.time, j.stageIds))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.add(StageEv(s.stageInfo.stageId, s.stageInfo.submissionTime.getOrElse(0L)))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      val info = t.taskInfo
      tasks.add(
        if (m == null)
          TaskEv(t.stageId, info.launchTime, info.finishTime, t.reason == Success,
            0, 0, 0, 0, 0, 0, 0, 0)
        else
          TaskEv(t.stageId, info.launchTime, info.finishTime, t.reason == Success,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      // the planning phase runs when the action runs, inside the call,
      // even when analysis ran earlier as the DataFrame was built
      if (phases.nonEmpty)
        qes.add(QeEv(phases.values.map(_.startTimeMs).max,
          phases.values.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Listener buses deliver asynchronously: wait until the event counts
    * hold still before reading them.
    */
  def drain(): Unit = {
    def n = jobs.size + stages.size + tasks.size + qes.size
    var last = -1
    while (n != last) { last = n; Thread.sleep(500) }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Total length of the union of `[a, b]` intervals, in seconds. */
  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total += math.max(0L, curB - curA)
    total / 1000.0
  }

  /** Per-layer, ratio and per-function metrics over `calls`. Every name in
    * `layers`/`functions` is emitted, with zeros for ones not called.
    */
  def layerMetrics(calls: Seq[Call], layers: Seq[String],
                   functions: Seq[(String, String)]): Seq[(String, Double, String)] = {
    drain()
    val sorted = calls.sortBy(_.startMs).toIndexedSeq
    val starts = sorted.map(_.startMs).toArray
    def spanAt(t: Long): Option[Call] = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= sorted(i).endMs) Some(sorted(i)) else None
    }
    val jobSpan: Map[Int, Call] =
      jobs.asScala.flatMap(j => spanAt(j.timeMs).map(j.jobId -> _)).toMap
    val stageSpan: Map[Int, Call] = jobs.asScala.toSeq.flatMap(j =>
      jobSpan.get(j.jobId).toSeq.flatMap(c => j.stageIds.map(_ -> c))).toMap
    val taskBy = tasks.asScala.toSeq.flatMap(t =>
      stageSpan.get(t.stageId).orElse(spanAt(t.launchMs)).map(_ -> t)).groupMap(_._1)(_._2)
    val jobBy = jobSpan.toSeq.groupMap(_._2)(_._1)
    val stageBy = stages.asScala.toSeq.flatMap(s =>
      stageSpan.get(s.stageId).orElse(spanAt(s.submitMs)).map(_ -> s)).groupMap(_._1)(_._2)
    val qeBy = qes.asScala.toSeq.flatMap(q => spanAt(q.timeMs).map(_ -> q)).groupMap(_._1)(_._2)

    val mb = 1024.0 * 1024.0
    def sums(cs: Seq[Call]): Map[String, Double] = {
      val ts = cs.flatMap(c => taskBy.getOrElse(c, Nil))
      val busy = cs.map(_.seconds).sum
      val exec = cs.map { c =>
        unionSeconds(taskBy.getOrElse(c, Nil).map(t =>
          (math.max(t.launchMs, c.startMs), math.min(t.finishMs, c.endMs))))
      }.sum
      Map(
        "calls" -> cs.size.toDouble,
        "busy_s" -> busy,
        "jobs" -> cs.map(c => jobBy.getOrElse(c, Nil).size).sum.toDouble,
        "stages" -> cs.map(c => stageBy.getOrElse(c, Nil).size).sum.toDouble,
        "tasks" -> ts.size.toDouble,
        "failed_tasks" -> ts.count(!_.ok).toDouble,
        "task_run_s" -> ts.map(_.runMs).sum / 1000.0,
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "plan_s" -> cs.map(c => qeBy.getOrElse(c, Nil).map(_.planMs).sum).sum / 1000.0,
        "exec_path_s" -> exec,
        "driver_s" -> math.max(0.0, busy - exec),
        "exec_share" -> (if (busy > 0) exec / busy else 0.0),
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        "spill_mb" -> ts.map(_.spill).sum / mb,
        "input_mb" -> ts.map(_.input).sum / mb,
        "output_mb" -> ts.map(_.output).sum / mb,
        "leaked_persists" -> cs.map(_.leaked).sum.toDouble)
    }
    val units = Map("calls" -> "count", "jobs" -> "count", "stages" -> "count",
      "tasks" -> "count", "failed_tasks" -> "count", "leaked_persists" -> "count",
      "exec_share" -> "ratio").withDefault(k => if (k.endsWith("_mb")) "MB" else "s")
    val byLayer = layers.map(l => l -> sums(calls.filter(_.layer == l))).toMap
    val perLayer = for {
      l <- layers
      (k, v) <- byLayer(l).toSeq.sortBy(_._1)
    } yield (s"$l.$k", v, units(k))
    val perFn = functions.flatMap { case (l, f) =>
      val m = sums(calls.filter(c => c.layer == l && c.fn == f))
      Seq((s"$l.$f.busy_s", m("busy_s"), "s"), (s"$l.$f.jobs", m("jobs"), "count"))
    }
    perLayer ++ perFn
  }
}

object Tracer {
  private final case class JobEv(jobId: Int, timeMs: Long, stageIds: Seq[Int])
  private final case class StageEv(stageId: Int, submitMs: Long)
  private final case class TaskEv(stageId: Int, launchMs: Long, finishMs: Long,
                                  ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                                  shuffleRead: Long, shuffleWrite: Long, spill: Long,
                                  input: Long, output: Long)
  private final case class QeEv(timeMs: Long, planMs: Long)
}
