package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark-level counters, collected by a listener the benchmark registers.
  * Every job carries the name of the benchmark span that submitted it
  * (the [[SparkCounters.SpanProperty]] local property), so task and stage
  * counters can be attributed to the layer being traced. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val startedJobs = new ConcurrentLinkedQueue[(Int, Long)]()
  private val completedStages = new ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var maxEndedJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .getOrElse("")
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    startedJobs.add((e.jobId, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    maxEndedJob = math.max(maxEndedJob, e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    completedStages.add((e.stageInfo.stageId, e.stageInfo.completionTime.getOrElse(0L)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(TaskRec(
      stage = e.stageId,
      launchMs = e.taskInfo.launchTime,
      finishMs = e.taskInfo.finishTime,
      shuffleWriteBytes = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spillBytes = if (m == null) 0L else m.diskBytesSpilled,
      failed = !e.taskInfo.successful))
  }

  /** Block until the listener has seen every event posted so far: runs a
    * one-task marker job and waits for its end event, which the bus
    * delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, MarkerSpan)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProperty, prev)
    val marker = jobSpan.asScala.collect { case (j, MarkerSpan) => j }.max
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (maxEndedJob < marker && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def reset(): Unit = {
    startedJobs.clear(); completedStages.clear(); tasks.clear()
  }

  private def spanOfStage(stage: Int): String =
    Option(stageJob.get(stage)).map(j => jobSpan.getOrDefault(j, "")).getOrElse("")

  /** Counters of the jobs started, stages completed and tasks launched
    * in the window [`t0Ms`, `t1Ms`] (epoch ms). */
  def summary(t0Ms: Long, t1Ms: Long, cores: Int): Summary = {
    def in(ms: Long) = ms >= t0Ms && ms <= t1Ms
    val ts = tasks.asScala.toVector.filter(t => in(t.launchMs) && spanOfStage(t.stage) != MarkerSpan)
    val jobs = startedJobs.asScala.count { case (j, ms) => in(ms) && jobSpan.get(j) != MarkerSpan }
    val stages = completedStages.asScala.count { case (s, ms) => in(ms) && spanOfStage(s) != MarkerSpan }
    // wall time covered by at least one running task
    val iv = ts.map(t => (math.max(t.launchMs, t0Ms), math.min(t.finishMs, t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(curB - curA, 0L); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(curB - curA, 0L)
    val wall = math.max(t1Ms - t0Ms, 1L)
    val taskMs = ts.map(t => t.finishMs - t.launchMs).sum
    Summary(
      jobs = jobs,
      stages = stages,
      tasks = ts.size,
      failedTasks = ts.count(_.failed),
      idleS = (wall - covered) / 1e3,
      coreUtil = taskMs.toDouble / (wall.toDouble * cores),
      shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / Mb,
      spillMb = ts.map(_.spillBytes).sum / Mb,
      bySpan = ts.groupBy(t => spanOfStage(t.stage)).map { case (span, xs) =>
        span -> SpanCounters(
          shuffleWriteMb = xs.map(_.shuffleWriteBytes).sum / Mb,
          taskSkew = skew(xs))
      })
  }

  /** Largest max/median task-time ratio over the span's stages of at
    * least 4 tasks. */
  private def skew(xs: Vector[TaskRec]): Double = {
    val ratios = xs.groupBy(_.stage).values.filter(_.size >= 4).map { st =>
      val d = st.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = math.max(d(d.size / 2), 1.0)
      d.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object SparkCounters {
  /** Local property naming the benchmark span that submitted a job. */
  val SpanProperty = "perfbench.span"
  private val MarkerSpan = "perfbench.marker"
  private val Mb = 1024.0 * 1024.0

  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, failed: Boolean)

  final case class SpanCounters(shuffleWriteMb: Double, taskSkew: Double)

  final case class Summary(jobs: Int, stages: Int, tasks: Int,
      failedTasks: Int, idleS: Double, coreUtil: Double,
      shuffleWriteMb: Double, spillMb: Double,
      bySpan: Map[String, SpanCounters])
}
