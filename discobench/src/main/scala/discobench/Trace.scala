package discobench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Traced-run collector: per-job intervals and call sites, and
  * per-stage task metrics and scans. Everything is kept in memory;
  * [[Trace.window]] sums what fell inside one operation's wall.
  * Untraced runs never construct it, so they carry no listener.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()
  /** Per running stage: (longest task, sum of tasks, tasks), in ms. */
  private val tasks = mutable.HashMap[Int, (Long, Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful) {
      val (mx, sum, n) = tasks.getOrElse(e.stageId, (0L, 0L, 0))
      val d = e.taskInfo.duration
      tasks(e.stageId) = (math.max(mx, d), sum + d, n + 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    val (maxTask, taskSum, ntasks) = tasks.remove(e.stageInfo.stageId).getOrElse((0L, 0L, 0))
    if (m != null) stages(e.stageInfo.stageId) = Stage(m.executorCpuTime,
      m.executorRunTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      org.apache.spark.SparkInternals.scopes(e.stageInfo).filter(_.startsWith("Scan")).distinct,
      maxTask, taskSum, ntasks)
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Waits for the bus to deliver every pending event, then detaches. */
  def detach(): Unit = {
    org.apache.spark.SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Totals over the jobs started inside `[t0, t1]` (epoch ms). */
  def window(t0: Long, t1: Long): Window = synchronized {
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(id => stages.get(id).map(id -> _)).toMap
    Window(t0, t1, js, ss)
  }
}

object Trace {
  final case class Job(id: Int, start: Long, var end: Long, site: String, stages: Seq[Int])
  final case class Stage(cpuNs: Long, runMs: Long, bytesRead: Long, recordsRead: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, scans: Seq[String],
      maxTaskMs: Long, taskMs: Long, tasks: Int)

  final case class Window(t0: Long, t1: Long, jobs: Seq[Job], stageById: Map[Int, Stage]) {
    def stages: Iterable[Stage] = stageById.values
    def wallS: Double = (t1 - t0) / 1e3
    def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
    def taskS: Double = stages.map(_.runMs).sum / 1e3
    def bytesRead: Long = stages.map(_.bytesRead).sum
    def recordsRead: Long = stages.map(_.recordsRead).sum
    def shuffleWriteMb: Double = stages.map(_.shuffleWrite).sum / 1048576.0
    def shuffleMb: Double = stages.map(s => s.shuffleWrite + s.shuffleRead).sum / 1048576.0
    def spillMb: Double = stages.map(_.spill).sum / 1048576.0
    /** Wall covered by at least one job. */
    def jobsS: Double = {
      val iv = jobs.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered / 1e3
    }
    /** Wall not covered by any job: planning, file listing and
      * scheduling between jobs. */
    def driverGapS: Double = math.max(0.0, wallS - jobsS)
    /** Wall of the jobs whose call site names `file`. */
    def jobWallS(file: String): Double =
      jobs.filter(j => j.site.contains(file) && j.end >= 0).map(j => j.end - j.start).sum / 1e3
    /** Input bytes of the stages that ran a `Scan <format>`. */
    def bytesScanned(format: String): Long =
      stages.filter(_.scans.exists(_.startsWith(s"Scan $format"))).map(_.bytesRead).sum
    /** Longest task over the mean task of the same stage, the largest
      * over stages of at least two tasks and 100 ms of task time. */
    def maxTaskSkew: Double =
      (0.0 +: stages.filter(s => s.tasks >= 2 && s.taskMs >= 100).toSeq
        .map(s => s.maxTaskMs * s.tasks.toDouble / s.taskMs)).max
    /** Per-job detail for the run record: call site, wall, input. */
    def jobDetail: Seq[Map[String, Any]] = jobs.map { j =>
      val ss = j.stages.flatMap(stageById.get)
      Map("site" -> j.site, "wall_s" -> (if (j.end < 0) -1.0 else (j.end - j.start) / 1e3),
        "bytes_read" -> ss.map(_.bytesRead).sum, "records_read" -> ss.map(_.recordsRead).sum,
        "cpu_s" -> ss.map(_.cpuNs).sum / 1e9, "scans" -> ss.flatMap(_.scans).distinct)
    }
  }
}
