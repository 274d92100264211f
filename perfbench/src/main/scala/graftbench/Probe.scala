package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as the listener saw it (epoch milliseconds). */
final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long = -1L)

/** Spark work attributed to one job group: the jobs, their task time,
  * shuffle writes and spills, and (when asked for) every task's time per
  * stage, for the skew figure.
  */
final class GroupStats {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var started = 0
  var ended = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Length of the union of the job intervals, in seconds. */
  def jobSeconds: Double = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** max/median task time of the most skewed stage (1 when no stage has
    * two or more tasks).
    */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.length >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.length / 2).max(1L)
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Attributes every Spark job, and its tasks, to the job group that was
  * set when the job was submitted. The harness sets one group per timed
  * call, so each group is one phase. Read a group only after
  * [[org.apache.spark.graftbench.BusDrain]]: the bus delivers events
  * asynchronously.
  */
final class JobProbe(keepTaskTimes: Boolean) extends SparkListener {
  import JobProbe._

  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.HashMap.empty[Int, JobRec]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse(NoGroup)

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    val rec = JobRec(e.jobId, g, e.time)
    jobs(e.jobId) = rec
    val st = stats(g)
    st.started += 1
    st.jobs += rec
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { rec =>
      rec.endMs = e.time
      stats(rec.group).ended += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageGroup.getOrElse(e.stageId, NoGroup))
    val ms = e.taskInfo.duration
    st.taskMs += ms
    Option(e.taskMetrics).foreach { m =>
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (keepTaskTimes)
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
  }

  /** Remove and return the stats of `group` (empty if it ran no job). */
  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }

  /** Jobs started with no job group since the last call (and forget them). */
  def takeUngrouped(): Int = synchronized {
    groups.remove(NoGroup).map(_.started).getOrElse(0)
  }

  /** Drop the stats of every group (work outside the timed window). */
  def clear(): Unit = synchronized {
    groups.clear()
    stageGroup.clear()
  }
}

object JobProbe {
  val GroupKey = "spark.jobGroup.id"
  val NoGroup = "<none>"
}
