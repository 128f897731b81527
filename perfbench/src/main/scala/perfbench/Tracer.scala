package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job-group counters: every request (and every setup step) runs
  * under its own job group, so jobs, stages, tasks, executor time,
  * shuffle and spill are attributed to it. Installed once per session.
  */
final class Tracer extends SparkListener {
  final class Group {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spillMem = 0L
    var spillDisk = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.LinkedHashMap.empty[String, Group]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(id: String): Group = groups.getOrElseUpdate(id, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = id
    e.stageIds.foreach(stageGroup(_) = id)
    val g = group(id)
    g.jobs += 1
    g.jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { id =>
      val g = group(id)
      g.jobStart.remove(e.jobId).foreach(s => g.intervals += ((s, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val g = group(id)
      g.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        g.runMs += m.executorRunTime
        g.cpuNs += m.executorCpuTime
        g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        g.spillMem += m.memoryBytesSpilled
        g.spillDisk += m.diskBytesSpilled
      }
    }
  }

  /** Snapshot of every group, as plain maps for the result file. */
  def dump(): Map[String, Map[String, Any]] = synchronized {
    groups.iterator.filter(_._1.nonEmpty).map { case (id, g) =>
      id -> Map[String, Any](
        "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
        "run_ms" -> g.runMs, "cpu_ns" -> g.cpuNs,
        "shuffle_write" -> g.shuffleWrite,
        "spill_mem" -> g.spillMem, "spill_disk" -> g.spillDisk,
        "job_intervals" -> g.intervals.map { case (s, t) => Seq(s, t) }.toSeq)
    }.toMap
  }
}
