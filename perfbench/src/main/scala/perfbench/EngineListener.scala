package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Tallies what Spark's scheduler, shuffle and memory manager did over a
  * measurement window: jobs, stages, tasks, shuffle bytes, spill, peak
  * task memory, executor CPU and GC time, the wall time during which no
  * task ran (driver-only work) and the task skew of the slowest stage.
  */
final class EngineListener(sc: SparkContext, cores: Int) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var cpuNs, runMs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spillMem, spillDisk, peakTaskMem = 0L
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageWall = mutable.Map.empty[(Int, Int), Long]
  private var windowStartMs = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageWall((i.stageId, i.attemptNumber())) = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    taskSpans += ((info.launchTime, info.finishTime))
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spillMem += m.memoryBytesSpilled
      spillDisk += m.diskBytesSpilled
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
    }
  }

  /** starts a window: earlier events are drained and forgotten */
  def reset(): Unit = {
    org.apache.spark.perfbench.BusHook.drain(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0; gcMs = 0
      shuffleWrite = 0; shuffleRead = 0; spillMem = 0; spillDisk = 0; peakTaskMem = 0
      taskSpans.clear(); stageTasks.clear(); stageWall.clear()
      windowStartMs = System.currentTimeMillis()
    }
  }

  /** the `engine.*` metrics of the window opened by the last [[reset]] */
  def snapshot(): Map[String, Double] = {
    val endMs = System.currentTimeMillis()
    org.apache.spark.perfbench.BusHook.drain(sc)
    synchronized {
      val wallMs = math.max(1L, endMs - windowStartMs)
      val slowest = stageWall.maxByOption(_._2).map(_._1)
      val skew = slowest.flatMap(stageTasks.get).filter(_.nonEmpty).map { d =>
        d.max.toDouble / math.max(1.0, Stats.median(d.map(_.toDouble).toSeq))
      }.getOrElse(1.0)
      Map(
        "engine.jobs" -> jobs.toDouble,
        "engine.stages" -> stages.toDouble,
        "engine.tasks" -> tasks.toDouble,
        "engine.driver_only_s" -> (wallMs - busyMs(windowStartMs, endMs)) / 1000.0,
        "engine.cpu_busy_frac" -> cpuNs / 1e6 / (wallMs.toDouble * cores),
        "engine.task_skew" -> skew,
        "engine.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "engine.shuffle_read_bytes" -> shuffleRead.toDouble,
        "engine.spill_mem_bytes" -> spillMem.toDouble,
        "engine.spill_disk_bytes" -> spillDisk.toDouble,
        "engine.peak_task_mem_bytes" -> peakTaskMem.toDouble,
        "engine.gc_frac" -> (if (runMs == 0) 0.0 else gcMs.toDouble / runMs))
    }
  }

  /** ms of [from, to] covered by at least one running task */
  private def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var curS = -1L
    var curE = -1L
    for ((s0, e0) <- taskSpans.sortBy(_._1)) {
      val s = math.max(s0, from)
      val e = math.min(e0, to)
      if (e > s) {
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    }
    busy + (curE - curS)
  }
}
