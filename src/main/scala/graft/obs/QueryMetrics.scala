package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-task metrics summed across a timed window: shuffle read/write
  * bytes, memory/disk spill bytes, and the max per-task peak execution
  * memory (the OOM early-warning — a task peaking near the executor
  * share means the leg does NOT have 100×-headroom); plus finished job,
  * stage and task counts. Register with
  * `sparkContext.addSparkListener`, then difference two [[snap]]s around
  * the timed op; reset `peakMem` at the window start.
  *
  * With `logEvents`, [[events]] also collects one line per finished job
  * (wall, description) and stage (wall, executor run time, tasks, name,
  * and the user call site of stages running over 0.5 s).
  *
  * [[driverOnlySeconds]] reads the time of a window in which no task
  * ran: planning, driver-side builds, scheduling and result handling;
  * [[jobsInGroup]] counts the jobs started under one job group.
  */
class QueryMetrics(logEvents: Boolean = false) extends SparkListener {
  val read = new AtomicLong
  val write = new AtomicLong
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  val peakMem = new AtomicLong
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val events = new ConcurrentLinkedQueue[String]
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]
  /** (launch, finish) wall-clock ms of every finished task */
  private val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]
  /** job group id (`SparkContext.setJobGroup`) of every started job */
  private val jobGroups = new ConcurrentLinkedQueue[String]

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    taskSpans.add((te.taskInfo.launchTime, te.taskInfo.finishTime))
    val m = te.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobGroups.add(prop("spark.jobGroup.id"))
    if (logEvents) jobStarts.put(js.jobId, (System.nanoTime(), prop("spark.job.description")))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    if (logEvents) Option(jobStarts.remove(je.jobId)).foreach { case (t0, desc) =>
      events.add(f"JOB ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(si.numTasks)
    if (logEvents) {
      val wall = (for (a <- si.completionTime; b <- si.submissionTime)
        yield (a - b) / 1e3).getOrElse(-1.0)
      val run = si.taskMetrics.executorRunTime / 1e3
      events.add(f"STAGE ${si.stageId}%3d wall=$wall%6.3f run=$run%7.3f " +
        f"tasks=${si.numTasks}%3d  ${si.name.take(90)}")
      if (run > 0.5)
        events.add("  DETAILS " + si.details.linesIterator
          .filterNot(_.contains("org.apache.spark")).take(4).mkString(" <- "))
    }
  }

  /** seconds of the window [fromMs, toMs] (`System.currentTimeMillis`)
    * that no finished task's launch→finish span covers: the window's
    * wall minus the union of the task spans inside it. Read it after
    * [[awaitStable]], so that every task of the window has been seen.
    */
  def driverOnlySeconds(fromMs: Long, toMs: Long): Double = {
    val spans = taskSpans.toArray(Array.empty[(Long, Long)])
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var end = fromMs
    for ((s, e) <- spans if e > end) {
      busy += e - math.max(s, end)
      end = e
    }
    (math.max(0L, toMs - fromMs) - busy) / 1e3
  }

  /** jobs started under job group `group`; read it after [[awaitStable]] */
  def jobsInGroup(group: String): Int =
    jobGroups.toArray(Array.empty[String]).count(_ == group)

  /** (shuffle read, shuffle write, memory spill, disk spill) bytes */
  def snap(): (Long, Long, Long, Long) =
    (read.get(), write.get(), memSpill.get(), diskSpill.get())

  /** Listener events are delivered async: wait until the counters
    * STABILIZE (two unchanged 200 ms windows, 5 s ceiling) before
    * sampling — a fixed sleep can still race a backlogged bus and
    * misattribute the trailing bytes to the next op's baseline.
    */
  def awaitStable(): Unit = {
    def state = (snap(), jobs.get(), stages.get())
    var stable = 0
    var last = state
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = state
      stable = if (cur == last) stable + 1 else 0
      last = cur
    }
  }
}
