package graft.obs

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-task metrics summed across a timed window: shuffle read/write
  * bytes, memory/disk spill bytes, and the max per-task peak execution
  * memory (the OOM early-warning — a task peaking near the executor
  * share means the leg does NOT have 100×-headroom). Register with
  * `sparkContext.addSparkListener`, then difference two [[snap]]s around
  * the timed op; reset `peakMem` at the window start.
  */
class QueryMetrics extends SparkListener {
  val read = new AtomicLong
  val write = new AtomicLong
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  val peakMem = new AtomicLong

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
    }
  }

  /** (shuffle read, shuffle write, memory spill, disk spill) bytes */
  def snap(): (Long, Long, Long, Long) =
    (read.get(), write.get(), memSpill.get(), diskSpill.get())

  /** Listener events are delivered async: wait until the counters
    * STABILIZE (two unchanged 200 ms windows, 5 s ceiling) before
    * sampling — a fixed sleep can still race a backlogged bus and
    * misattribute the trailing bytes to the next op's baseline.
    */
  def awaitStable(): Unit = {
    var stable = 0
    var last = snap()
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = snap()
      stable = if (cur == last) stable + 1 else 0
      last = cur
    }
  }
}
