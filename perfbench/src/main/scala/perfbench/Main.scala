package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its arguments, the tracer,
  * the engine listener and the report it fills in.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val cores: Int, val dataDir: String,
                val procStartMs: Long) {
  val tracer = new Tracer(trace)
  val engine = new EngineListener(spark.sparkContext, cores)
  /** observations the output checks read (counts, hashes) */
  val observed = mutable.LinkedHashMap.empty[String, Any]
  /** end-to-end values measured with tracing off */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** per-layer values of the traced run */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** operations that threw, by name */
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  /** seconds from the OS process start to now */
  def sinceStart: Double = (System.currentTimeMillis() - procStartMs) / 1000.0

  /** runs one counted operation; a throw is recorded, not propagated */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** Closed loop: runs `op(rep)` back to back until `seconds` of wall
    * time are spent, and at least `minReps` times. Returns the wall time
    * of each successful repetition.
    */
  def repeat(minReps: Int)(op: Int => Unit): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r = rep
      attempt(s"rep $r")(Stats.timed(op(r))._2).foreach(walls += _)
      rep += 1
    }
    walls.toSeq
  }

  /** The traced run's repetitions: `n` untraced ones alternating with `n`
    * traced ones (root span `span`), so the JIT's warm-up trend falls on
    * both alike. Records the tracing overhead and the engine metrics of
    * the window; returns the traced walls.
    */
  def tracedReps(n: Int, span: String)(op: Int => Unit): Seq[Double] = {
    engine.reset()
    val pairs = (0 until n).map { r =>
      (attempt(s"rep $r")(Stats.timed(tracer.off(op(r)))._2),
        attempt(s"traced rep $r")(Stats.timed(tracer.span(span, r)(op(r)))._2))
    }
    layer ++= engine.snapshot()
    val traced = pairs.flatMap(_._2)
    layer("trace.overhead_frac") = Stats.median(traced) / Stats.median(pairs.flatMap(_._1)) - 1.0
    traced
  }

  /** the timed end-to-end values: median rep wall, work items per
    * second, the median latency of single client operations, and the
    * heap the workload holds (read here, before the output checks, whose
    * collects are the benchmark's own memory)
    */
  def recordTimings(walls: Seq[Double], items: Double, ops: Seq[Double]): Unit = {
    e2e("live_heap_mb") = Main.liveHeapMb
    observed("peak_rss_mb") = Main.vmHwmMb
    e2e("wall_s") = Stats.median(walls)
    e2e("rate_per_s") = items / Stats.median(walls)
    e2e("op_p50_s") = Stats.median(ops)
    observed("rep_walls_s") = walls
    observed("op_samples") = ops.size
  }

  /** setup time: process start to session, plus the median of the
    * input preparations, plus the warm-up
    */
  def recordSetup(sessionS: Double, prepS: Seq[Double], warmupS: Double): Unit = {
    e2e("setup_s") = sessionS + Stats.median(prepS) + warmupS
    observed("setup_parts") = Map("session_s" -> sessionS, "prep_s" -> prepS,
      "warmup_s" -> warmupS)
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "flagship" -> Flagship.run,
    "suite" -> Suite.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val procStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli)
      .orElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and SQL plan up to these
      // limits even without the UI; a run that fits in one more pass
      // would hold more of them
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", a("scratch"))
      .config("spark.sql.warehouse.dir", a("scratch") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", cores, a("data"), procStartMs)
    run(ctx)
    val report = Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "cores" -> cores, "attempted" -> ctx.attempted, "errors" -> ctx.errors.toSeq,
      "observed" -> ctx.observed.toMap, "end_to_end" -> ctx.e2e.toMap,
      "per_layer" -> ctx.layer.toMap,
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "rep" -> s.rep, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(Paths.get(a("out")), Json(report).getBytes(UTF_8))
    spark.stop()
  }

  /** Heap still in use after a full collection, MB: what the workload
    * holds (cached inputs, broadcasts, session state), whatever the heap
    * size. The resident set is no measure of it, as the heap is fixed.
    */
  def liveHeapMb: Double = {
    // the first collection queues Spark's dead broadcasts and shuffles,
    // which its cleaner thread then drops; the second one frees them
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** the JVM's peak resident set since it started (VmHWM), MB */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** minimal JSON writer for the report (maps, sequences, numbers, strings) */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
