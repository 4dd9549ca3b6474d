package graft.tools
import graft.obs.QueryMetrics
import org.apache.spark.sql.SparkSession

/** Per-job profile of a SparkEntry query: attaches a logging
  * [[QueryMetrics]] and prints every job's wall, every stage's wall,
  * run time and task count, plus the end-to-end wall and the part of it
  * in which no task ran (driver-only: planning, driver-side builds,
  * scheduling) — the measurement companion for cutting job/stage
  * overheads.
  *
  *   sbt "runMain graft.tools.ProfileQ <query> [sfDir] [cpus]"
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm rep (JIT + codegen)
    graft.SparkEntry.queries(name)(spark, dir).count()
    spark.catalog.clearCache()
    val m = new QueryMetrics(logEvents = true)
    spark.sparkContext.addSparkListener(m)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    m.awaitStable()
    m.events.forEach(l => println(l))
    val driverOnly = m.driverOnlySeconds(w0, w1)
    println(f"TOTAL $name wall=$wall%.3f s driver_only=$driverOnly%.3f s " +
      s"jobs=${m.jobs.get} stages=${m.stages.get} tasks=${m.tasks.get}")
    spark.stop()
  }
}
