package graft

import org.apache.spark.sql.SparkSession
import graft.ops.TextOps

/** sf10 soak for the iterative-CC dedup family (round-9, the round-8
  * verdict's item #2): `dedup_clusters`, `dedup_clusters_ls` and
  * `pipeline_clean_keep_longest` — the three gate queries whose tails
  * iterate per-round shuffles — run ONCE over the deterministic
  * 100×-gate-scale corpus ([[BenchSf1.sf1Documents]], 500k docs at
  * sf10 shape), with shuffle/spill accounting and the CC round count.
  * minhash/clean got this treatment in round 8 (it found the Σdf²
  * blow-up); this closes the family.
  *
  *   sbt "runMain graft.BenchCcSoak <cpus> [nDocs]"
  */
object BenchCcSoak {

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nDocs = if (args.length > 1) args(1).toLong else 500000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new graft.obs.QueryMetrics
    spark.sparkContext.addSparkListener(tally)

    // lake-shape input, generation untimed (BenchSf1 protocol)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_soak")
    sys.addShutdownHook(graft.tools.Fs.deleteRecursively(dir))
    BenchSf1.sf1Documents(spark, nDocs)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gate = "/root/testdata/sf0.01"

    def leg(name: String, warm: => Long)(op: => (Long, Int)): Unit = {
      warm
      spark.catalog.clearCache()
      Thread.sleep(200)
      val (r0, w0, ms0, ds0) = tally.snap()
      tally.peakMem.set(0L)
      val t0 = System.nanoTime()
      val (rows, rounds) = op
      val wall = (System.nanoTime() - t0) / 1e9
      tally.awaitStable()
      val (r1, w1, ms1, ds1) = tally.snap()
      println(f"""{"bench":"cc_soak","leg":"$name","cpus":$cpus,"docs":$nDocs,""" +
        f""""wall_sec":$wall%.2f,"rows":$rows,"cc_rounds":$rounds,""" +
        f""""shuffle_read_mb":${(r1 - r0) / 1048576},""" +
        f""""shuffle_write_mb":${(w1 - w0) / 1048576},""" +
        f""""mem_spill_mb":${(ms1 - ms0) / 1048576},""" +
        f""""disk_spill_mb":${(ds1 - ds0) / 1048576},""" +
        f""""peak_task_mem_mb":${tally.peakMem.get() / 1048576}}""")
      spark.catalog.clearCache()
    }

    def pairsOf(d: String) =
      TextOps.minhashLshPairs(ops.Tables.tbl(spark, d, "documents"), 3, 8, 2, 0.5)
    leg("dedup_clusters",
      SparkEntry.queries("dedup_clusters")(spark, gate).count()) {
      val (lbl, rounds) = TextOps.nearDupClustersStaged(pairsOf(dir.toString))
      (lbl.count(), rounds)
    }
    leg("dedup_clusters_ls",
      SparkEntry.queries("dedup_clusters_ls")(spark, gate).count()) {
      val (lbl, rounds) = TextOps.nearDupClustersLargeStarStaged(pairsOf(dir.toString))
      (lbl.count(), rounds)
    }
    leg("pipeline_clean_keep_longest",
      SparkEntry.queries("pipeline_clean_keep_longest")(spark, gate).count()) {
      (SparkEntry.queries("pipeline_clean_keep_longest")(spark, dir.toString)
        .count(), -1)
    }
    spark.stop()
  }
}
