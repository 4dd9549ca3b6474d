package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CorpusOps

/** sf1 stress leg (round-7 verdict #6): the driver bench tops out at
  * sf0.1 (5,000 documents); this runs the heavy document-table hitters —
  * `pipeline_clean_corpus`, `dedup_minhash_lsh`, and the flagship
  * geo-span rollup — ONCE at sf1 shape (50,000 documents, 10× sf0.1 /
  * 100× the sf0.01 gate) to surface the spill/memory/skew behavior no
  * sf0.1 run can. The input is synthesized deterministically in the
  * exact distribution of the driver's own testdata `documents` table
  * (TESTDATA.md — measured at sf0.1: 31-word vocabulary, uniform
  * 10–100 words/doc, 0.32% of docs in exact-dup pairs, ~4% near-dup
  * prefix plants, 5 languages with en ≈ 41%, 20 sources) — no external
  * data, no randomness, murmur3 `hash()` mixing only, so every
  * invocation at every parallelism level sees the identical corpus.
  *
  *   sbt "runMain graft.BenchSf1 <cpus> [nDocs]"
  *
  * Prints one JSON line per leg: wall, result rows, shuffle read/write
  * bytes, memory/disk spill bytes, and max per-task peak execution
  * memory across the timed window. Result-row counts must be identical
  * at every cpus level (placement invariance); spill ≈ 0 and no
  * straggler collapse is the pass bar. Results land in BENCH/BASELINE.md
  * ("sf1 stress").
  */
object BenchSf1 {

  /** The 31-word testdata vocabulary (observed, sorted — sf0.1
    * documents.parquet distinct words).
    */
  private val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Deterministic documents table in the driver-testdata shape at any
    * scale. Plants mirror the measured testdata rates:
    *   - exact-dup pairs: doc i with i % 625 == 1 carries doc i-1's text
    *     verbatim → 2/625 = 0.32% of docs sit in exact-dup groups;
    *   - near-dup prefix plants: doc i with i % 25 == 7 copies the first
    *     80% of its word stream from doc i-1 (3-shingle Jaccard ≈ 2/3,
    *     above the 0.5 LSH threshold) → 4% of docs in near-dup pairs
    *     (the two plant congruences are disjoint mod 25, and a plant's
    *     predecessor is always a vanilla doc).
    * Word choice, word count, and language are murmur3-mixed per
    * (doc, position) — a linear congruence mod 31 would make every text
    * a rotation of one 31-word cycle and flood LSH with false buckets.
    */
  def sf1Documents(spark: SparkSession, n: Long): DataFrame = {
    val i = col("id")
    val vocabArr = array(Vocab.map(lit): _*)
    val exactPlant = pmod(i, lit(625L)) === 1 && i >= 1
    val nearPlant = pmod(i, lit(25L)) === 7 && i >= 1
    // content base: exact plants draw EVERYTHING (count + every word)
    // from the predecessor, so the two texts are byte-identical
    val base = when(exactPlant, i - 1).otherwise(i)
    val wc = (pmod(hash(base, lit(17)), lit(91)) + 10).cast("int")
    // near plants share words [0, 0.8*wc) with the predecessor's own
    // word stream (doc i-1's word j IS hash(i-1, j) for every j < its
    // wc, so the prefixes coincide up to the shorter doc)
    val prefixWords = (wc * 4) / 5
    val text = concat_ws(" ",
      transform(sequence(lit(0), wc - 1), j => {
        val src = when(nearPlant && j < prefixWords, i - 1).otherwise(base)
        element_at(vocabArr, (pmod(hash(src, j), lit(31)) + 1).cast("int"))
      }))
    // observed sf0.1 language mass: en .41, zh .15, es .15, fr .15, de .14
    val lr = pmod(hash(i, lit(5)), lit(100))
    val lang = when(lr < 41, "en").when(lr < 56, "zh")
      .when(lr < 71, "es").when(lr < 86, "fr").otherwise("de")
    spark.range(n).select(
      i.as("doc_id"),
      text.as("text"),
      lang.as("lang"),
      concat(lit("src"), pmod(i, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new graft.obs.QueryMetrics
    spark.sparkContext.addSparkListener(tally)

    // materialize the sf1 corpus to parquet so every leg reads the lake
    // shape the gate queries read (Tables.tbl(dir)) — generator cost is
    // NOT part of any timed window
    val dir = java.nio.file.Files.createTempDirectory("graft_sf1")
    sys.addShutdownHook(graft.tools.Fs.deleteRecursively(dir))
    sf1Documents(spark, nDocs)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def run(name: String, warm: => Long)(op: => Long): Unit = {
      warm // small-slice JIT/codegen warmup (sf0.01 gate data), untimed
      spark.catalog.clearCache()
      Thread.sleep(200)
      val (r0, w0, ms0, ds0) = tally.snap()
      tally.peakMem.set(0L)
      val t0 = System.nanoTime()
      val rows = op
      val wall = (System.nanoTime() - t0) / 1e9
      tally.awaitStable()
      val (r1, w1, ms1, ds1) = tally.snap()
      println(f"""{"bench":"sf1_stress","leg":"$name","cpus":$cpus,""" +
        f""""docs":$nDocs,"wall_sec":$wall%.2f,"rows":$rows,""" +
        f""""shuffle_read_mb":${(r1 - r0) / 1048576},""" +
        f""""shuffle_write_mb":${(w1 - w0) / 1048576},""" +
        f""""mem_spill_mb":${(ms1 - ms0) / 1048576},""" +
        f""""disk_spill_mb":${(ds1 - ds0) / 1048576},""" +
        f""""peak_task_mem_mb":${tally.peakMem.get() / 1048576}}""")
      spark.catalog.clearCache()
    }

    val gate = "/root/testdata/sf0.01"
    run("dedup_minhash_lsh",
      SparkEntry.queries("dedup_minhash_lsh")(spark, gate).count()) {
      SparkEntry.queries("dedup_minhash_lsh")(spark, dir.toString).count()
    }
    run("pipeline_clean_corpus",
      SparkEntry.queries("pipeline_clean_corpus")(spark, gate).count()) {
      SparkEntry.queries("pipeline_clean_corpus")(spark, dir.toString).count()
    }
    // flagship over the sf1 interleaved corpus — the entry pipeline
    // (geo spans → ISEA7H assignment → rollup + PIP join) at sf1 shape;
    // the geo-span extraction is materialized untimed like flagshipInput
    val geo = CorpusOps.geoSpans(CorpusOps.interleavedDocs(
        spark.read.parquet(s"$dir/documents.parquet")))
      .select("doc_id", "offset", "lon", "lat").cache()
    val nGeo = geo.count()
    run("flagship_geo_rollup",
      Bench.flagship(spark, Bench.flagshipInput(spark, 2000), 5)._2) {
      Bench.flagship(spark, geo, 5)._2
    }
    println(s"""{"bench":"sf1_stress","leg":"geo_points","value":$nGeo}""")
    geo.unpersist()
    spark.stop()
  }
}
