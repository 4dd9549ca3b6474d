package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.dggs.Z7
import graft.ops.{CorpusOps, GridOps, JtsCache, SpatialOps}
import graft.spark.{DggsFunctions => F, Grids}

/** Driver-contract benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR plus the flagship DGGS pipeline on a larger
  * synthetic corpus, printing ONE JSON line.
  *
  * The flagship (BASELINE.json metric): interleaved corpus → span
  * geometry extraction → ISEA7H cell assignment → parent rollup →
  * cell-indexed spatial join. See BenchScaling for the N-vs-4N
  * parallelism protocol (BASELINE.md).
  */
object Bench {

  /** deterministic synthetic corpus of n docs (FIXTURES.md §3 schema) —
    * generated distributed via spark.range, no driver-side data.
    */
  def syntheticCorpus(spark: SparkSession, n: Long): DataFrame =
    CorpusOps.interleavedDocs(spark.range(n).select(col("id").as("doc_id")))

  val FlagshipPolys = Seq(
    ("estonia", "POLYGON ((20.2 57.0, 28.4 57.0, 28.4 60.0, 20.2 60.0, 20.2 57.0))"),
    ("oregon", "POLYGON ((-124.6 42.0, -116.5 42.0, -116.5 46.3, -124.6 46.3, -124.6 42.0))"),
    ("tropics", "POLYGON ((-30.0 -23.4, 60.0 -23.4, 60.0 23.4, -30.0 23.4, -30.0 -23.4))"))

  /** materialize the flagship input (untimed setup — a real pipeline
    * reads this from the lake): geo points extracted from the corpus.
    */
  def flagshipInput(spark: SparkSession, nDocs: Long): DataFrame = {
    val geo = CorpusOps.geoSpans(syntheticCorpus(spark, nDocs))
      .select("doc_id", "offset", "lon", "lat").cache()
    geo.count()
    geo
  }

  /** the timed flagship, ONE pass over the points and one action:
    * res-`res` cell assignment (narrow map, evaluated once), a LEFT
    * broadcast join of the spread res-4 ancestor (`F.z7SpreadKey`)
    * against the polygon cover grouped per cell (one row per cover cell:
    * its polygons' WKTs), then one `groupBy` on the res-3 ancestor that
    * sums the JTS contains hits. The per-cell sums (at most 10·7³ + 2 =
    * 3,432 rows) are collected and totalled on the driver. Result rows =
    * rollup cells + refined (point, polygon) pairs, as for a rollup plus
    * an inner PIP join. LEFT, not inner: an inner join's inferred
    * `isnotnull(key4)` filter would evaluate `cellForPoint` a second
    * time (`DggsFunctions.cellForPoint`).
    *
    * The driver-side part is kept small, since every repetition pays it
    * before any task runs: the cover is grouped on raw cell ids and only
    * then spread (a Scala map keyed on spread ids puts every res-4 key in
    * one hash bucket: `Z7.spreadKey`), and the cover relation is built
    * from rows against a fixed schema, with no encoder derived per call.
    * Returns (resultRows, resultRows); callers take the geo point count
    * from the untimed input materialization.
    */
  def flagship(spark: SparkSession, geo: DataFrame, res: Int): (Long, Long) = {
    val joinRes = 4
    val cover = FlagshipPolys
      .flatMap { case (_, wkt) => SpatialOps.coverCells(wkt, joinRes).map(c => (c, wkt)) }
      .groupMap(_._1)(_._2)
      .map { case (cell, wkts) => Row(Z7.spreadKey(cell), wkts) }
    val coverDf = spark.createDataFrame(java.util.Arrays.asList(cover.toSeq: _*), CoverSchema)
    val hits = udf { (wkts: Seq[String], lon: Double, lat: Double) =>
      if (wkts == null) 0L else wkts.count(JtsCache.contains(_, lon, lat)).toLong
    }.withName("pipHits")
    val perCell = geo
      .select(col("lon"), col("lat"),
        F.cellForPoint(col("lon"), col("lat"), lit(res)).as("cell_id"))
      .withColumn("key4", F.z7SpreadKey(F.ancestorAt(col("cell_id"), lit(joinRes))))
      .join(broadcast(coverDf), Seq("key4"), "left")
      .groupBy(F.ancestorAt(col("cell_id"), lit(3)).as("cell3"))
      .agg(sum(hits(col("wkts"), col("lon"), col("lat"))).as("hits"))
      .select("hits").collect()
    val rows = perCell.length + perCell.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).sum
    (rows, rows)
  }

  /** the flagship cover relation: spread res-4 key, its polygons' WKTs */
  private val CoverSchema = StructType(Seq(
    StructField("key4", LongType, nullable = false),
    StructField("wkts", ArrayType(StringType))))

  /** the quiet-band file: `{"<sf>": {"<query>": seconds, …}, …}` */
  private[graft] def parseBands(txt: String): Map[String, Map[String, Double]] =
    raw""""([^"]+)"\s*:\s*\{([^}]*)\}""".r.findAllMatchIn(txt).map { sf =>
      sf.group(1) -> raw""""([^"]+)"\s*:\s*([0-9.Ee+-]+)""".r.findAllMatchIn(sf.group(2))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.toMap

  /** inverse of [[parseBands]]: keys sorted, seconds to 4 decimals */
  private[graft] def renderBands(bands: Map[String, Map[String, Double]]): String =
    bands.toSeq.sortBy(_._1).map { case (sf, qs) =>
      qs.toSeq.sortBy(_._1).map { case (k, v) =>
        "    \"" + k + "\": " + BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("  \"" + sf + "\": {\n", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "2000000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-query wall time + honest status: a failed query records its
    // error and is excluded from the headline total (round-1 verdict #4)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // ---- bench self-adjudication (round-6 verdict #2) ----
    // BENCH/quiet_band.json holds, per scale factor (the sf directory's
    // name, e.g. "sf0.1"), each query's quietest controlled best-of-2
    // reading (updated only on controlled runs via
    // SPARK_GRAFT_UPDATE_BAND=1, never by the driver one-shot). At
    // runtime a best-of-2 reading > 3× its band value earns the query a
    // THIRD cold repetition; if even the best of three stays past 3×,
    // the query is flagged in "suspect" — so a contention spike that
    // needed manual adjudication in 3 of the last 4 rounds now
    // adjudicates itself inside the run, and a clean run flags nothing.
    // A run at a scale factor with no band entry is not adjudicated:
    // another sf's readings are no floor for this one.
    val bandPath = sys.env.getOrElse("SPARK_GRAFT_BAND", "BENCH/quiet_band.json")
    val sfKey = java.nio.file.Paths.get(sfDir).getFileName.toString
    // every sf entry of the band file: sf -> (query -> seconds)
    val bands: Map[String, Map[String, Double]] = try {
      parseBands(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(bandPath)), "UTF-8"))
    } catch {
      // a missing band file AND a malformed one both degrade to "no
      // adjudication" — a corrupt value must not take down the gate
      // metric the band exists to protect
      case scala.util.control.NonFatal(_) => Map.empty
    }
    // keys are validated against the query registry (+ the two named
    // whole-pipeline legs) so pointing SPARK_GRAFT_BAND at an arbitrary
    // JSON with numeric fields cannot absorb unrelated keys into the
    // adjudication map (round-7 ADVICE)
    val known = SparkEntry.queries.keySet ++
      Set("flagship_assign_join_rollup", "raster_to_cells_full")
    val band: Map[String, Double] =
      bands.getOrElse(sfKey, Map.empty).filter { case (k, _) => known.contains(k) }
    if (!bands.contains(sfKey))
      System.err.println(s"[bench] WARNING: $bandPath has no $sfKey entry; " +
        "suspect adjudication is off for this run")
    val suspects = scala.collection.mutable.ArrayBuffer[String]()
    // untimed JIT/codegen warmup so the first timed query isn't cold
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // best-of-2 per query (round-3 verdict #1): this shared VM has
    // documented ±20-40% host-contention noise at 32 threads, and the
    // driver's one-shot BENCH_r03 mis-recorded a round because of it —
    // the min of two runs is robust to a contention spike landing on
    // either one. Caches are cleared between reps so both runs are cold.
    def timeBestOf2(name: String)(body: => Unit): Unit = {
      var best = Double.MaxValue
      var lastErr: String = null
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        try {
          body
          // only a SUCCESSFUL rep contributes a time — recording a failed
          // attempt's elapsed time would publish garbage in the JSON
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            lastErr = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
        }
        // caches a query built are its own: drop them so later runs are
        // measured cold and cached inputs aren't evicted mid-query by
        // another query's leftovers (measured 5× variance on the
        // checkpointed rollup without this)
        spark.catalog.clearCache()
        rep += 1
      }
      // self-adjudication third rep: only for readings hot vs the quiet
      // band (the flagged-queries-only contract — a clean run pays zero
      // extra reps). Both a RATIO and an ABSOLUTE floor: 3× a 0.2 s band
      // is sub-second jitter, not the multi-second contention spikes the
      // flag exists for (measured: a loaded run flagged four ≤ 2 s
      // queries while the real story was the suite total)
      if (best != Double.MaxValue) band.get(name).foreach { b =>
        if (best > 3 * b && best - b > 2.0) {
          val t0 = System.nanoTime()
          try {
            body
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => () }
          spark.catalog.clearCache()
          if (best > 3 * b && best - b > 2.0) suspects += name
        }
      }
      // a query fails only if BOTH reps failed: one valid cold measurement
      // is exactly what best-of-2 exists to preserve on a flaky host
      if (best != Double.MaxValue) results(name) = best
      else errors(name) = lastErr
    }
    for ((name, fn) <- SparkEntry.queries)
      timeBestOf2(name) { fn(spark, sfDir).count(): Unit }
    // full-size raster binning (the correctness query raster_to_cells is
    // the oracle-checkable 32×32 subset; the 256×256 run is benched here)
    locally {
      import graft.ops.RasterOps
      val tAff = RasterOps.Affine(10.0, 0.01, 0.0, 55.0, 0.0, -0.01)
      timeBestOf2("raster_to_cells_full") {
        RasterOps.rasterToCells(RasterOps.syntheticRaster(spark, 256, 256, 64),
          tAff, RasterOps.proposeDggsRes(RasterOps.pixelEdgeLenM(tAff, 53.7)))
          .count(): Unit
      }
    }
    // flagship throughput on the synthetic corpus (input + warmup untimed;
    // the warmup JITs the kernel on all threads so Bench.main's headline
    // matches BenchScaling's — round-1 verdict #7). Best-of-2 like the
    // queries; the cached `geo` input survives both reps (flagship itself
    // caches nothing, so there is nothing to clear between them).
    flagship(spark, flagshipInput(spark, 50000), 9)
    val geo = flagshipInput(spark, benchDocs)
    val nGeo = geo.count()
    val wall = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      flagship(spark, geo, 9)
      (System.nanoTime() - t0) / 1e9
    }.min
    results("flagship_assign_join_rollup") = wall

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val suspJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (k, v) if !errors.contains(k) => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":$errJson,"n_failed":${errors.size},"suspect":$suspJson,""" +
      s""""sf":"$sfDir","flagship_docs":$benchDocs,"flagship_geo_points":$nGeo,""" +
      s""""flagship_cells_per_sec":${(nGeo / wall).toLong}}"""
    // controlled-run band refresh (never the driver one-shot): keep the
    // QUIETEST observed best-of-2 per query — the floor the 3× threshold
    // interprets. Only this run's sf entry changes; a missing entry (or
    // band file) is seeded whole.
    if (sys.env.get("SPARK_GRAFT_UPDATE_BAND").contains("1")) {
      val merged = (band.keySet ++ results.keySet)
        .map(k => k -> (band.get(k) ++ results.get(k)).min).toMap
      java.nio.file.Files.write(java.nio.file.Paths.get(bandPath),
        renderBands(bands + (sfKey -> merged)).getBytes("UTF-8"))
    }
    // full per-query JSON goes to the file for humans/the judge; STDOUT
    // gets one COMPACT final line (≤200 bytes, 3-decimal rounding). The
    // driver parses the tail of stdout, and the full line outgrew its
    // 2000-char tail window in r5 (head truncated mid-line → `parsed`
    // null) — the compact line always fits, even with sbt's trailing
    // "[success]" line in the window.
    // locale-proof rounding: the f-interpolator goes through
    // String.format(defaultLocale) and would print a comma decimal
    // separator on de/fr/tr hosts — invalid JSON, the exact parse
    // failure this line exists to fix
    val total3 = BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // suspects ride the compact line too (clean run = empty array); cap
    // at 6 names so the line stays inside the driver's stdout-tail window
    val suspCompact = suspects.take(6).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":$total3,"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":${errors.size},""" +
      s""""n_suspect":${suspects.size},"suspect":$suspCompact,""" +
      s""""flagship_cells_per_sec":${(nGeo / wall).toLong}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(compact)
  }
}

/** N-vs-4N scaling protocol (BASELINE.md): same flagship job, same
  * input, two parallelism levels. Run via tools/bench_scaling.sh; the
  * efficiency target is throughput(32) / (4 × throughput(8)) ≥ 0.8.
  */
object BenchScaling {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val nDocs = if (args.length > 1) args(1).toLong else 2000000L
    val res = if (args.length > 2) args(2).toInt else 9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup (JIT + kernel construction on all executor threads)
    Bench.flagship(spark, Bench.flagshipInput(spark, 50000), res)
    val geo = Bench.flagshipInput(spark, nDocs)
    val nGeo = geo.count()
    val t0 = System.nanoTime()
    val (_, rows) = Bench.flagship(spark, geo, res)
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"bench":"scaling","cpus":$cpus,"docs":$nDocs,"geo_points":$nGeo,""" +
      s""""res":$res,"wall_sec":$wall,"cells_per_sec":${(nGeo / wall).toLong},"rows":$rows}""")
    spark.stop()
  }
}

/** Polygon×polygon overlay-join scale leg: two deterministic world-wide
  * box sets, cover equi-join candidates + exact JTS refine
  * (SpatialOps.polygonIntersectsJoin). Pair count must be identical at
  * every parallelism level (exactness is placement-invariant).
  *
  *   sbt "runMain graft.BenchPolygonJoin <cpus> [nA] [nB] [res]"
  */
object BenchPolygonJoin {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nA = if (args.length > 1) args(1).toLong else 50000L
    val nB = if (args.length > 2) args(2).toLong else 50000L
    val res = if (args.length > 3) args(3).toInt else 5
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 3°×2° boxes, |lat| ≤ 60, centers spread by distinct congruences
    def boxes(n: Long, mx: Long, my: Long): DataFrame =
      spark.range(n).select(col("id").as("poly_id"),
        ((pmod(col("id") * mx, lit(354000L)) / lit(1000.0)) - 177.0).as("cx"),
        ((pmod(col("id") * my, lit(116000L)) / lit(1000.0)) - 58.0).as("cy"))
        .select(col("poly_id"), format_string(
          "POLYGON ((%.3f %.3f, %.3f %.3f, %.3f %.3f, %.3f %.3f, %.3f %.3f))",
          col("cx") - 1.5, col("cy") - 1.0, col("cx") + 1.5, col("cy") - 1.0,
          col("cx") + 1.5, col("cy") + 1.0, col("cx") - 1.5, col("cy") + 1.0,
          col("cx") - 1.5, col("cy") - 1.0).as("wkt"))
    val a = boxes(nA, 7919L, 4409L)
    val b = boxes(nB, 104729L, 31357L)
    // warm (JIT + codegen) on small slices
    SpatialOps.polygonIntersectsJoin(boxes(2000, 7919L, 4409L),
      boxes(2000, 104729L, 31357L), res).count()
    val t0 = System.nanoTime()
    val pairs = SpatialOps.polygonIntersectsJoin(a, b, res).count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"bench":"polygon_join","cpus":$cpus,"n_a":$nA,"n_b":$nB,""" +
      f""""res":$res,"wall_sec":$wall%.2f,"pairs":$pairs}""")
    spark.stop()
  }
}

/** Zoom-pyramid scale leg: full res→0 per-cell count pyramid over
  * deterministic world-wide points, level-from-level (GridOps.
  * cellPyramid) VS naive per-level re-aggregation of the point cells —
  * the geometric-series claim measured. The point→cell assignment is
  * done ONCE, cached, and excluded from both timed windows so the legs
  * compare pure rollup strategies.
  *
  *   sbt "runMain graft.BenchPyramid <cpus> [nPts] [res]"
  */
object BenchPyramid {
  import graft.ops.GridOps
  import graft.spark.{DggsFunctions => F}

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nPts = if (args.length > 1) args(1).toLong else 10000000L
    val res = if (args.length > 2) args(2).toInt else 7
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pts = spark.range(nPts).select(col("id"),
      ((pmod(col("id") * 9973L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
      ((pmod(col("id") * 6271L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
    // cells land in PARQUET, not a cache: the comparison is about scan
    // economics, and a cache would make naive's (res+1) re-scans free —
    // the opposite of the lake shape both strategies exist for
    val cellsDir = java.nio.file.Files.createTempDirectory("graft_pyr")
    GridOps.cellsForGeoPoints(pts, "lon", "lat", res)
      .select("cell_id").write.mode("overwrite").parquet(cellsDir.toString)
    val cells = spark.read.parquet(cellsDir.toString)
    def leg(label: String)(body: => Long): Unit = {
      body // warm (JIT; the pyramid path re-runs its own internals)
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"bench":"pyramid","strategy":"$label","cpus":$cpus,""" +
        f""""pts":$nPts,"res":$res,"wall_sec":$wall%.2f,"rows":$rows}""")
    }
    leg("level_from_level") {
      GridOps.cellPyramid(cells, minRes = 0, res = Some(res)).count()
    }
    leg("naive_per_level") {
      (0 to res).map { r =>
        cells.groupBy(F.ancestorAt(col("cell_id"), lit(r)).as("c"))
          .agg(count(lit(1)).as("n")).count()
      }.sum
    }
    graft.tools.Fs.deleteRecursively(cellsDir)
    spark.stop()
  }
}

/** Clipped grid-GENERATION scale soak (O1/H5 at depth — the flagship
  * soaks cover point→cell ASSIGNMENT; this covers the levelwise clipped
  * expansion itself, whose cost is cells OUT, not points in). Whole-
  * earth generation is excluded on purpose: it takes the SEQNUM-
  * bijection `spark.range` fast path and measures nothing but row
  * production. The clipped path exercises the per-level children
  * explode + wrapped-lon envelope pruning + lineage truncation.
  *
  *   sbt "runMain graft.BenchGen <cpus> [res] [boxDeg] [grid]"
  *
  * `grid` = "7H" (default, aperture-7 hex) or "4T" (aperture-4
  * triangle — at fixed box each +1 res is ~4× the cells instead of
  * ~7×, so comparable cell counts need ~log₄7 ≈ 1.4× the res).
  */
object BenchGen {
  import graft.ops.GridOps

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val res = if (args.length > 1) args(1).toInt else 10
    val boxDeg = if (args.length > 2) args(2).toDouble else 1.5
    val grid = if (args.length > 3) args(3) else "7H"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clip = (24.0, 58.0, 24.0 + boxDeg, 58.0 + boxDeg)
    def gen(r: Int) = grid match {
      case "4T" => GridOps.gridCellIdsForExtent(spark, r, Some(clip), Grids.isea4t)
      case _ => GridOps.gridCellIdsForExtent(spark, r, Some(clip))
    }
    // warmup at a shallow res (JIT the kernel + codegen the plan shape)
    gen(math.min(6, res)).count()
    // the count IS each timed run's result — no third generation for it
    var n = 0L
    val wall = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      n = gen(res).count()
      (System.nanoTime() - t0) / 1e9
    }.min
    println(s"""{"bench":"gen","grid":"$grid","cpus":$cpus,"res":$res,""" +
      s""""box_deg":$boxDeg,"cells":$n,"wall_sec":$wall,""" +
      s""""cells_per_sec":${(n / wall).toLong}}""")
    spark.stop()
  }
}

/** Broadcast-vs-shuffle PIP join (north_rule axis, measured): the same
  * point-in-polygon join driven through both physical strategies of
  * [[graft.ops.SpatialOps.spatialJoin]] over a deterministic
  * world-wide box-polygon relation. Reports the distributed cover-build
  * wall separately (it is strategy-independent and cacheable), then the
  * join wall per strategy. At local scale the broadcast side wins, as
  * it must — the leg's value is (a) both paths produce the identical
  * row count and (b) the crossover arithmetic is made concrete: the
  * cover relation is `rows × ~60 B`; past the broadcast ceiling
  * (cover ≫ 8 GB ⇔ ~10⁸ cover rows ⇔ ~10⁶–10⁷ polygons at res 4-5)
  * ONLY the shuffle-hash path survives, and its wall here bounds the
  * per-row premium paid for that survival.
  *
  *   sbt "runMain graft.BenchSpatialJoin <cpus> [nPts] [nPolys] [res]"
  */
object BenchSpatialJoin {
  import graft.ops.SpatialOps

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nPts = if (args.length > 1) args(1).toLong else 4000000L
    val nPolys = if (args.length > 2) args(2).toInt else 2000
    val res = if (args.length > 3) args(3).toInt else 4
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic world-wide points (same congruences as the flagship)
    val pts = spark.range(nPts).select(col("id"),
      ((pmod(col("id") * 9973L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
      ((pmod(col("id") * 6271L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
    // deterministic 3°×2° boxes, centers spread by the same congruences,
    // |lat| ≤ 60 to keep the envelope pruning honest near the poles
    val polys = spark.range(nPolys).select(
      concat(lit("p"), col("id")).as("poly_id"),
      ((pmod(col("id") * 7919L, lit(354000L)) / lit(1000.0)) - 177.0).as("cx"),
      ((pmod(col("id") * 4409L, lit(116000L)) / lit(1000.0)) - 58.0).as("cy"))
      .select(col("poly_id"), format_string(
        "POLYGON ((%.3f %.3f, %.3f %.3f, %.3f %.3f, %.3f %.3f, %.3f %.3f))",
        col("cx") - 1.5, col("cy") - 1.0, col("cx") + 1.5, col("cy") - 1.0,
        col("cx") + 1.5, col("cy") + 1.0, col("cx") - 1.5, col("cy") + 1.0,
        col("cx") - 1.5, col("cy") - 1.0).as("wkt"))

    // cover build is strategy-independent: time it once, cache it, and
    // reuse for every strategy leg (a real pipeline persists it anyway)
    val t0 = System.nanoTime()
    val cover = SpatialOps.coverCellsDf(polys, res).cache()
    val nCover = cover.count()
    val coverWall = (System.nanoTime() - t0) / 1e9

    def leg(label: String, bc: Option[Boolean]): Unit = {
      // warmup on a small point slice (JIT + codegen), then timed
      SpatialOps.spatialJoin(
        pts.limit(20000), "lon", "lat", cover, res, bc).count()
      val t = System.nanoTime()
      val n = SpatialOps.spatialJoin(pts, "lon", "lat", cover, res, bc)
        .count()
      val wall = (System.nanoTime() - t) / 1e9
      println(f"""{"bench":"pip","strategy":"$label","cpus":$cpus,""" +
        f""""pts":$nPts,"polys":$nPolys,"res":$res,"cover_rows":$nCover,""" +
        f""""cover_wall_sec":$coverWall%.2f,"join_wall_sec":$wall%.2f,"rows":$n}""")
    }
    leg("broadcast", Some(true))
    leg("shuffle_hash", Some(false))
    leg("auto", None)

    // COMPACTED-cover legs (round 6): per-polygon minimal multi-res
    // cover, one-scan multi-level ancestor join — meaningful when the
    // polygon interiors span ≥1 full cell family (run with res ≥ 6 for
    // the default 3°×2° boxes); rows must equal the uniform legs'
    val t1 = System.nanoTime()
    val compact = graft.ops.GridOps
      .compactCells(cover, keyCols = Seq("poly_id", "wkt")).cache()
    val nCompact = compact.count()
    val compactWall = (System.nanoTime() - t1) / 1e9
    def legC(label: String, bc: Option[Boolean]): Unit = {
      SpatialOps.spatialJoin(
        pts.limit(20000), "lon", "lat", compact, res, bc).count()
      val t = System.nanoTime()
      val n = SpatialOps.spatialJoin(
        pts, "lon", "lat", compact, res, bc).count()
      val wall = (System.nanoTime() - t) / 1e9
      println(f"""{"bench":"pip","strategy":"$label","cpus":$cpus,""" +
        f""""pts":$nPts,"polys":$nPolys,"res":$res,"cover_rows":$nCompact,""" +
        f""""cover_wall_sec":$compactWall%.2f,"join_wall_sec":$wall%.2f,"rows":$n}""")
    }
    legC("compact_broadcast", Some(true))
    legC("compact_auto", None)

    // PERSISTED-cover leg (round-6 verdict #4): the compact cover
    // written to parquet ONCE (untimed — a real pipeline builds covers
    // at polygon-ingest time, exactly like the lake-resident pair/span
    // tables of the dedup stack), join legs READ it — so the measured
    // wall is the join alone, none of the in-query compaction cost that
    // dominates dggs_spatial_join_compact's one-shot wall. This is the
    // steady-state economics: cover build is paid once per polygon-set
    // change, joins run per batch.
    val coverDir = java.nio.file.Files.createTempDirectory("graft_cover")
    try {
      val t2 = System.nanoTime()
      graft.ops.GridOps.compactCells(cover, keyCols = Seq("poly_id", "wkt"))
        .write.mode("overwrite").parquet(coverDir.toString)
      val buildWall = (System.nanoTime() - t2) / 1e9
      spark.catalog.clearCache()
      val persisted = spark.read.parquet(coverDir.toString)
      val nPersist = persisted.count()
      def legP(label: String, bc: Option[Boolean]): Unit = {
        SpatialOps.spatialJoin(
          pts.limit(20000), "lon", "lat", persisted, res, bc).count()
        val t = System.nanoTime()
        val n = SpatialOps.spatialJoin(
          pts, "lon", "lat", persisted, res, bc).count()
        val wall = (System.nanoTime() - t) / 1e9
        println(f"""{"bench":"pip","strategy":"$label","cpus":$cpus,""" +
          f""""pts":$nPts,"polys":$nPolys,"res":$res,"cover_rows":$nPersist,""" +
          f""""cover_wall_sec":$buildWall%.2f,"join_wall_sec":$wall%.2f,"rows":$n}""")
      }
      legP("compact_persisted_broadcast", Some(true))
      legP("compact_persisted_auto", None)
    } finally graft.tools.Fs.deleteRecursively(coverDir)
    spark.stop()
  }
}

/** Radius-join scaling leg (north_rule two-parallelism evidence): the
  * exact distance join over deterministic world-wide point sets at N
  * and 4N cores. The shuffle moves only the exploded left side
  * (|disk| × rows, ~19×) plus the right side once — the candidate
  * stream (≈ disk-area × point-density per left row) is refined inside
  * the join output iterator, never materialized or re-shuffled, so the
  * leg is CPU-bound haversine at any density and the wall should track
  * cores until the host memory-bandwidth ceiling.
  *
  * A 5th arg turns on targeted hot-cell salting (candidate-product
  * threshold) so its detection overhead vs. skew benefit is measurable
  * on the same corpus:
  *
  *   sbt "runMain graft.BenchDistanceJoin <cpus> [nLeft] [nRight] [radiusKm] [hotThreshold]"
  */
object BenchDistanceJoin {
  import graft.ops.SpatialOps

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nLeft = if (args.length > 1) args(1).toLong else 1000000L
    val nRight = if (args.length > 2) args(2).toLong else 1000000L
    val radiusKm = if (args.length > 3) args(3).toDouble else 25.0
    val hotThr: Option[Long] =
      if (args.length > 4) Some(args(4).toLong) else None
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val left = spark.range(nLeft).select(col("id").as("l_id"),
      ((pmod(col("id") * 9973L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
      ((pmod(col("id") * 6271L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
    val right = spark.range(nRight).select(col("id").as("r_id"),
      ((pmod(col("id") * 7919L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
      ((pmod(col("id") * 4409L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
    val res = SpatialOps.resForRadiusKm(radiusKm, 2)

    // warmup (JIT + codegen) on a slice, then timed full run
    SpatialOps.distanceJoin(left.limit(20000), right.limit(20000),
      "lon", "lat", radiusKm).count()
    val t0 = System.nanoTime()
    val n = SpatialOps.distanceJoin(left, right, "lon", "lat", radiusKm,
      hotCandidateThreshold = hotThr).count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"bench":"distance_join","cpus":$cpus,"n_left":$nLeft,""" +
      f""""n_right":$nRight,"radius_km":$radiusKm,"res":$res,""" +
      f""""hot_threshold":${hotThr.getOrElse(-1L)},""" +
      f""""pairs":$n,"wall_sec":$wall%.2f,""" +
      f""""left_rows_per_sec":${(nLeft / wall).toLong}}""")
    spark.stop()
  }
}

/** Skew demonstration (north_rule: explicit salt-based mitigation,
  * measured): a Zipfian-style corpus with a configurable fraction of
  * points in ONE res-6 cell, joined (shuffle join, broadcast disabled)
  * against a per-cell attribute table — first unsalted (one reducer owns
  * the hot cell), then salted via SpatialOps.saltBig/explodeSmall.
  */
object BenchSkew {
  import graft.ops.SpatialOps

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nPts = if (args.length > 1) args(1).toLong else 4000000L
    val hotFrac = if (args.length > 2) args(2).toDouble else 0.8
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.enabled", "false") // isolate the salting effect
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // skewed points: hotFrac of rows at one location (one res-6 cell),
    // the rest spread deterministically world-wide
    val pts = spark.range(nPts).select(col("id"),
        when(pmod(col("id"), lit(1000)) < (hotFrac * 1000).toInt, lit(24.7))
          .otherwise((pmod(col("id") * 9973L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
        when(pmod(col("id"), lit(1000)) < (hotFrac * 1000).toInt, lit(59.4))
          .otherwise((pmod(col("id") * 6271L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
      .withColumn("cell_id", F.cellForPoint(col("lon"), col("lat"), lit(6)))
      .select("id", "cell_id").cache()
    pts.count()

    // many-to-many dim: `dimPerCell` attribute rows per cell — the join
    // output amplifies per key, which is where one hot key serializes an
    // unsalted shuffle join into a single straggler task
    val dimPerCell = 50
    val dim = pts.select("cell_id").distinct()
      .withColumn("k", explode(sequence(lit(0), lit(dimPerCell - 1))))
      .withColumn("attr", pmod(col("cell_id") + col("k"), lit(1000)))
      .drop("k").cache()
    dim.count()

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"""{"skew":"$label","rows":$n,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    }
    time("unsalted_shuffle_join") {
      pts.join(dim, "cell_id").agg(sum("attr"), count(lit(1))).collect(); nPts
    }
    val nSalts = cpus.toInt
    time("salted_shuffle_join") {
      SpatialOps.saltedJoin(pts, dim, "cell_id", "id", nSalts, nPts / 100)
        .agg(sum("attr"), count(lit(1))).collect(); nPts
    }
    spark.stop()
  }
}

/** Clustered-store REGION-READ economics (north_rule "adaptive
  * partitioning on cell-index prefixes", measured): cells written
  * Z7-range-clustered once (CorpusStore.writeClustered), then the same
  * aggregate over (a) the full table and (b) one res-1 region via the
  * contiguous BETWEEN that parquet min/max + file pruning satisfy. The
  * leg reports wall AND bytes actually read — at lake scale the region
  * read is the difference between scanning 100 TB and scanning the
  * region's share of it.
  *
  *   sbt "runMain graft.BenchStore <cpus> [nPts] [files]"
  */
object BenchStore {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nPts = if (args.length > 1) args(1).toLong else 40000000L
    val files = if (args.length > 2) args(2).toInt else 256
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pts = spark.range(nPts).select(col("id"),
      ((pmod(col("id") * 9973L, lit(360000L)) / lit(1000.0)) - 180.0).as("lon"),
      ((pmod(col("id") * 6271L, lit(180000L)) / lit(1000.0)) - 90.0).as("lat"))
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    graft.ops.CorpusStore.writeClustered(
      graft.ops.GridOps.cellsForGeoPoints(pts, "lon", "lat", 6)
        .select("id", "cell_id"), "cell_id", dir, files)
    // bytes addressed = sum of sizes of the files the scan touches —
    // the file-pruning term that dominates at lake scale (row-group
    // min/max pruning inside touched files comes on top; task-level
    // inputMetrics under-report for this local-fs scan path)
    def fileMb(paths: Seq[String]): Long = paths.map(p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(
        p.stripPrefix("file:")))).sum / 1048576
    def leg(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      // sum(id), not a bare count: parquet satisfies count(*) from
      // row-group METADATA alone — the sum forces real column pages
      def agg(d: org.apache.spark.sql.DataFrame) =
        d.agg(sum(col("id")), count(lit(1))).collect().head.getLong(1)
      agg(df) // warm (page cache fair on both legs)
      val t0 = System.nanoTime()
      val n = agg(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val touched = df.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSeq
      println(f"""{"bench":"store","leg":"$label","cpus":$cpus,"pts":$nPts,""" +
        f""""rows":$n,"wall_sec":$wall%.2f,"files":${touched.size},""" +
        f""""file_mb":${fileMb(touched)}}""")
    }
    leg("full_scan") { spark.read.parquet(dir) }
    val parent = graft.dggs.Z7.fromCellString("023")
    leg("region_range") {
      graft.ops.CorpusStore.readCellRange(spark, dir, "cell_id", parent)
    }
    graft.tools.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}

/** Continent-scale clipped-extent stress leg (round 8): the
  * sample-assign-refine operator over a 90°×40° box at res 14 —
  * measured 2,632,520 result cells from ~105M kernel samples
  * (nLon·nLat at 0.35× nominal spacing), with the exact inverse-
  * projection refine paying only the O(perimeter) border ring.
  *
  *   sbt "runMain graft.BenchHexExtentBig <cpus>"
  */
object BenchHexExtentBig {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "16"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.GridOps
    val box = Some((-30.0, 30.0, 60.0, 70.0))
    def chk1 = sum(col("cell_id") % lit(97L))
    def chk2 = sum(shiftrightunsigned(col("cell_id"), 40))
    GridOps.gridCellIdsForExtent(spark, 8, box, Grids.isea3h).agg(chk1).collect() // warmup
    val t0 = System.nanoTime()
    val r0 = GridOps.gridCellIdsForExtent(spark, 14, box, Grids.isea3h)
      .agg(chk1.as("s1"), chk2.as("s2"), count(lit(1)).as("c")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"bench":"hex_extent_big","leg":"isea3h_res14_90x40","cpus":$cpus,""" +
      s""""wall_sec":$wall,"cells":${r0.getLong(2)},"cells_per_sec":${(r0.getLong(2) / wall).toLong},""" +
      s""""checksum":${r0.getLong(0) ^ r0.getLong(1)}}""")
    spark.stop()
  }
}

/** Round-8 hex-kernel scaling leg: point→cell assignment throughput of
  * the three NEW hexagon kernels (ISEA3H / ISEA4H / ISEA43H n4=3) over
  * deterministic world-wide points, one parallelism level per run —
  * the N-vs-4N protocol for the kernels added this round. The per-level
  * XOR checksum of all assigned ids must be identical at every
  * parallelism level (placement invariance).
  *
  *   sbt "runMain graft.BenchHexKernels <cpus> [nPoints] [res]"
  */
object BenchHexKernels {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val n = if (args.length > 1) args(1).toLong else 4000000L
    val res = if (args.length > 2) args(2).toInt else 9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.GridOps
    // deterministic world-wide points (same congruence family as
    // BenchKernel); |lat| unrestricted — pentagons and seams included
    def pts = spark.range(n).select(
      (col("id") * 9973L % 360000L / 1000.0 - 180.0).as("lon"),
      (col("id") * 6271L % 180000L / 1000.0 - 90.0).as("lat"))
    def leg(name: String, assign: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      // modular checksum: raw ids sit near 2^62, a plain sum overflows
      def chkCol = sum(pmod(col("cell_id"), lit(1000000007L)))
      assign(pts.limit(50000)).agg(chkCol).collect() // warmup
      val t0 = System.nanoTime()
      val chk = assign(pts).agg(chkCol.as("s"), count(lit(1)).as("c"))
        .collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"""{"bench":"hex_kernels","leg":"$name","cpus":$cpus,"points":$n,"res":$res,""" +
        s""""wall_sec":$wall,"cells_per_sec":${(n / wall).toLong},""" +
        s""""checksum":${chk.getLong(0)},"rows":${chk.getLong(1)}}""")
    }
    leg("isea3h", df => GridOps.cellsForGeoPoints(df, "lon", "lat", res, Grids.isea3h))
    leg("isea4h", df => GridOps.cellsForGeoPoints(df, "lon", "lat", res, Grids.isea4h))
    leg("isea43h", df => GridOps.cellsForGeoPoints(df, "lon", "lat", res, Grids.isea43h(3)))
    // region-extent leg: the round-8 sample-assign-refine operator over a
    // country-scale box at fine res (~230k result cells at res 15 —
    // ~9M samples through the kernel, one range map + one distinct)
    locally {
      val box = Some((10.0, 45.0, 20.0, 55.0))
      def chk = sum(pmod(col("cell_id"), lit(1000000007L)))
      GridOps.gridCellIdsForExtent(spark, 8, box, Grids.isea3h).agg(chk).collect() // warmup
      val t0 = System.nanoTime()
      val r0 = GridOps.gridCellIdsForExtent(spark, 15, box, Grids.isea3h)
        .agg(chk.as("s"), count(lit(1)).as("c")).collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"""{"bench":"hex_extent","leg":"isea3h_res15","cpus":$cpus,""" +
        s""""wall_sec":$wall,"cells":${r0.getLong(1)},"cells_per_sec":${(r0.getLong(1) / wall).toLong},""" +
        s""""checksum":${r0.getLong(0)}}""")
    }
    // whole-earth enumeration leg: the round-8 rank-bijection path at
    // res 15 (10*3^15 + 2 = 143M cells) - one codegen'd Range->Project,
    // raw native-arithmetic generation throughput. The checksum is two
    // cheap commutative folds (% 97 gets JIT magic-number strength
    // reduction; >>> 40 is a shift) - a `pmod(id, 1000000007)` checksum
    // measured 5x SLOWER at 32 threads than at 8 because SMT siblings
    // serialize on the core's non-pipelined 64-bit divider, swamping
    // the enumeration being measured. The warm-up runs the timed query
    // itself: warmed at res 8 only, the res-15 reading was bimodal
    // (0.8 s vs ~20 s)
    locally {
      def chk1 = sum(col("cell_id") % lit(97L))
      def chk2 = sum(shiftrightunsigned(col("cell_id"), 40))
      def run() = GridOps.gridCellIdsForExtent(spark, 15, None, Grids.isea3h)
        .agg(chk1.as("s1"), chk2.as("s2"), count(lit(1)).as("c")).collect()(0)
      run() // warmup
      val t0 = System.nanoTime()
      val r0 = run()
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"""{"bench":"hex_whole_earth","leg":"isea3h_res15","cpus":$cpus,""" +
        s""""wall_sec":$wall,"cells":${r0.getLong(2)},"cells_per_sec":${(r0.getLong(2) / wall).toLong},""" +
        s""""checksum":${r0.getLong(0) ^ r0.getLong(1)}}""")
    }
    spark.stop()
  }
}
