package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Bench
import graft.dggs.Z7
import graft.dggs.Sphere.GeoRad
import graft.ops.{CorpusOps, JtsCache, SpatialOps}
import graft.spark.{Grids, DggsFunctions => F}

/** `flagship`: seeded synthetic corpus → geo spans (input, untimed) →
  * `Bench.flagship` at res 9 (Z7 assignment, res-3 rollup, 3-polygon
  * broadcast point-in-polygon join with JTS refine). Kernel-bound.
  */
object Flagship {
  val Docs = 750000L
  val Res = 9
  val JoinRes = 4
  val RollupRes = 3
  /** repetitions before timing: the JIT keeps speeding repetitions up
    * for about this many */
  val WarmupReps = 3

  /** the seeded corpus's geo points, cached; the doc-id range moves with
    * the seed, so each seed projects a different point set
    */
  def input(ctx: Ctx): DataFrame = {
    val first = Math.floorMod(ctx.seed, 1000L) * 10000000L
    val docs = ctx.spark.range(first, first + Docs, 1, ctx.cores)
      .select(col("id").as("doc_id"))
    val geo = CorpusOps.geoSpans(CorpusOps.interleavedDocs(docs))
      .select("doc_id", "offset", "lon", "lat").cache()
    geo.count()
    geo
  }

  def run(ctx: Ctx): Unit = {
    val sessionS = ctx.sinceStart
    val (geo, prepS) = Stats.timed(ctx.tracer.span("ops.flagship.input")(input(ctx)))
    val nGeo = geo.count()
    val (_, warmS) = Stats.timed(
      (0 until WarmupReps).foreach(_ => Bench.flagship(ctx.spark, geo, Res)))
    ctx.recordSetup(sessionS, Seq(prepS), warmS)

    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    def rep(r: Int): Unit = rows += Bench.flagship(ctx.spark, geo, Res)._1
    ctx.observed("geo_points") = nGeo
    if (ctx.trace) traced(ctx, geo, ctx.tracedReps(2, "flagship.rep")(rep))
    else {
      val walls = ctx.repeat(3)(rep)
      ctx.recordTimings(walls, nGeo.toDouble, walls)
    }
    check(ctx, geo, rows.toSeq)
  }

  /** output checks (untimed): the res-3 rollup equals a tally of the
    * kernel run point by point on the driver, and `Bench.flagship`'s rows
    * equal that tally's cells plus a brute-force containment scan
    */
  private def check(ctx: Ctx, geo: DataFrame, rows: Seq[Long]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rollup = ctx.attempt("check rollup") {
      geo.groupBy(F.z7AncestorAt(F.cellForPoint(col("lon"), col("lat"), lit(Res)),
        lit(RollupRes))).agg(count(lit(1))).as[(Long, Long)].collect().toMap
    }
    val tally = ctx.attempt("check driver tally")(driverTally(
      geo.select("lon", "lat").as[(Double, Double)].collect()))
    val polys = Bench.FlagshipPolys
    val inside = udf((lon: Double, lat: Double) =>
      polys.count { case (_, wkt) => JtsCache.contains(wkt, lon, lat) }.toLong)
    val brute = ctx.attempt("check brute force") {
      geo.agg(sum(inside(col("lon"), col("lat")))).collect().head.getLong(0)
    }
    ctx.observed("flagship_rows") = rows
    rollup.foreach(ctx.observed("rollup_cells") = _)
    tally.foreach(ctx.observed("tally_cells") = _)
    brute.foreach(ctx.observed("brute_join_rows") = _)
  }

  /** points per res-3 cell, with the Z7 kernel called directly on the
    * driver (all cores), outside Spark
    */
  private def driverTally(pts: Array[(Double, Double)]): Map[Long, Long] = {
    val cell3 = new Array[Long](pts.length)
    java.util.stream.IntStream.range(0, pts.length).parallel().forEach { i =>
      val (lon, lat) = pts(i)
      cell3(i) = Z7.ancestorAt(Grids.default.cellForPoint(GeoRad.fromDeg(lat, lon), Res), RollupRes)
    }
    val n = scala.collection.mutable.LongMap.empty[Long]
    cell3.foreach(c => n(c) = n.getOrElse(c, 0L) + 1)
    n.toMap
  }

  /** traced run: after the traced reps, each operator stage alone in a
    * span, then the layer probes
    */
  private def traced(ctx: Ctx, geo: DataFrame, walls: Seq[Double]): Unit = {
    val t = ctx.tracer
    val stages = (0 until 2).flatMap { r =>
      ctx.attempt(s"stages $r")(stageRun(ctx, geo, r))
    }
    def med(k: String) = Stats.median(stages.map(_(k)))
    for (k <- Seq("assign_s", "rollup_s", "cover_s", "candidate_join_s", "refine_s",
      "candidates", "refine_accept_frac"))
      ctx.layer(s"ops.flagship.$k") = med(k)
    ctx.layer("ops.flagship.input_s") = t.medianSeconds("ops.flagship.input")
    ctx.layer("trace.unattributed_s") = Stats.median(walls) -
      Seq("assign_s", "rollup_s", "cover_s", "candidate_join_s", "refine_s").map(med).sum
    Probes.run(ctx)
  }

  /** one pass over the flagship's stages, each alone: its input is
    * cached beforehand (untimed) and its output forced with an action
    */
  private def stageRun(ctx: Ctx, geo: DataFrame, r: Int): Map[String, Double] = {
    val t = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    val cells = geo.withColumn("cell_id", F.cellForPoint(col("lon"), col("lat"), lit(Res)))
    val (_, assignS) = Stats.timed(t.span("ops.flagship.assign", r)(
      cells.agg(max("cell_id")).collect()))
    cells.cache().count()
    val (_, rollupS) = Stats.timed(t.span("ops.flagship.rollup", r)(
      cells.groupBy(F.z7AncestorAt(col("cell_id"), lit(RollupRes))).count().collect()))
    val (coverDf, coverS) = Stats.timed(t.span("ops.flagship.cover", r) {
      Bench.FlagshipPolys.flatMap { case (id, wkt) =>
        SpatialOps.coverCells(wkt, JoinRes).map(c => (id, wkt, c))
      }.toDF("poly_id", "poly_wkt", "cell4")
    })
    val cand = cells.withColumn("cell4", F.z7AncestorAt(col("cell_id"), lit(JoinRes)))
      .join(broadcast(coverDf), Seq("cell4")).select("lon", "lat", "poly_wkt")
    val (nCand, candS) = Stats.timed(t.span("ops.flagship.candidate_join", r)(cand.count()))
    cand.cache().count()
    val refine = udf((wkt: String, lon: Double, lat: Double) => JtsCache.contains(wkt, lon, lat))
    val (nOut, refineS) = Stats.timed(t.span("ops.flagship.refine", r)(
      cand.where(refine(col("poly_wkt"), col("lon"), col("lat"))).count()))
    cand.unpersist(true)
    cells.unpersist(true)
    Map("assign_s" -> assignS, "rollup_s" -> rollupS, "cover_s" -> coverS,
      "candidate_join_s" -> candS, "refine_s" -> refineS,
      "candidates" -> nCand.toDouble, "refine_accept_frac" -> nOut.toDouble / nCand)
  }
}
