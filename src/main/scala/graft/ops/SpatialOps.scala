package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.LongType
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import graft.dggs.{IGeo7, Sphere, Z7}
import graft.dggs.Sphere.GeoRad
import graft.spark.{DggsFunctions => F, Grids}

/** Cell-indexed spatial joins and kNN (SURVEY.md §7 layer 5; the
  * north_star's "H3/S2-indexed broadcast-vs-shuffle spatial joins" —
  * realized with the engine's own Z7 index).
  *
  * GRID CONTRACT — Z7/ISEA7H ONLY (round-8 verdict #4, documented
  * loudly): every cover, disk, and safe-radius certificate in this
  * object is derived from the Z7 kernel (`coverCells*`, `F.z7Disk`,
  * `diskSafeKm`/KnnSafeRadiusSpec). Ids from the ISEA3H/4H/43H/4T/4D
  * kernels are NOT accepted — join those datasets by round-tripping
  * through GEO (`DggsFunctions.cellCenter(cell, kernel)` → `spatialJoin` /
  * `knnJoin` / `distanceJoin` on lon/lat), which is exact because the
  * joins here take raw coordinates, not foreign cell ids. Extending
  * the disk/safe-radius certificates to the other kernels requires a
  * per-kernel KnnProbe sweep and is future feature work.
  *
  * Pattern (filter-refine): polygons → covering cells at a chosen res
  * (broadcast when the polygon side is small), points → cell id (narrow
  * map), equi-join on the cell, exact JTS predicate refine. The one
  * point-in-polygon entry point is [[spatialJoin]]; it reads the cover
  * source and the join shape from its polygon input. The shuffle key is
  * the (spread) cell id; hot cells are handled by AQE skew-join plus
  * the explicit salting helper below.
  *
  * Cache lifecycle (same contract as TextOps): knnJoin caches its query
  * and probe intermediates because multiple plan branches consume them
  * (measured recompute without). The returned DataFrame is lazy, so
  * long-lived sessions issuing many ad-hoc calls should
  * `spark.catalog.clearCache()` between logical jobs (as graft.Bench
  * does) or unpersist via the catalog.
  */
object SpatialOps {

  /** covering cells of a lon/lat polygon (WKT) at `res`: levelwise
    * expansion pruned by the polygon's envelope, then an exact refine:
    * a cell is kept when its straight-edged boundary ring intersects the
    * polygon (`JtsCache.ringIntersects`). Driver-side (used for dim
    * tables that get broadcast).
    *
    * Interior fast-accept: a candidate whose center the polygon contains
    * is kept without building its ring (six inverse projections). The
    * planar ring of a cell contains the cell's own center, so that ring
    * meets the polygon at the center and the refine would keep it too.
    * The argument needs the ring to be the plain planar ring around the
    * center, so the shortcut is taken only for cells clear of the poles
    * and of the antimeridian ([[clearOfSeams]], by the pruning margin at
    * `res`, which is twice a cell's circumradius bound); the other
    * candidates, and those whose center lies outside the polygon, get
    * the ring refine. For the flagship's tropics box at res 4, 2,391 of
    * the 2,519 cover cells skip the ring. `CoverReferenceSpec` checks
    * the result against the ring test over every cell of the grid.
    */
  def coverCells(wkt: String, res: Int, grid: IGeo7 = Grids.default): Seq[Long] = {
    import scala.collection.parallel.CollectionConverters._
    val gf = new GeometryFactory()
    val poly = new WKTReader(gf).read(wkt)
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(poly)
    val env = poly.getEnvelopeInternal
    // candidates with their centers: each pruning level computes a
    // child's center, and the refine reuses the last level's
    var cells: Seq[(Long, GeoRad)] = (0 to 11).map { b =>
      val z = Z7.pack(b, Seq.empty)
      (z, grid.cellCenter(z))
    }
    // per-level pruning and the final ring refine run PARALLEL on the
    // driver (round 9): cellCenter/cellBoundary run the ~100 µs
    // iterative inverse projection, and a world-spanning polygon keeps
    // tens of thousands of candidates live per level — measured ~3 s
    // single-threaded for the 5 zonal world bands at res 4. The kernel
    // is immutable/thread-safe (Grids scaladoc) and JTS prepared
    // geometry is already shared across executor task threads by the
    // refine UDFs. `.seq` restores deterministic output order.
    for (k <- 1 to res) {
      val margin = coverMargin(k)
      cells = cells.par.flatMap { case (parent, _) =>
        Z7.children(parent).map(z => (z, grid.cellCenter(z))).filter { case (_, c) =>
          // a degree of longitude shrinks by cos(lat): scale the lon margin
          // by 1/cos(lat) (clamped at 85°) so high-latitude cells whose
          // centers are displaced in lon aren't silently pruned; the lon
          // test is WRAPPED so a cell straddling ±180° whose center
          // normalizes to the other sign survives
          val lonMargin = margin /
            math.cos(math.toRadians(math.min(85.0, math.abs(c.latDeg))))
          lonDistToRangeD(c.lonDeg, env.getMinX, env.getMaxX) <= lonMargin &&
            c.latDeg >= env.getMinY - margin && c.latDeg <= env.getMaxY + margin
        }
      }.seq.toSeq
    }
    val reach = coverMargin(res)
    cells.par.filter { case (z, c) =>
      (clearOfSeams(c, reach) &&
        prep.contains(gf.createPoint(new Coordinate(c.lonDeg, c.latDeg)))) ||
        JtsCache.ringIntersects(prep, gf, grid.cellBoundary(z).map(g => (g.lonDeg, g.latDeg)))
    }.map(_._1).seq.toSeq
  }

  /** the envelope-pruning margin (deg) at res `k`: twice a bound on a
    * res-k cell's circumradius
    */
  private def coverMargin(k: Int): Double =
    math.toDegrees(0.6954709 / math.pow(7.0, k / 2.0)) * 2.0

  /** whether every point within `reach`° of center `c` stays at least
    * 10° from either pole and does not reach the antimeridian (a degree
    * of longitude shrinks by cos(lat), so the lon reach is scaled at the
    * highest latitude the cell can touch)
    */
  private def clearOfSeams(c: GeoRad, reach: Double): Boolean = {
    val top = math.abs(c.latDeg) + reach
    top <= 80.0 && 180.0 - math.abs(c.lonDeg) >= reach / math.cos(math.toRadians(top))
  }

  /** wrapped angular distance (deg) from lon `p` to interval [a,b] */
  private def lonDistToRangeD(p: Double, a: Double, b: Double): Double =
    if (p >= a && p <= b) 0.0
    else {
      def wd(y: Double): Double =
        math.abs((((p - y + 540.0) % 360.0) + 360.0) % 360.0 - 180.0)
      math.min(wd(a), wd(b))
    }

  /** Distributed covering cells: polygons(poly_id, wkt) → (poly_id, wkt,
    * cell_id) at `res`. The same levelwise expansion as `coverCells` but
    * as a DataFrame explode — scales to thousands of polygons / high-res
    * covers where the driver-side Seq would bottleneck (round-1 verdict:
    * the PIP join built its polygon covers on the driver).
    * Envelope pruning per level (lon margin 1/cos(lat)-scaled), exact
    * prepared-JTS intersects refine at the end.
    */
  def coverCellsDf(polygons: DataFrame, res: Int, grid: IGeo7 = Grids.default): DataFrame = {
    val envUdf = udf { (wkt: String) => JtsCache.envelope(wkt) }
    val seed = polygons
      .withColumn("__env", envUdf(col("wkt"))
        .cast("struct<minx:double,miny:double,maxx:double,maxy:double>"))
      .withColumn("cell_id", explode(lit((0 to 11).map(b => Z7.pack(b, Seq.empty)).toArray)))
    var df = seed
    for (k <- 1 to res) {
      val margin = coverMargin(k)
      val c = F.cellCenter(col("cell_id"), grid)
      val lonMargin = lit(margin) /
        cos(radians(least(lit(85.0), abs(c.getField("lat")))))
      df = df.select(col("poly_id"), col("wkt"), col("__env"),
          explode(F.children(col("cell_id"))).as("cell_id"))
        .where(
          GridOps.lonDistToRange(c.getField("lon"),
            col("__env.minx"), col("__env.maxx")) <= lonMargin &&
            c.getField("lat") >= col("__env.miny") - lit(margin) &&
            c.getField("lat") <= col("__env.maxy") + lit(margin))
      // a FEW-polygon input (often 1 clip geometry) would otherwise pin
      // the whole deep cover fan-out to as many tasks as input rows —
      // see GridOps.lineageStop for the full rationale
      if (GridOps.lineageStopAt(k, res)) df = GridOps.lineageStop(df)
    }
    val refine = udf { (wkt: String, ring: Seq[org.apache.spark.sql.Row]) =>
      JtsCache.intersectsRing(wkt,
        ring.map(r => (r.getDouble(0), r.getDouble(1))))
    }
    df.where(refine(col("wkt"), F.cellBoundary(col("cell_id"), grid)))
      .select("poly_id", "wkt", "cell_id")
  }

  /** Arbitrary-geometry clipped cell generation (reference
    * clip_subset_type GDAL — dggrid_runner.py:1328-1340): all cells at
    * `res` whose straight-edge boundary polygon intersects the WKT
    * geometry. Fully distributed (no driver-side cell materialization).
    */
  def gridCellIdsForWkt(spark: SparkSession, wkt: String, res: Int,
                        grid: IGeo7 = Grids.default): DataFrame = {
    import spark.implicits._
    val one = Seq(("clip", wkt)).toDF("poly_id", "wkt")
    coverCellsDf(one, res, grid).select("cell_id")
  }

  /** the PIP join's exact JTS contains refine */
  private lazy val pipRefine =
    udf { (wkt: String, lon: Double, lat: Double) =>
      JtsCache.contains(wkt, lon, lat)
    }.withName("pipRefine")

  /** `points ⋈ covers` on `points(key) = covers.cell_id`, hashed on
    * `F.z7SpreadKey` of both sides instead of the raw ids, which collapse
    * Spark's hash-relation slots (`Z7.spreadKey`). Output: `cell_id`,
    * the other point columns (minus `key`), then the cover columns minus
    * `cell_id`. The spread sits in the join condition, not in a projected
    * column: Catalyst then infers only `isnotnull(key)`, which for
    * `key = cell_id` folds to a null test on `cellForPoint`'s inputs, where an
    * `isnotnull` on a projected key column would inline `cellForPoint`
    * into a pushed-down `Filter` (PlanAuditSpec).
    */
  private def joinOnCell(points: DataFrame, key: String, covers: DataFrame): DataFrame =
    points.join(covers, F.z7SpreadKey(points(key)) === F.z7SpreadKey(covers("cell_id")))
      .select((points("cell_id") +: points.columns.filter(c => c != "cell_id" && c != key)
        .map(points(_))) ++ covers.columns.filter(_ != "cell_id").map(covers(_)): _*)

  /** Point-in-polygon join: every (point row, polygon) pair whose polygon
    * contains the point. Filter-refine: the polygons' Z7 cover and the
    * points' res-`res` cells meet in an equi-join ([[joinOnCell]]), then
    * an exact JTS contains refine. Output: `cell_id`, the point columns,
    * `name`, then the polygon columns other than `wkt`/`cell_id`
    * (`poly_id`, …).
    *
    * Every choice is read from `polygons`:
    *  - `(poly_id, wkt)`: the cover is built here at `res`. A relation
    *    whose rows are already on the driver (its optimized plan is a
    *    local relation, e.g. a `Seq(...).toDF` dim table) gets the
    *    parallel driver-side [[coverCells]] as a local relation; any
    *    other relation (lake-resident, GeoJSON-sourced, …) gets the
    *    distributed [[coverCellsDf]], never collected to the driver.
    *  - `(poly_id, wkt, cell_id)`: a precomputed cover, uniform (e.g.
    *    cached or lake-resident [[coverCellsDf]] output) or compacted
    *    (`GridOps.compactCells(cover, keyCols = Seq("poly_id", "wkt"))`).
    *    One metadata job reads its distinct resolutions (≤ 16 values); a
    *    cover finer than `res` raises, an empty cover returns no rows.
    *
    * The join shape follows the cover's resolutions. A cover at `res`
    * alone joins each point's own cell. A mixed-resolution (compacted)
    * cover is matched in ONE corpus scan: each point explodes one
    * ancestor per distinct cover resolution and a single equi-join on
    * that ancestor matches every level at once (point fan-out = number
    * of cover levels, typically 2–4). The rows are the same either way:
    * a point is inside a compacted cell iff it is inside one of the
    * res-`res` descendants that were merged away. Compaction shrinks a
    * homogeneous-interior cover ~7× per merged level, which keeps
    * big-region covers broadcastable far past the uniform cover's
    * ceiling; building and compacting it in-query costs more than the
    * join (round 9, 2000 polygons / 4M points at 32c: cover 5.1 s +
    * compaction 1.7 s vs a 1.3–1.8 s join), so it pays as a persisted
    * cover reused across joins (BenchSpatialJoin's persisted legs).
    *
    * `broadcastCovers` picks the physical strategy for the cover side:
    *  - `None` (default): a cover built on the driver is broadcast (it
    *    fit on the driver, and the stats of a small polygon table can
    *    make Catalyst broadcast the POINT side instead); any other cover
    *    gets no hint — Catalyst/AQE chooses from its stats (small cover
    *    → broadcast, big → shuffle).
    *  - `Some(true)`: force-broadcast the cover (the dim-table case when
    *    stats mislead, e.g. a freshly-exploded cover with no estimate).
    *  - `Some(false)`: shuffle-hash hint — both sides exchange on the
    *    spread cell key; no sort of the (huge) point side, unlike SMJ.
    *    The million-polygon case.
    *
    * Skew note: a cover cell shared by many polygons concentrates its
    * points' rows; if a profile shows such a hot cell, [[saltedJoin]]
    * applies to the (points × covers) equi-key as for any key join.
    */
  def spatialJoin(points: DataFrame, lonCol: String, latCol: String,
                  polygons: DataFrame, res: Int,
                  broadcastCovers: Option[Boolean] = None,
                  grid: IGeo7 = Grids.default): DataFrame = {
    val precomputed = polygons.columns.contains("cell_id")
    val onDriver = !precomputed &&
      polygons.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val covers =
      if (precomputed) polygons
      else if (onDriver) {
        val polys = polygons.select("poly_id", "wkt")
        val rows = polys.collect().toSeq.flatMap { r =>
          coverCells(r.getString(1), res, grid).map(c => Row(r.get(0), r.getString(1), c))
        }
        polys.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
          polys.schema.add("cell_id", LongType, nullable = false))
      } else coverCellsDf(polygons, res, grid)
    val resList: Seq[Int] =
      if (!precomputed) Seq(res)
      else covers.select(F.resolution(col("cell_id"), grid)).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
    require(resList.forall(_ <= res),
      s"cover has res-${resList.last} cells finer than point res $res")
    val renamed = covers.withColumnRenamed("wkt", "poly_wkt")
    val hinted = broadcastCovers.orElse(Option.when(onDriver)(true)) match {
      case Some(true)  => broadcast(renamed)
      case Some(false) => renamed.hint("shuffle_hash")
      case None        => renamed
    }
    val pts = GridOps.cellsForGeoPoints(points, lonCol, latCol, res, grid)
    val joined =
      if (resList.forall(_ == res)) joinOnCell(pts, "cell_id", hinted)
      else joinOnCell(pts.withColumn("__anc", explode(array(resList.map(r =>
        F.ancestorAt(col("cell_id"), lit(r))): _*))), "__anc", hinted)
    joined.where(pipRefine(col("poly_wkt"), col(lonCol), col(latCol)))
      .drop("poly_wkt")
  }

  /** POLYGON × POLYGON intersects join — the fourth indexed spatial
    * join (PIP / kNN / radius / overlay): candidate pairs share a
    * covering cell, refined by exact JTS intersects. Complete at any
    * `res`: if A∩B ≠ ∅, the res-`res` cell containing an intersection
    * point intersects both geometries, so it appears in BOTH covers
    * and the pair is a candidate (covers are intersects-covers by
    * construction).
    *
    * Scale shape: two DISTRIBUTED covers (coverCellsDf — never on the
    * driver), ONE cell-id equi-join producing id pairs only (wkts do
    * NOT ride the candidate shuffle), distinct, then the wkts join
    * back by id for the one-refine-per-pair test — candidate volume is
    * Σ per-cell |A|·|B|, never |A|×|B|. `res` trades cover size
    * against candidate precision; a cell shared by many polygons of
    * both sides concentrates pairs — pick res fine enough that covers
    * separate, or salt the cell key ([[saltedJoin]]) as for any key
    * join. Inputs: `(poly_id, wkt)` relations; output: (a_id, b_id).
    */
  def polygonIntersectsJoin(polysA: DataFrame, polysB: DataFrame, res: Int,
                            grid: IGeo7 = Grids.default): DataFrame = {
    val ca = coverCellsDf(polysA, res, grid)
      .select(col("poly_id").as("a_id"), col("cell_id"))
    val cb = coverCellsDf(polysB, res, grid)
      .select(col("poly_id").as("b_id"), col("cell_id"))
    val cand = ca.join(cb, F.z7SpreadKey(ca("cell_id")) === F.z7SpreadKey(cb("cell_id")))
      .select("a_id", "b_id").distinct()
    val refine = udf { (wa: String, wb: String) => JtsCache.intersectsWkt(wa, wb) }
    cand
      .join(polysA.select(col("poly_id").as("a_id"), col("wkt").as("__wa")), "a_id")
      .join(polysB.select(col("poly_id").as("b_id"), col("wkt").as("__wb")), "b_id")
      .where(refine(col("__wa"), col("__wb")))
      .select("a_id", "b_id")
  }

  /** Exact kNN: for each query row, the k nearest target points by
    * great-circle distance. ONE equi-join probe of the query's Z7
    * `probeDisk`-disk (default 2 → 19 cells — cheap index arithmetic)
    * at `res`, with the completeness PROOF folded into the same top-k
    * window pass: a query is PROVEN complete when it has ≥ k candidates
    * all within `diskSafeKm(res, probeDisk)` — any target that close is
    * necessarily inside the disk, so the disk top-k IS the global
    * top-k. Only the unproven residue (sparse regions; ≤1% in
    * KnnSafeRadiusSpec, vanishing at production density) pays a
    * broadcast scan of the target set. For corpora sparser than the
    * disk-2 certificate reaches, raise `probeDisk` (validated 1..4 —
    * round 5: disk-3 covers ~1.7× the radius for 37 probe cells) or
    * drop `res`; both trade probe fan-out against brute residue. At any density the result
    * equals brute force exactly, which is what the DuckDB oracle checks.
    * (Round-3 verdict #2 fused the former disk-1 → disk-2 escalation:
    * the disk-1 stage saved 12/19 of the probe fan-out but cost a second
    * probe join, a second window, and two anti-joins of fixed overhead
    * even when stage 1 proved everything — measured 1.5× slower than
    * this single fused probe.)
    *
    * The top-k window partitions by a per-row query id (round-1 fix:
    * partitioning by coordinates merged distinct queries that share a
    * location). The query side is cached so the id assignment is
    * consistent across the safe/escalate branches — the query side is
    * the small side of a kNN by construction.
    *
    * `excludeSelf`: (queryCol, targetCol) name pairs; a candidate is
    * dropped when ALL pairs are equal (the reference's ring semantics
    * drop self — igeo7_ext.py:103-156).
    */
  def knnJoin(queries: DataFrame, targets: DataFrame,
              lonCol: String, latCol: String, k: Int, res: Int,
              excludeSelf: Seq[(String, String)] = Nil,
              probeDisk: Int = 2): DataFrame =
    knnJoinStaged(queries, targets, lonCol, latCol, k, res, excludeSelf,
      probeDisk)._1

  /** knnJoin plus the residual (post-disk-probe) escalation query-id
    * set — exposed so tests can assert the brute-force residue is rare.
    */
  private[graft] def knnJoinStaged(queries: DataFrame, targets: DataFrame,
                                   lonCol: String, latCol: String, k: Int, res: Int,
                                   excludeSelf: Seq[(String, String)] = Nil,
                                   probeDisk: Int = 2)
      : (DataFrame, DataFrame) = {
    // validated here under its own name: letting diskSafeKm throw would
    // blame "k", which in THIS signature is the (valid) neighbor count
    require(probeDisk >= 1 && probeDisk <= 4,
      s"knnJoin: probeDisk=$probeDisk outside the validated range 1..4 " +
        "(KnnSafeRadiusSpec/KnnProbe)")
    val qc = GridOps.cellsForGeoPoints(
        queries.withColumn("__qid", monotonically_increasing_id()),
        lonCol, latCol, res)
      .drop("name")
      .withColumnRenamed(lonCol, "q_lon").withColumnRenamed(latCol, "q_lat")
      .cache()
    val t = targets
      .withColumnRenamed(lonCol, "t_lon").withColumnRenamed(latCol, "t_lat")
    val tCell = GridOps.cellsForGeoPoints(t, "t_lon", "t_lat", res)
      .drop("name").withColumnRenamed("cell_id", "probe_cell")
    val dist = haversineKm(col("q_lon"), col("q_lat"), col("t_lon"), col("t_lat"))
    val keep: Column =
      if (excludeSelf.isEmpty) lit(true)
      else excludeSelf.map { case (qk, tk) => col(qk) =!= col(tk) }
        .reduce(_ || _)
    // deterministic total order: distance, then every target column in
    // name order (covers duplicate-coordinate targets)
    val tieCols = t.columns.sorted.map(c => col(c).asc)
    def topK(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy("__qid")
        .orderBy(col("dist_km").asc +: tieCols.toSeq: _*)
      cand.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= k)
    }
    // probe the probeDisk-disk neighbourhood of each query's cell (a
    // plain cell-id equi-join) and fold the completeness PROOF into the same
    // window pass: a query is proven when it has >= k candidates
    // (pre-filter count over the partition) all within diskSafeKm (max
    // over the kept top-k rows). Both extra window functions share the
    // top-k window's exchange, so the proof costs no additional shuffle.
    // EXPLICIT partition count into the top-k window (round 9): the
    // candidate relation is small in bytes but the window pays a
    // CPU-heavy sort (distance + full tie-column order) per query
    // group, so AQE's byte advisory coalesces the exchange to ONE task
    // (measured 1.2 s single-threaded of a 2.6 s warm wall at sf0.1).
    // A user-specified repartition on the window key is exempt from
    // coalescing — the same discipline as the banding engine and
    // distanceJoin (windows have no map-side combine to lose).
    val nPart = queries.sparkSession.sessionState.conf.numShufflePartitions
    val probes = qc
      .withColumn("probe_cell", explode(F.z7Disk(col("cell_id"), probeDisk)))
      .drop("cell_id")
    val cand = probes
      .join(tCell, F.z7SpreadKey(probes("probe_cell")) === F.z7SpreadKey(tCell("probe_cell")))
      .drop(probes("probe_cell")).drop(tCell("probe_cell"))
      .where(keep)
      .withColumn("dist_km", dist)
      .repartition(nPart, col("__qid"))
    val w = Window.partitionBy("__qid")
      .orderBy(col("dist_km").asc +: tieCols.toSeq: _*)
    val wAll = Window.partitionBy("__qid")
    val safeKm = diskSafeKm(res, probeDisk)
    val diskTopK = cand
      .withColumn("__n_cand", count(lit(1)).over(wAll))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .withColumn("__safe",
        col("__n_cand") >= k && max(col("dist_km")).over(wAll) <= lit(safeKm))
      .drop("__n_cand")
      .cache()
    val safeRows = diskTopK.where(col("__safe")).drop("__safe")
    // exact brute-force fallback for the residue only: queries the disk
    // probe could not certify, INCLUDING queries with no disk candidates
    // at all (which never reach diskTopK)
    val unsafe = qc.drop("cell_id")
      .join(safeRows.select("__qid").distinct(), Seq("__qid"), "left_anti")
    val bruteTopK = topK(
      broadcast(unsafe).crossJoin(t).where(keep).withColumn("dist_km", dist))
    (safeRows.unionByName(bruteTopK).drop("__qid"),
      unsafe.select("__qid"))
  }

  /** Exact radius (distance) join: every (left, right) pair with
    * haversine distance ≤ `radiusKm`, the third member of the indexed
    * spatial-join family (point-in-polygon, kNN, radius) — the reference
    * reaches the same result by binning both sides to cells and joining
    * on the id (dggrid_runner.py cell-assignment + pandas merge); here
    * the join is exact, not cell-granular.
    *
    * Scale shape: the right side is keyed by its res-`res` cell (ONE row
    * per point, narrow map); the left side fans out to the
    * `probeDisk`-disk of its cell (|disk| = 1+3k(k+1) rows); a plain
    * cell-id equi-join then a haversine refine. NEVER a cross join at
    * any input size. Exactness leans on the SAME certificate as knnJoin:
    * any right point within diskSafeKm(res, probeDisk) of a left point
    * lies inside the left cell's disk (KnnSafeRadiusSpec), so requiring
    * radiusKm ≤ diskSafeKm(res, probeDisk) makes the candidate set
    * provably complete — enforced with a loud raise, not assumed. No
    * duplicate pairs: a right point has exactly one cell and a disk
    * contains each cell id once, so each qualifying pair joins exactly
    * once. Hot cells shuffle-skew like any equi-join: AQE skew-join
    * handles moderate cases, `saltedJoin` the extreme ones.
    *
    * Column contract mirrors knnJoin: both sides carry `lonCol`/`latCol`
    * (renamed to l_/r_ internally); all other columns pass through and
    * must not collide. Output = left cols + right cols + `dist_km`.
    * `res` < 0 picks the finest certified resolution automatically
    * (fewer false candidates per cell while the disk still covers the
    * radius — the fan-out stays constant, the per-cell occupancy drops).
    */
  def distanceJoin(left: DataFrame, right: DataFrame,
                   lonCol: String, latCol: String, radiusKm: Double,
                   res: Int = -1, probeDisk: Int = 2,
                   hotCandidateThreshold: Option[Long] = None,
                   nSalts: Int = 8): DataFrame = {
    require(radiusKm > 0, s"distanceJoin: radiusKm=$radiusKm must be positive")
    require(probeDisk >= 1 && probeDisk <= 4,
      s"distanceJoin: probeDisk=$probeDisk outside the validated range 1..4 " +
        "(KnnSafeRadiusSpec/KnnProbe)")
    require(nSalts >= 1, s"distanceJoin: nSalts=$nSalts must be >= 1")
    require(hotCandidateThreshold.forall(_ > 0),
      s"distanceJoin: hotCandidateThreshold=$hotCandidateThreshold must be positive")
    val useRes = if (res >= 0) res else resForRadiusKm(radiusKm, probeDisk)
    require(radiusKm <= diskSafeKm(useRes, probeDisk),
      s"distanceJoin: radiusKm=$radiusKm exceeds the certified disk coverage " +
        s"${diskSafeKm(useRes, probeDisk)} km at res=$useRes probeDisk=$probeDisk — " +
        "pairs near the radius could be silently missed; coarsen res or raise probeDisk")
    val overlap = (left.columns.toSet intersect right.columns.toSet) -- Set(lonCol, latCol)
    require(overlap.isEmpty,
      s"distanceJoin: non-coordinate columns collide across sides: $overlap")
    val l = left.withColumnRenamed(lonCol, "l_lon").withColumnRenamed(latCol, "l_lat")
    val lCell = GridOps.cellsForGeoPoints(l, "l_lon", "l_lat", useRes).drop("name")
    val r = right.withColumnRenamed(lonCol, "r_lon").withColumnRenamed(latCol, "r_lat")
    val rCell = GridOps.cellsForGeoPoints(r, "r_lon", "r_lat", useRes)
      .drop("name").withColumnRenamed("cell_id", "probe_cell")
    val lExp = lCell
      .withColumn("probe_cell", explode(F.z7Disk(col("cell_id"), probeDisk)))
      .drop("cell_id")
    // explicit partition count on BOTH join inputs — same discipline as
    // the banding engine (TextOps.hamming64Pairs): candidate rows are
    // tiny (~40 B) but the join's cost is the haversine refine over the
    // disk-area × density candidate stream, so AQE's 64 MB byte advisory
    // would coalesce a million-point join into a handful of tasks and
    // flatten N→4N scaling (measured: 2→8c efficiency 0.66 before —
    // BENCH/BASELINE.md)
    val nPart = left.sparkSession.sessionState.conf.numShufflePartitions
    // targeted hot-cell salting (the saltedJoin recipe, keyed here by
    // the join's REAL cost), OPT-IN like saltedJoin: a cell's task cost
    // is n_left_probes × n_right — quadratic in occupancy, so one dense
    // city cell can own the wall while every other task idles. Cells
    // whose candidate product exceeds the threshold get their left rows
    // hashed over nSalts subtasks and their right rows replicated
    // ×nSalts; everything else joins on salt 0. Opt-in because the
    // detection costs a second pass over the exploded relation plus a
    // codegen-breaking membership filter — measured 7.51→14.36 s (≈2×)
    // on a 1M×1M world-wide corpus whose worst cell was only ~2× the
    // average task (BENCH/BASELINE.md); reach for it when a
    // key-occupancy histogram says the top product dominates the mean,
    // not by default. The hot-key collect is threshold-bounded
    // (Σ products ≤ total candidates ⇒ ≤ total/threshold keys). Results
    // are placement-invariant: output identical with salting on or off
    // (spec-pinned).
    val hotKeys: Set[Long] = hotCandidateThreshold match {
      case None => Set.empty
      case Some(thr) =>
        val nl = lExp.groupBy("probe_cell").agg(count(lit(1)).as("n_l"))
        val nr = rCell.groupBy("probe_cell").agg(count(lit(1)).as("n_r"))
        nl.join(nr, "probe_cell")
          .where(col("n_l") * col("n_r") > thr)
          .select(col("probe_cell"))
          .collect().map(_.getLong(0)).toSet
    }
    // the hash relation is keyed on the spread id (DggsFunctions.cellForPoint
    // scaladoc: raw ids collapse into one slot); both sides are
    // partitioned on it so the join needs no further exchange
    val spread = F.z7SpreadKey(col("probe_cell"))
    def spreadJoin(l: DataFrame, r: DataFrame, more: Seq[String]): DataFrame = {
      val on = more.foldLeft(F.z7SpreadKey(l("probe_cell")) === F.z7SpreadKey(r("probe_cell")))(
        (c, m) => c && l(m) === r(m))
      ("probe_cell" +: more).flatMap(m => Seq(l(m), r(m)))
        .foldLeft(l.join(r.hint("shuffle_hash"), on))(_.drop(_))
    }
    val joined =
      if (hotKeys.isEmpty)
        spreadJoin(lExp.repartition(nPart, spread), rCell.repartition(nPart, spread), Nil)
      else {
        val isHot = udf((k: Long) => hotKeys.contains(k))
        val lS = lExp.withColumn("__salt",
          when(isHot(col("probe_cell")),
            pmod(hash(col("l_lon"), col("l_lat")), lit(nSalts))).otherwise(lit(0)))
        val rS = rCell.withColumn("__salt",
          explode(when(isHot(col("probe_cell")),
            sequence(lit(0), lit(nSalts - 1))).otherwise(array(lit(0)))))
        spreadJoin(lS.repartition(nPart, spread, col("__salt")),
          rS.repartition(nPart, spread, col("__salt")), Seq("__salt"))
      }
    joined
      .withColumn("dist_km",
        haversineKm(col("l_lon"), col("l_lat"), col("r_lon"), col("r_lat")))
      .where(col("dist_km") <= lit(radiusKm))
  }

  /** finest resolution whose probeDisk-disk provably covers `radiusKm`
    * (diskSafeKm ≥ radius). Finer is better for the join above — the
    * disk fan-out is constant in res while false candidates per cell
    * shrink 7× per level. Raises if even res 0 cannot certify the radius
    * at this probeDisk (planetary radii → raise probeDisk or accept res 0).
    */
  def resForRadiusKm(radiusKm: Double, probeDisk: Int = 2): Int = {
    require(radiusKm > 0, s"resForRadiusKm: radiusKm=$radiusKm must be positive")
    val certified = (0 to 15).reverse.find(r => diskSafeKm(r, probeDisk) >= radiusKm)
    certified.getOrElse(throw new IllegalArgumentException(
      s"resForRadiusKm: radiusKm=$radiusKm exceeds even the res-0 " +
        s"probeDisk=$probeDisk coverage ${diskSafeKm(0, probeDisk)} km"))
  }

  /** guaranteed k-disk coverage radius at `res` in km: any target within
    * this distance of a query point is necessarily inside the query
    * cell's k-disk (cell ∪ ring1 ∪ … ∪ ringK). Geometry: from any point
    * of a hex, the exterior of its 1-disk is ≥ one hex inradius away,
    * and each further ring adds ≥ one hex width (2 inradii); the 0.6
    * factor absorbs ISEA shape distortion (empirically validated against
    * a center-to-ring-exterior lower bound over sampled cells incl.
    * pentagons in KnnSafeRadiusSpec — measured minima quoted there).
    */
  def diskSafeKm(res: Int, k: Int): Double = {
    // the 0.6 distortion factor is empirically validated for k=1..4
    // (KnnSafeRadiusSpec sweeps the exact geometric lower bound — the
    // shared graft.tools.KnnProbe measurement — over sampled cells
    // incl. pentagons at res 1-7: measured factors 0.71-1.00 of the
    // ideal (2k-1)·rIn, i.e. ≥1.19× margin over 0.6);
    // a k>=5 caller would lean an exactness certificate on an
    // unverified constant — extend the spec's sweep before admitting
    // larger k
    require(k >= 1 && k <= 4,
      s"diskSafeKm: k=$k outside the validated range 1..4 (KnnSafeRadiusSpec)")
    0.6 * (2.0 * k - 1.0) * hexInradiusKm(res)
  }

  /** hex inradius (km) at `res` — the ONE definition both the bound
    * (above) and the measurement that validates it
    * (graft.tools.KnnProbe) consume, so the published distortion
    * factors and the enforced radius cannot use diverging cell models.
    */
  def hexInradiusKm(res: Int): Double = {
    val areaKm2 = 4.0 * math.Pi * Sphere.EarthRadiusKm * Sphere.EarthRadiusKm /
      (10.0 * math.pow(7.0, res))
    math.sqrt(areaKm2 / (2.0 * math.sqrt(3.0)))
  }

  /** k=1 disk coverage radius (kept as the published name). */
  def ringSafeKm(res: Int): Double = diskSafeKm(res, 1)

  /** great-circle distance in km (haversine; matches the reference's
    * raster helper semantics, igeo7_ext.py:243-260).
    */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val r1 = radians(lat1); val r2 = radians(lat2)
    val dlat = radians(lat2 - lat1); val dlon = radians(lon2 - lon1)
    val a = pow(sin(dlat / 2), 2) + cos(r1) * cos(r2) * pow(sin(dlon / 2), 2)
    lit(2.0 * Sphere.EarthRadiusKm) * asin(sqrt(a))
  }

  /** explicit salt for hot cells (Zipfian occupancy — north_rule skew
    * mitigation): the big side gets a per-ROW salt (hash of a row key,
    * NOT the join key) so one hot cell spreads over nSalts reducers; the
    * small side is exploded ×nSalts so the equi-join key becomes
    * (cell_id, salt). Use `saltedJoin` for the targeted variant that
    * only salts detected hot keys (blanket-exploding a large dim side is
    * catastrophic — measured in BenchSkew).
    */
  def saltBig(big: DataFrame, rowKeyCol: String, saltKeyCol: String, nSalts: Int): DataFrame =
    big.withColumn(saltKeyCol, pmod(hash(col(rowKeyCol)), lit(nSalts)))

  def explodeSmall(small: DataFrame, saltKeyCol: String, nSalts: Int): DataFrame =
    small.withColumn(saltKeyCol, explode(sequence(lit(0), lit(nSalts - 1))))

  /** Targeted salted equi-join: detect keys whose big-side count exceeds
    * `hotThreshold` (one aggregated pass), salt ONLY those — big side
    * rows of hot keys get hash(rowKey) mod nSalts, everything else salt
    * 0; the small side is exploded ×nSalts only for hot keys. The join
    * key becomes (key, salt); output equals the plain join.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCol: String,
                 rowKeyCol: String, nSalts: Int, hotThreshold: Long): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    val hotKeys = big.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .where(col("n") > hotThreshold)
      .select(col(keyCol)).as[Long].collect().toSet
    val isHot = udf((k: Long) => hotKeys.contains(k))
    val bigS = big.withColumn("salt",
      when(isHot(col(keyCol)), pmod(hash(col(rowKeyCol)), lit(nSalts))).otherwise(lit(0)))
    val smallS = small.withColumn("salt",
      explode(when(isHot(col(keyCol)), sequence(lit(0), lit(nSalts - 1)))
        .otherwise(array(lit(0)))))
    bigS.join(smallS, Seq(keyCol, "salt")).drop("salt")
  }
}

/** executor-side cache of prepared polygons for the refine UDF.
  * Size-bounded LRU (access order): coverCellsDf is pitched at thousands
  * of distinct polygons per job, and an unbounded WKT-keyed map would
  * keep every polygon ever seen resident for the executor JVM lifetime.
  */
object JtsCache {
  private val MaxEntries = 4096
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.locationtech.jts.geom.prep.PreparedGeometry]()
  @transient private lazy val gf = new GeometryFactory()
  // WKTReader keeps parse state — per-thread instance instead of a
  // per-call allocation (the round-3 minhash analysis measured
  // allocation rate as this box's 32-thread scaling ceiling)
  @transient private lazy val reader =
    ThreadLocal.withInitial[WKTReader](() => new WKTReader(gf))

  private def prepared(wkt: String) = {
    // bound the cache: reads must stay lock-free (this is called per ROW
    // in the refine UDFs), so the eviction policy is the cheapest safe
    // one — drop everything when full and let the working set rebuild.
    // A job touching >4096 distinct polygons in one task thrashes, but
    // that is strictly better than the previous unbounded growth.
    if (cache.size() > MaxEntries) cache.clear()
    cache.computeIfAbsent(wkt, w =>
      org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(
        reader.get().read(w)))
  }

  def contains(wkt: String, lon: Double, lat: Double): Boolean =
    prepared(wkt).contains(gf.createPoint(new Coordinate(lon, lat)))

  /** (minLon, minLat, maxLon, maxLat) of a WKT geometry — uncached (used
    * once per POLYGON row in coverCellsDf's seed, not per point).
    */
  def envelope(wkt: String): (Double, Double, Double, Double) = {
    val env = reader.get().read(wkt).getEnvelopeInternal
    (env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
  }

  /** prepared-intersects of the polygon against a (lon,lat) ring */
  def intersectsRing(wkt: String, ring: Seq[(Double, Double)]): Boolean =
    ringIntersects(prepared(wkt), gf, ring)

  /** prepared-intersects of two WKT geometries (the left side rides the
    * prepared cache; the right is parsed per call — candidate pairs are
    * already deduped when this runs, so each pair pays one parse)
    */
  def intersectsWkt(a: String, b: String): Boolean =
    prepared(a).intersects(reader.get().read(b))

  private def wrap180(d: Double): Double = (((d % 360.0) + 540.0) % 360.0) - 180.0

  /** Antimeridian-aware ring-vs-prepared-polygon intersects: a cell ring
    * straddling ±180° has normalized vertex lons on both signs, so the
    * naive planar polygon spans nearly all longitudes (its interior is
    * the COMPLEMENT band) and spuriously intersects everything. Wide
    * lon span has TWO distinct causes, distinguished by the ring's total
    * longitude winding (round-3 ADVICE — the old straddle-only unwrap
    * silently dropped pole cells):
    *  - winding ≈ 0: ordinary dateline straddle — test the two unwrapped
    *    copies (negative lons +360 / positive lons −360);
    *  - |winding| ≈ 360°: the ring ENCLOSES a pole — both straddle
    *    copies are degenerate bands, so build the true spherical cap
    *    polygon instead: unwrap the boundary continuously, close it
    *    across the pole, and test the cap and its ±360° translates.
    */
  private[ops] def ringIntersects(
      prep: org.locationtech.jts.geom.prep.PreparedGeometry,
      gf: GeometryFactory, ring: Seq[(Double, Double)]): Boolean = {
    def poly(r: Seq[(Double, Double)]) = {
      val coords = (r :+ r.head).map { case (lo, la) => new Coordinate(lo, la) }
      gf.createPolygon(coords.toArray)
    }
    val lons = ring.map(_._1)
    if (lons.max - lons.min > 180.0) {
      val winding = (ring :+ ring.head).sliding(2).map {
        case Seq(a, b) => wrap180(b._1 - a._1)
        case _ => 0.0
      }.sum
      if (math.abs(winding) > 180.0) {
        // polar cap: continuous unwrap (each vertex within ±180° of its
        // predecessor), then close via two pole-latitude corners
        val unwrapped = ring.tail.scanLeft(ring.head) {
          case ((plo, _), (lo, la)) => (plo + wrap180(lo - plo), la)
        }
        val poleLat = if (ring.map(_._2).sum >= 0.0) 90.0 else -90.0
        val lonStart = unwrapped.head._1
        val lonEnd = lonStart + (if (winding > 0) 360.0 else -360.0)
        val capRing = unwrapped ++ Seq(
          (lonEnd, unwrapped.head._2), (lonEnd, poleLat), (lonStart, poleLat))
        Seq(0.0, -360.0, 360.0).exists { dx =>
          prep.intersects(poly(capRing.map { case (lo, la) => (lo + dx, la) }))
        }
      } else {
        val east = ring.map { case (lo, la) => (if (lo < 0) lo + 360.0 else lo, la) }
        val west = ring.map { case (lo, la) => (if (lo > 0) lo - 360.0 else lo, la) }
        prep.intersects(poly(east)) || prep.intersects(poly(west))
      }
    } else prep.intersects(poly(ring))
  }
}
