package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dggs.{DggsKernel, HexKernel, IGeo7, Isea4T, Sphere, T4, Z7}
import graft.spark.{DggsFunctions => F, Grids}

/** The dggrid4py-equivalent high-level API (SURVEY.md §2.2), re-expressed
  * as DataFrame transforms. Cell ids are Z7 int64 (`cell_id`) plus
  * Z7_STRING (`name` — the reference's id column name); geometry is
  * `array<struct<lon,lat>>` rings plus WKT.
  *
  * Scale design: generation is a 12-row seed expanded levelwise by an
  * exploding generator with clip pruning at every level (the reference
  * pushes its clip into the DGGRID binary the same way —
  * dggrid_runner.py:823-825); point ops are narrow maps; binning is a
  * partial-aggregated hash aggregate; children expansion is a generator
  * whose output is prefix-clustered (Z7 order = spatial locality).
  */
object GridOps {

  /** closed-form stats table (reference grid_stats_table,
    * dggrid_runner.py:1280-1301): exact column names preserved.
    * ISEA7H/IGEO7: N(r) = 10·7^r + 2 on the authalic sphere.
    */
  def gridStatsTable(spark: SparkSession, maxRes: Int,
                     aperture: Int = 7, topology: String = "HEXAGON",
                     mixedN4: Int = 3): DataFrame = {
    import spark.implicits._
    val R = Sphere.EarthRadiusKm
    val earthArea = 4.0 * math.Pi * R * R
    val rows = (0 to maxRes).map { r =>
      // cell count includes the 12 pentagons; the Area column is the
      // HEXAGON area — hexes have exactly earthArea/(10·a^r) each and
      // pentagons 5/6 of that (DGGRID's published stats follow this:
      // ISEA3H res 1 = earthArea/30, not /32)
      // exact Long powers (math.pow loses integers past 2^53)
      def powL(a: Long, k: Int): Long = {
        var v = 1L; var i = 0; while (i < k) { v *= a; i += 1 }; v
      }
      val (cells: Long, area: Double) = (aperture, topology) match {
        case (43, "HEXAGON") =>
          // MIXED43: mixedN4 leading aperture-4 resolutions, then 3s
          val a4 = math.min(r, mixedN4); val a3 = math.max(0, r - mixedN4)
          (10L * powL(4, a4) * powL(3, a3) + 2,
            earthArea / (10.0 * math.pow(4, a4) * math.pow(3, a3)))
        case (a, "HEXAGON") =>
          (10L * powL(a, r) + 2, earthArea / (10.0 * math.pow(a, r)))
        case (4, "TRIANGLE") =>
          (20L * powL(4, r), earthArea / (20.0 * math.pow(4, r)))
        case (4, "DIAMOND") =>
          (10L * powL(4, r), earthArea / (10.0 * math.pow(4, r)))
        case _ => throw new IllegalArgumentException(s"unsupported $aperture/$topology")
      }
      // CLS: diameter of the spherical cap with the cell's area
      val cls = 2.0 * R * math.acos(1.0 - area / (2.0 * math.Pi * R * R))
      (r, cells, area, cls)
    }
    rows.toDF("Resolution", "Cells", "Area (km^2)", "CLS (km)")
  }

  /** Truncation stop for the deep levelwise expansions — ONE canonical
    * definition (Z7, ISEA4T, and polygon-cover paths all call it, so a
    * cadence/partitioning tune cannot silently miss one). Two jobs in
    * one stop: (1) `localCheckpoint` truncates lineage so the nested
    * explode/UDF chain doesn't pay exponential driver-side plan
    * analysis (round-3 verdict #4; measured twice); (2) REPARTITION —
    * the expansions seed from a 12-20-row local relation and `explode`
    * is a narrow transform, so without a shuffle the entire deep output
    * (millions of cells) is produced by 1-2 tasks no matter how many
    * cores exist (round-4: res-12 wall measured FLAT 61-65 s from 2 to
    * 32 cores; with this stop, 4.8 s at 32). One small shuffle of the
    * current survivor set buys balanced 7^k fan-out below it.
    */
  private[ops] def lineageStop(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)

  /** true every 4 levels while ≥2 levels of fan-out remain below */
  private[ops] def lineageStopAt(k: Int, res: Int): Boolean =
    k % 4 == 0 && res - k > 1

  /** grid generation for an extent: all cells at `res` whose center or
    * boundary touches the lon/lat box (whole earth when no clip). The
    * kernel picks the path. IGEO7 and ISEA4T expand levelwise from the
    * base cells, keeping a cell while its center is within the box
    * expanded by its circumradius — the clip-pushdown the reference
    * delegates to DGGRID (clip_subset_type, dggrid_runner.py:1332-1340);
    * IGEO7 then refines to the center-or-vertex contract, ISEA4T keeps
    * the pruned set. The ISEA3H/4H/43H hex grids enumerate whole-earth
    * by rank and sample-assign-refine clips.
    */
  def gridCellIdsForExtent(spark: SparkSession, res: Int,
                           clip: Option[(Double, Double, Double, Double)] = None,
                           kernel: DggsKernel = Grids.default): DataFrame = kernel match {
    // clip boxes with lonMin > lonMax are ANTIMERIDIAN-CROSSING (the box
    // spans [lonMin, 180] ∪ [−180, lonMax] — Fiji/NZ/Bering extents):
    // the levelwise pruning and the final refine both branch on the
    // wrapped interval, so no split-and-union is needed (round-4 verdict
    // #3; the reference accepts such extents via clip files). Oracle:
    // dggs_wrap_extent_ids — frozen as the union of the two split
    // halves, each computed by the ordinary non-wrapped path, so the
    // wrapped implementation is checked against the unwrapped one.
    case _: IGeo7 if clip.isEmpty =>
      // whole-earth fast path: enumerate via the dense SEQNUM bijection —
      // spark.range gives even partitioning with no explode chain and no
      // driver-side level iteration (the right shape for N(9) = 4×10⁸
      // cells on a cluster; the levelwise path below exists for clips,
      // where per-level pruning is the point). N computed in exact Long
      // math: math.pow loses integers past 2^53 (res ≥ 19).
      val n = 10L * graft.spark.Seqnum.pow7(res) + 2L
      spark.range(1L, n + 1L)
        .select(F.seqnumToZ7(col("id"), lit(res)).as("cell_id"))
    case _: IGeo7 =>
      levelwiseExtent(spark, res, clip, kernel, (0 to 11).map(Z7.pack(_, Seq.empty)),
        clipMarginDeg, refine = true)
    case _: Isea4T =>
      // triangle circumradius at res k ≈ rc/2^k rad, 2× safety
      levelwiseExtent(spark, res, clip, kernel, (0 to 19).map(T4.pack(_, Seq.empty)),
        k => math.toDegrees(0.8047 / math.pow(2.0, k)) * 2.0, refine = false)
    // the hex index hierarchies can NOT be clip-pruned levelwise like
    // Z7/T4, because seam re-homing makes an index ancestor's center
    // physically unrelated to its subtree (measured: up to 115° of
    // parent→child center drift at every level, on all three hex
    // kernels — the Isea3HSpec drift test documents the seam exception):
    // whole-earth is the exact rank bijection, clipped extents are
    // SAMPLE-ASSIGN-REFINE
    case h: HexKernel => clip match {
      case None => hexWholeEarth(spark, res, h.slotBits, h.radixAt)
      case Some(box) =>
        val perQuad = (1 to res).map(h.radixAt(_).toDouble).product
        hexExtentClipped(spark, box, math.toDegrees(0.64 / math.sqrt(perQuad)),
          (lon, lat) => F.cellForPoint(lon, lat, lit(res), h),
          c => F.cellCenter(c, h), c => F.cellBoundary(c, h))
    }
    case k => throw new IllegalArgumentException(
      s"gridCellIdsForExtent is not implemented for ${k.spec.kind}")
  }

  /** Levelwise children expansion from the base cells with per-level
    * pruning: a cell is kept while its center is within the clip box
    * expanded by `marginDeg(level)` (its circumradius with a safety
    * factor), the lon margin scaled by 1/cos(center lat). `refine` then
    * keeps cells whose center or a boundary vertex is in the box.
    */
  private def levelwiseExtent(spark: SparkSession, res: Int,
                              clip: Option[(Double, Double, Double, Double)],
                              kernel: DggsKernel, bases: Seq[Long],
                              marginDeg: Int => Double, refine: Boolean): DataFrame = {
    import spark.implicits._
    var df = bases.toDF("cell_id")
    for (k <- 1 to res) {
      df = df.select(explode(F.children(col("cell_id"), kernel)).as("cell_id"))
      clip.foreach { case (lonMin, latMin, lonMax, latMax) =>
        // the lon margin is scaled by 1/cos(center lat) (clamped at 85°)
        // because a degree of longitude shrinks poleward — without it,
        // levelwise pruning silently drops cells above ~60° lat (round-1
        // ADVICE)
        val m = marginDeg(k)
        val c = F.cellCenter(col("cell_id"), kernel)
        val lonMargin = lit(m) /
          cos(radians(least(lit(85.0), abs(c.getField("lat")))))
        df = df.where(
          lonDistToBox(c.getField("lon"), lonMin, lonMax) <= lonMargin &&
            c.getField("lat") >= lit(latMin - m) &&
            c.getField("lat") <= lit(latMax + m))
      }
      if (lineageStopAt(k, res)) df = lineageStop(df)
    }
    clip.filter(_ => refine).foreach { case (lonMin, latMin, lonMax, latMax) =>
      // final refine: keep cells whose center is in the box OR any
      // boundary vertex is in the box (vertex test covers partial overlap)
      val c = F.cellCenter(col("cell_id"), kernel)
      val bnd = F.cellBoundary(col("cell_id"), kernel)
      val inBox = boxContains(c, lonMin, latMin, lonMax, latMax) ||
        exists(bnd, v => boxContains(v, lonMin, latMin, lonMax, latMax))
      df = df.where(inBox)
    }
    df
  }

  /** wrapped angular distance (deg) from longitude `lon` to the lon
    * interval [a,b]: 0 inside, else the min wraparound delta to either
    * edge. Raw `lon >= a-margin && lon <= b+margin` pruning silently
    * drops cells straddling ±180° whose center normalizes to the other
    * sign (e.g. center -179.95 for a clip [179,180]) — round-2 ADVICE.
    */
  private[ops] def lonDistToRange(lon: Column, a: Column, b: Column): Column =
    when(lon >= a && lon <= b, lit(0.0))
      .otherwise(least(lonWrapDist(lon, a), lonWrapDist(lon, b)))

  private def lonWrapDist(lon: Column, y: Column): Column =
    abs(pmod(lon - y + lit(540.0), lit(360.0)) - lit(180.0))

  /** [[lonDistToRange]] for LITERAL clip-box bounds, accepting the
    * antimeridian-crossing convention `a > b` ⇒ box spans
    * [a, 180] ∪ [−180, b] (round-4 verdict #3): inside-ness branches on
    * the wrapped interval at PLAN time (the bounds are Scala constants).
    */
  private[ops] def lonDistToBox(lon: Column, a: Double, b: Double): Column = {
    val inside =
      if (a <= b) lon >= a && lon <= b
      else lon >= a || lon <= b
    when(inside, lit(0.0))
      .otherwise(least(lonWrapDist(lon, lit(a)), lonWrapDist(lon, lit(b))))
  }

  private def clipMarginDeg(res: Int): Double = {
    // hex circumradius on the unit sphere at res r ≈ rc/7^(r/2) rad —
    // converted to degrees with a 2× safety factor for projection
    // distortion and pole latitude scaling
    val rcirc = 0.6954709 / math.pow(7.0, res / 2.0)
    math.toDegrees(rcirc) * 2.0
  }

  private def boxContains(pt: Column, lonMin: Double, latMin: Double,
                          lonMax: Double, latMax: Double): Column = {
    // lonMin > lonMax = antimeridian-crossing box (see gridCellIdsForExtent)
    val lonOk =
      if (lonMin <= lonMax) pt.getField("lon") >= lonMin && pt.getField("lon") <= lonMax
      else pt.getField("lon") >= lonMin || pt.getField("lon") <= lonMax
    lonOk && pt.getField("lat") >= latMin && pt.getField("lat") <= latMax
  }

  /** H1: cell polygons for extent. `densify` = extra vertices per edge
    * (reference `densification`/`geodetic_densify` params,
    * dggrid_runner.py:295-296; 0 = plain 6/5-vertex rings).
    */
  def gridCellPolygonsForExtent(spark: SparkSession, res: Int,
                                clip: Option[(Double, Double, Double, Double)] = None,
                                grid: IGeo7 = Grids.default,
                                densify: Int = 0): DataFrame = {
    val boundary =
      if (densify <= 0) F.cellBoundary(col("cell_id"), grid)
      else F.cellBoundaryDensified(col("cell_id"), lit(densify), grid)
    val wkt =
      if (densify <= 0) F.cellBoundaryWkt(col("cell_id"), grid)
      else F.cellBoundaryWktDensified(col("cell_id"), lit(densify), grid)
    gridCellIdsForExtent(spark, res, clip, grid)
      .withColumn("name", F.cellString(col("cell_id")))
      .withColumn("boundary", boundary)
      .withColumn("wkt", wkt)
  }

  /** H2: centroids for extent. */
  def gridCellCentroidsForExtent(spark: SparkSession, res: Int,
                                 clip: Option[(Double, Double, Double, Double)] = None,
                                 grid: IGeo7 = Grids.default): DataFrame =
    gridCellIdsForExtent(spark, res, clip, grid)
      .withColumn("name", F.cellString(col("cell_id")))
      .withColumn("center", F.cellCenter(col("cell_id"), grid))

  /** H3/H4 COARSE_CELLS mode: descendants of given parents at `res`
    * (the parent/child rollup primitive; reference
    * dggrid_runner.py:1547-1561). Input: df with z7-string parent ids.
    */
  def gridCellsFromCoarseCells(parents: DataFrame, idCol: String, res: Int): DataFrame =
    parents
      .withColumn("cell_id",
        explode(F.descendantsAt(F.cellFromString(col(idCol)), lit(res))))
      .withColumn("name", F.cellString(col("cell_id")))

  /** H3-`compactCells`-equivalent MINIMAL multi-resolution cover:
    * bottom-up, a parent replaces its children iff ALL of them are
    * present. The family size comes from the kernel: the level's
    * aperture (`radixAt` — 7 on IGEO7, 3/4 on the hex grids, 4 on
    * ISEA4T/4D, ISEA43H 4 through level n4 then 3), 6 for the IGEO7
    * pentagons (no direction-2 child, Z7.childDigits) and 1 on the
    * ISEA3H/4H/43H polar caps (they own only their center child chain,
    * so a cap's lone child always compacts upward). Input may be
    * mixed-resolution; duplicates collapse first. Overlapping input (a
    * cell AND its ancestor both present) is a caller contract breach
    * and is not detected — the same contract as H3. Inverse:
    * [[uncompactCells]] (roundtrip pinned in SparkOpsSpec).
    *
    * Why it matters at scale: polygon covers and region masks stored
    * compacted are ~7× smaller per level of homogeneous interior, which
    * keeps cover relations broadcast-able far past the point a
    * uniform-res cover would spill to a shuffle join.
    *
    * Scale shape (round 9 — closed-form single pass, replacing the
    * former ≤ maxRes driver-materialized rounds of groupBy + anti-join
    * + cache + count each): ONE lazy plan — distinct, an ancestor
    * explode (≤ res+1 rows per cell) into one partial-aggregated
    * subtree-coverage sum, and one self-anti-join for maximality — on
    * the CELL-SET relation (an aggregated cover, orders of magnitude
    * smaller than the corpus that produced it). See
    * [[compactCellsOnePass]] for the completeness identity. Long-lived
    * sessions release the result cache via
    * `spark.catalog.clearCache()` (TextOps header note).
    */
  def compactCells(cells: DataFrame, cellCol: String = "cell_id",
                   keyCols: Seq[String] = Nil,
                   kernel: DggsKernel = Grids.default): DataFrame = {
    val maxRes = kernel.maxRes
    // sizes(r) = number of res-maxRes descendants of a res-r quad cell
    // (exact Long products: 7^20 ≈ 8·10^16, 3^30 ≈ 2·10^14, 4^24 ≈ 2.8·10^14)
    val sizes = new Array[Long](maxRes + 1)
    sizes(maxRes) = 1L
    for (r <- maxRes - 1 to 0 by -1) sizes(r) = sizes(r + 1) * kernel.radixAt(r + 1)
    val quadSize = (r: Column) => get(typedLit(sizes), r)
    val sizeOf: (Column, Column) => Column =
      if (kernel.pentagonsLoseAChild) {
        // pentagon subtree: S(d) = 1 + 5·(7^d − 1)/6 = (5·7^d + 1)/6
        // leaves at depth d (center chain stays pentagonal, the other 5
        // children root full 7-ary subtrees); a pentagon is an all-zero
        // digit path followed by the pad
        val pentSizes = sizes.map(n => (5L * n + 1L) / 6L)
        val padMasks = Array.tabulate(maxRes + 1)(r => (1L << (60 - kernel.slotBits * r)) - 1L)
        (cell, r) =>
          when(cell.bitwiseAND(lit((1L << 60) - 1L)) === get(typedLit(padMasks), r),
            get(typedLit(pentSizes), r)).otherwise(quadSize(r))
      } else if (kernel.capBases.nonEmpty) {
        val base = (cell: Column) => shiftrightunsigned(cell, 60).bitwiseAND(lit(0xFL))
        (cell, r) => when(base(cell).isin(kernel.capBases: _*), lit(1L)).otherwise(quadSize(r))
      } else (_, r) => quadSize(r)
    compactCellsOnePass(cells, cellCol, keyCols, sizeOf, kernel)
  }

  /** Single-pass compaction engine shared by every grid codec (round 9 —
    * replaces the former bottom-up loop of ≤ maxRes driver-materialized
    * rounds, each one groupBy + anti-join + cache + count job).
    *
    * Closed form, for DISJOINT input covers (the operator contract —
    * overlapping ancestor/descendant input is a caller contract breach,
    * see the public scaladoc): an ancestor `a` at level k is COMPLETE
    * (its whole subtree covered by input cells) iff
    * Σ subtreeSize(c → maxRes) over input cells c under `a` equals
    * subtreeSize(a → maxRes) — disjointness makes the subtree-leaf sets
    * disjoint, so the sum counts exactly the covered leaves. A complete
    * node's interior nodes are complete too (each intermediate's subtree
    * is covered by exactly the input cells inside it), so bottom-up
    * round-based compaction promotes precisely up to each MAXIMAL
    * complete node — therefore: result = complete nodes whose parent is
    * not complete (input cells are complete leaves of this lattice, so
    * untouched scatter cells emerge unchanged).
    *
    * Plan shape: distinct → explode of the ≤ res+1 levels, each with
    * its ancestor and that ancestor's parent (so maximality needs no
    * second ancestor pass) → ONE partial-aggregated sum keyed on (keys,
    * ancestor) → completeness filter → one self-anti-join on the parent
    * key. No
    * driver iteration, no per-round caches; the resolution and ancestor
    * reads are native calls into the kernel for every codec.
    */
  private def compactCellsOnePass(cells: DataFrame, cellCol: String,
                                  keyCols: Seq[String],
                                  sizeOf: (Column, Column) => Column,
                                  kernel: DggsKernel): DataFrame = {
    // keyCols: compact independently per key group (e.g. per poly_id for
    // a multi-polygon cover relation) — completeness then requires all
    // siblings within ONE group, and extra per-group columns that are
    // functionally dependent on the keys (a wkt per poly_id) ride along
    // in keyCols unchanged
    val keys = keyCols.map(col)
    val dist = cells.select(keys :+ col(cellCol).as("cell_id"): _*).distinct()
      .withColumn("__r", F.resolution(col("cell_id"), kernel))
      .withColumn("__size", sizeOf(col("cell_id"), col("__r")))
    // one row per level 0..__r: the ancestor there and its parent, two
    // kernel calls per row (the parent call only runs above level 0)
    val anc = dist
      .select(keys ++ Seq(col("cell_id"), col("__size"),
        explode(sequence(lit(0), col("__r"))).as("__k")): _*)
      .select(keys ++ Seq(col("__k"),
        F.ancestorAt(col("cell_id"), col("__k"), kernel).as("__a"),
        when(col("__k") > 0, F.ancestorAt(col("cell_id"), col("__k") - 1, kernel)).as("__p"),
        col("__size")): _*)
    // __k and __p are functionally dependent on __a — they ride the
    // group key so no second pass re-derives them
    val complete = anc
      .groupBy(keys ++ Seq(col("__a"), col("__k"), col("__p")): _*)
      .agg(sum(col("__size")).as("__tot"))
      .where(col("__tot") === sizeOf(col("__a"), col("__k")))
    val parents = complete.select(keys :+ col("__a").as("__p"): _*)
    complete.join(parents, keyCols :+ "__p", "left_anti")
      .select(keys :+ col("__a").as("cell_id"): _*)
      .cache() // consumed by multiple plan branches in the join callers
  }

  /** Multi-resolution aggregation PYRAMID (the map-tile / zoom-level
    * shape): per-cell counts (or `weightCol` sums) at EVERY resolution
    * from the input cells' resolution down to `minRes`, in ONE corpus
    * scan and ONE shuffle: each cell explodes to its (ancestor, res)
    * pairs via the native ancestor call and the hash aggregate's
    * map-side combine collapses them to ≤ 8/7 × the finest level's
    * distinct cells BEFORE the exchange — the geometric-series total a
    * level-from-level rollup would reach, without its per-level job
    * round trips (measured: an iterative 8-round implementation lost
    * to even naive per-level re-aggregation at 10M points on per-round
    * fixed costs; this form beats both, and at lake scale it is the
    * only one that reads the corpus once).
    *
    * Input must be uniform-resolution cells (mixed input would double
    * count — raises loudly). Pass `res` when the caller knows the
    * input's resolution (it almost always does — the cells came from a
    * cellsForGeoPoints at a chosen res): the uniformity check then
    * rides the main scan as a per-row raise and the operator truly
    * reads the input ONCE. With `res = None` the bounds come from one
    * extra narrow aggregation pass first (fine for cell-set relations,
    * an extra corpus read for lake-scale raw input). Output:
    * (cell_id, name, res, n).
    */
  def cellPyramid(cells: DataFrame, minRes: Int = 0,
                  cellCol: String = "cell_id",
                  weightCol: Option[String] = None,
                  res: Option[Int] = None): DataFrame = {
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    val (rMax, checked) = res match {
      case Some(r0) =>
        require(r0 >= 0 && r0 <= Z7.maxRes, s"bad res $r0")
        // inline uniformity enforcement: no extra pass, the check rides
        // the main scan as a per-row raise
        val ok = F.resolution(col(cellCol)) === r0
        (r0, when(ok, col(cellCol))
          .otherwise(raise_error(concat(
            lit(s"cellPyramid: expected uniform res $r0, cell "),
            col(cellCol).cast("string"), lit(" is not at that res")))))
      case None =>
        val bounds = cells.agg(
          min(F.resolution(col(cellCol))),
          max(F.resolution(col(cellCol)))).head()
        require(!bounds.isNullAt(0), "empty cell relation")
        val (rMin, rMx) = (bounds.getInt(0), bounds.getInt(1))
        require(rMin == rMx,
          s"cellPyramid input must be uniform-resolution (saw res $rMin..$rMx); " +
            "mixed-res input would double count — compact/uncompact first")
        (rMx, col(cellCol))
    }
    require(minRes >= 0 && minRes <= rMax, s"bad minRes $minRes for res $rMax")
    // primitive long array (no per-element structs — measured GC tax),
    // single-long group key; res is recoverable from the padded id, so
    // it is derived POST-agg on the pyramid-sized output; the checked
    // cell is projected ONCE so the raise test doesn't repeat per level
    val levels = (minRes to rMax).map(r => F.ancestorAt(col("__c"), lit(r)))
    cells
      .withColumn("__c", checked)
      .select(explode(array(levels: _*)).as("cell_id"), w.as("__w"))
      .groupBy("cell_id").agg(sum(col("__w")).as("n"))
      .withColumn("res", F.resolution(col("cell_id")))
      .withColumn("name", F.cellString(col("cell_id")))
      .select("cell_id", "name", "res", "n")
  }

  /** Inverse of [[compactCells]]: expand a (possibly mixed-resolution)
    * cover to uniform-`res` cells. Raises if any input cell is finer
    * than `res` (the codecs' descendants contract — loud, not silent
    * drop).
    */
  def uncompactCells(cells: DataFrame, res: Int, cellCol: String = "cell_id",
                     kernel: DggsKernel = Grids.default): DataFrame =
    cells.select(
      explode(F.descendantsAt(col(cellCol), lit(res), kernel)).as("cell_id"))

  /** H3: polygons for explicit cell id list (z7 strings). */
  def gridCellPolygonsFromCellIds(cells: DataFrame, idCol: String,
                                  grid: IGeo7 = Grids.default): DataFrame =
    cells.withColumn("cell_id", F.cellFromString(col(idCol)))
      .withColumn("boundary", F.cellBoundary(col("cell_id"), grid))
      .withColumn("wkt", F.cellBoundaryWkt(col("cell_id"), grid))

  /** H6: point→cell assignment (the flagship op). Adds `cell_id` (int64)
    * + `name` (the kernel's string form, Z7_STRING by default) to any df
    * with lon/lat columns — the reference's cells_for_geo_points with
    * cell_ids_only=True (dggrid_runner.py:1859-1959). Narrow map, no
    * shuffle.
    */
  def cellsForGeoPoints(points: DataFrame, lonCol: String, latCol: String, res: Int,
                        kernel: DggsKernel = Grids.default): DataFrame =
    points
      .withColumn("cell_id", F.cellForPoint(col(lonCol), col(latCol), lit(res), kernel))
      .withColumn("name", F.cellString(col("cell_id"), kernel))

  /** O3 BIN_POINT_VALS: per-cell arithmetic mean of point values
    * (+ count) — occupied cells only (OUTPUT_OCCUPIED), like the
    * reference default (dggrid_runner.py:1025-1118).
    */
  def binPointVals(points: DataFrame, lonCol: String, latCol: String,
                   valCol: String, res: Int): DataFrame =
    cellsForGeoPoints(points, lonCol, latCol, res)
      .groupBy("cell_id", "name")
      .agg(avg(col(valCol)).as("value_mean"), count(lit(1)).as("value_count"))

  /** O3 with OUTPUT_ALL (reference `cell_output_control OUTPUT_ALL` —
    * dggrid_runner.py:1167-1168): every cell of the extent appears,
    * unoccupied cells with count 0 and null mean (a right-join of the
    * occupied aggregate against generated cells).
    */
  def binPointValsAll(points: DataFrame, lonCol: String, latCol: String,
                      valCol: String, res: Int,
                      clip: Option[(Double, Double, Double, Double)] = None): DataFrame = {
    val occupied = binPointVals(points, lonCol, latCol, valCol, res)
      .select("cell_id", "value_mean", "value_count")
    gridCellIdsForExtent(points.sparkSession, res, clip)
      .join(occupied, Seq("cell_id"), "left")
      .select(col("cell_id"), F.cellString(col("cell_id")).as("name"),
        col("value_mean"),
        coalesce(col("value_count"), lit(0L)).as("value_count"))
  }

  /** H6 with cell_ids_only=False (reference dggrid_runner.py:1936-1954):
    * the covering cells materialized as polygons, id column renamed
    * `zone`, input columns carried through — keyed by the input row
    * (doc columns), not positionally (positional order does not survive
    * a shuffle; the reference's own tests compare as sorted sets).
    */
  def cellsForGeoPointsPolygons(points: DataFrame, lonCol: String, latCol: String,
                                res: Int, grid: IGeo7 = Grids.default): DataFrame =
    cellsForGeoPoints(points, lonCol, latCol, res, grid)
      .withColumnRenamed("name", "zone")
      .withColumn("boundary", F.cellBoundary(col("cell_id"), grid))
      .withColumn("wkt", F.cellBoundaryWkt(col("cell_id"), grid))

  /** H4: centroids for an explicit cell-id list (z7 strings). */
  def gridCellCentroidsFromCellIds(cells: DataFrame, idCol: String,
                                   grid: IGeo7 = Grids.default): DataFrame =
    cells.withColumn("cell_id", F.cellFromString(col(idCol)))
      .withColumn("center", F.cellCenter(col("cell_id"), grid))

  /** O4 BIN_POINT_PRESENCE: per-cell presence bit-vector over classes
    * + number of classes present (dggrid_runner.py:1121-1202).
    */
  def binPointPresence(points: DataFrame, lonCol: String, latCol: String,
                       classCol: String, classes: Seq[String], res: Int): DataFrame = {
    val present = cellsForGeoPoints(points, lonCol, latCol, res)
      .groupBy("cell_id", "name")
      .agg(collect_set(col(classCol)).as("cls"))
    val vector = concat(classes.map(c =>
      when(array_contains(col("cls"), c), lit("1")).otherwise(lit("0"))): _*)
    present.select(col("cell_id"), col("name"), vector.as("presence"),
      size(col("cls")).cast("long").as("num_classes"))
  }

  /** Whole-earth hex-grid enumeration via the dense rank bijection —
    * the Z7-seqnum-style fast path for the hex codecs: ONE evenly
    * partitioned `spark.range(10·Πradix + 2)` with pure native bit
    * arithmetic per row (no explode chain, no driver-side level loop —
    * the right plan shape for N(15) ≈ 1.4×10⁸ cells on a cluster).
    * Rank 0 = cap base 0, ranks 1..10·Πradix = the ten quads' digit
    * strings (mixed-radix little-endian decomposition; the subtract-
    * remainder divide is EXACT in doubles for all counts < 2⁵³), last
    * rank = cap base 11. `slotBits`/`radixAt` parameterize the Z3 (2-bit,
    * radix 3), Z4 (3-bit, radix 4) and Z43 (3-bit, mixed 4-then-3)
    * layouts; pad slots are all-ones per the codec contracts.
    *
    * Perf note (BENCH/BASELINE.md round 8): the per-row work is a chain
    * of 64-bit integer modulo/divides, which SMT siblings serialize on
    * (non-pipelined divider) — measured 0.84-0.86 step efficiency
    * through PHYSICAL cores and a collapse at 2× oversubscription. Size
    * executors to physical cores for enumeration-heavy stages.
    */
  private def hexWholeEarth(spark: SparkSession, res: Int,
                            slotBits: Int, radixAt: Int => Int): DataFrame = {
    // codec ceiling (round-8 ADVICE): beyond it 60 − slotBits·res goes
    // negative and JVM shifts (mod 64) would silently corrupt every id
    // where the explode path raised via the codec's require
    require(res >= 0 && slotBits * res <= 60,
      s"hexWholeEarth: res $res exceeds the ${60 / slotBits}-level " +
        s"ceiling of the $slotBits-bit-digit codec")
    val perQuad = (1 to res).map(radixAt(_).toLong).product
    val n = 10L * perQuad + 2L
    val padVal = if (60 - slotBits * res == 0) 0L
      else (1L << (60 - slotBits * res)) - 1L
    val rank = col("id")
    val base = when(rank === 0L, lit(0L)).when(rank === n - 1L, lit(11L))
      .otherwise(longDiv(rank - 1L, perQuad) + 1L)
    val idx = when(rank === 0L || rank === n - 1L, lit(0L))
      .otherwise(pmod(rank - 1L, lit(perQuad)))
    // per-level digits by stride division (NOT a quotient recurrence —
    // that doubles the expression tree per level; this stays linear in
    // res): d_level = (idx div stride_level) mod radix_level, with
    // stride_level = Π radix of the deeper levels
    var acc: Column = shiftleft(base, 60).bitwiseOR(lit(padVal))
    var stride = 1L
    for (level <- res to 1 by -1) {
      val radix = radixAt(level).toLong
      // LONG integral divide by a literal constant (round 9, the
      // round-8 SMT cliff fix): the former subtract-remainder double
      // division put `res` FP divides in every row's dependency chain,
      // and the FP divider is the one unit SMT siblings serialize on
      // (measured collapse to ~0.2× at 2× oversubscription). An
      // integer divide by a JIT-visible constant strength-reduces to
      // multiply+shift — no divider at all.
      val q = if (stride == 1L) idx else longDiv(idx, stride)
      acc = acc.bitwiseOR(shiftleft(pmod(q, lit(radix)), 60 - slotBits * level))
      stride *= radix
    }
    spark.range(n).select(acc.as("cell_id"))
  }

  /** floor division of a non-negative long column by a positive literal
    * — codegen emits a plain Java `/` with an inline constant, which C2
    * strength-reduces to multiply+shift (no divider).
    */
  private def longDiv(c: Column, d: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    org.apache.spark.sql.graft.ExprBridge.column(
      new IntegralDivide(org.apache.spark.sql.graft.ExprBridge.expression(c),
        Literal(d)))
  }

  /** Clipped hex-grid cell enumeration by sampling: assign a point grid
    * over the padded clip box to cells (narrow map), dedup, then refine
    * to the exact center-or-vertex-in-box contract of the Z7 variant.
    *
    * Soundness (the sampling theorem of this operator): every cell
    * whose center or vertex lies in the box has its center within the
    * box padded by one circumradius (`nominalDeg` × 1.6 — empirical
    * max/nominal is ≤ 1.26 across kernels and resolutions); a square
    * sample grid with spacing 0.35 × nominal has every point of the
    * padded box within 0.25 × nominal of a sample, which is under the
    * empirical MIN inradius (≥ 0.72 × nominal) with 2× pentagon margin
    * — so each such cell contains at least one sample and survives the
    * distinct. Cost is ~16 samples per result cell, all in one
    * evenly-partitioned `spark.range` map + one distinct — no driver
    * iteration, no cross-level assumptions, scale-ready for region
    * extents of millions of cells.
    */
  private def hexExtentClipped(spark: SparkSession,
                               box: (Double, Double, Double, Double),
                               nominalDeg: Double,
                               cellFor: (Column, Column) => Column,
                               center: Column => Column,
                               boundary: Column => Column): DataFrame = {
    val (lonMin, latMin, lonMax, latMax) = box
    val pad = nominalDeg * 1.6
    val latLo = math.max(-90.0, latMin - pad)
    val latHi = math.min(90.0, latMax + pad)
    // the TRUE worst-case cos over the padded lat range — no 85° clamp:
    // a clamp both under-pads the sample grid (boundary cells near the
    // pole would contain no sample) and lets the fast-path interiority
    // proof over-state a sample's physical lon margin. As latHi→90 the
    // cos→0, lonPad→∞ and the box degrades to full-longitude sampling;
    // the fast-path scale factor →0, so every cell takes the exact
    // refine — slower near the poles, never wrong.
    val maxAbsLat = math.max(math.abs(latLo), math.abs(latHi))
    val cosMin = math.max(0.0, math.cos(math.toRadians(maxAbsLat)))
    val lonPad = if (cosMin == 0.0) Double.PositiveInfinity else pad / cosMin
    // lonMin > lonMax = antimeridian-crossing box (same convention as
    // the Z7 variant): sample over the unwrapped span, wrap per-point
    val span0 = if (lonMin <= lonMax) lonMax - lonMin else lonMax + 360.0 - lonMin
    val fullLon = span0 + 2 * lonPad >= 360.0
    val lonLo = if (fullLon) -180.0 else lonMin - lonPad
    val lonSpan = if (fullLon) 360.0 else span0 + 2 * lonPad
    val h = nominalDeg * 0.35
    val nLon = math.max(2L, math.ceil(lonSpan / h).toLong + 1)
    val nLat = math.max(2L, math.ceil((latHi - latLo) / h).toLong + 1)
    // row index via INTEGER division (round-8 ADVICE: `/` is Spark's
    // double Divide, which sheared the sample grid per lon column and
    // overshot latHi by up to one spacing — including lat > 90 on
    // pole-clamped boxes — degrading the covering bound the
    // no-missed-cell proof relies on)
    val rowIdx = longDiv(col("id"), nLon)
    val samples = spark.range(nLon * nLat).select(
        (lit(lonLo) + (col("id") % nLon) * (lonSpan / (nLon - 1))).as("lon0"),
        (lit(latLo) + rowIdx * ((latHi - latLo) / (nLat - 1))).as("lat"))
      .select((pmod(col("lon0") + lit(180.0), lit(360.0)) - lit(180.0)).as("lon"),
        col("lat"))
    // signed box-interiority of each sample in degrees (negative outside;
    // wrap-aware on the lon axis), lon scaled by the worst-case cos(lat)
    // so it under-states physical distance. A sample ≥ pad inside proves
    // its cell's center is in the box (center-to-sample ≤ circumradius
    // ≤ pad), so such cells skip the per-cell refine below — the refine
    // cost drops from O(box area) to O(box perimeter) cells, which is
    // what makes the operator usable at region scale: cellCenter /
    // cellBoundary run the ITERATIVE inverse Snyder projection (~100 µs),
    // 60× the forward assignment's cost
    val lonIn =
      if (lonMin <= lonMax) least(col("lon") - lit(lonMin), lit(lonMax) - col("lon"))
      else when(col("lon") >= lonMin,
          least(col("lon") - lit(lonMin), lit(lonMax + 360.0) - col("lon")))
        .otherwise(least(col("lon") - lit(lonMin - 360.0), lit(lonMax) - col("lon")))
    val latIn = least(col("lat") - lit(latMin), lit(latMax) - col("lat"))
    val interiority = least(latIn,
      lonIn * lit(cosMin))
    val ids = samples
      .select(cellFor(col("lon"), col("lat")).as("cell_id"),
        interiority.as("__in"))
      .groupBy("cell_id").agg(max(col("__in")).as("__in"))
    val c = center(col("cell_id"))
    val bnd = boundary(col("cell_id"))
    ids.where(col("__in") >= lit(pad) ||
        boxContains(c, lonMin, latMin, lonMax, latMax) ||
        exists(bnd, v => boxContains(v, lonMin, latMin, lonMax, latMax)))
      .select("cell_id")
  }

  /** H7: address transform (dggrid_runner.py:1962-2025). The kernel
    * picks the form set: on IGEO7, Z7 int64, Z7_STRING, SEQNUM (engine
    * canonical), Q2DI, Q2DD, PROJTRI, PLANE, VERTEX2DD, AIGEN and GEO;
    * on the aperture-3/4 hexagon grids (ISEA3H/4H/43H), the int64 id
    * (Z3, Z4, Z43), its string form (Z3_STRING, …), ZORDER,
    * ZORDER_STRING, Q2DI and GEO in/out, plus INTERLEAVE out-only (the
    * reference marks INTERLEAVE output-only, dggrid_runner.py:124).
    */
  def addressTransform(cells: DataFrame, idCol: String, from: String, to: String,
                       res: Int, kernel: DggsKernel = Grids.default): DataFrame = {
    val out = kernel match {
      case g: IGeo7 => z7Address(col(idCol), from, to, res, g)
      case h: HexKernel => hexAddress(col(idCol), from, to, res, h)
      case k => throw new IllegalArgumentException(
        s"addressTransform: no address forms for ${k.spec.kind}")
    }
    cells.withColumn("out_addr", out)
  }

  private def hexAddress(c: Column, from: String, to: String, res: Int,
                         h: HexKernel): Column = {
    val idForm = h.idName
    val asId: Column = from match {
      case `idForm` => c
      case f if f == idForm + "_STRING" => F.cellFromString(c, h)
      case "ZORDER" => F.fromZorder(c, h)
      case "ZORDER_STRING" => F.fromZorderString(c, h)
      case "Q2DI" => F.fromQ2di(c.getField("q"), c.getField("i"), c.getField("j"), lit(res), h)
      case "GEO" => F.cellForPoint(c.getField("lon"), c.getField("lat"), lit(res), h)
      case "INTERLEAVE" =>
        // reference contract: INTERLEAVE is output-only (dggrid_runner.py:124)
        throw new IllegalArgumentException(
          "INTERLEAVE is only supported as an output_address_type " +
            "(reference dggrid_runner.py:124)")
      case other => throw new IllegalArgumentException(s"unsupported ${h.spec.kind} input $other")
    }
    to match {
      case `idForm` => asId
      case t if t == idForm + "_STRING" => F.cellString(asId, h)
      case "ZORDER" => F.toZorder(asId, h)
      case "ZORDER_STRING" | "INTERLEAVE" => F.toZorderString(asId, h)
      case "Q2DI" => F.toQ2di(asId, h)
      case "GEO" => F.cellCenter(asId, h)
      case other => throw new IllegalArgumentException(s"unsupported ${h.spec.kind} output $other")
    }
  }

  private def z7Address(c: Column, from: String, to: String, res: Int, g: IGeo7): Column = {
    import graft.spark.{AddrFunctions => A, Q2diFunctions => Q}
    val asZ7: Column = from match {
      case "Z7" => c
      case "Z7_STRING" => F.cellFromString(c)
      case "SEQNUM" => F.seqnumToZ7(c, lit(res))
      case "Q2DI" => Q.q2diToZ7(c.getField("q"), c.getField("i"), c.getField("j"), lit(res))
      case "Q2DD" => A.q2ddToZ7(c.getField("q"), c.getField("x"), c.getField("y"), lit(res))
      case "PROJTRI" =>
        A.projtriToZ7(c.getField("t"), c.getField("x"), c.getField("y"), lit(res))
      case "PLANE" => A.planeToZ7(c.getField("x"), c.getField("y"), lit(res))
      case "VERTEX2DD" =>
        A.vertex2ddToZ7(c.getField("t"), c.getField("x"), c.getField("y"), lit(res))
      case "GEO" => F.cellForPoint(c.getField("lon"), c.getField("lat"), lit(res), g)
      case "AIGEN" | "AIGEN_SEQNUM" =>
        // the reference admits AIGEN on the INPUT side too
        // (dggrid_runner.py:199, 218 — round-3 ADVICE; an earlier comment
        // here wrongly claimed output-only).
        // ⚠ ID-LINE CONVENTION (round-4 ADVICE): "AIGEN" reads the
        // record's id line as the ENGINE-canonical Z7 int64 — the exact
        // round-trip of cellAigen's own output. AIGEN files produced by
        // DGGRID itself carry SEQNUM ids on that line
        // (dggrid_runner.py:1607-1617), which parse as valid longs and
        // would silently become WRONG cell ids under the Z7 reading —
        // ingest reference-produced files with from = "AIGEN_SEQNUM",
        // which maps the validated id line through the SEQNUM decoder.
        // The id line is VALIDATED via try_cast, which nulls everything
        // an ANSI cast rejects in BOTH ANSI modes — a plain cast is
        // config-dependent (ANSI on: it throws its own generic error
        // before this guard runs; ANSI off, the Spark-3-compat cluster
        // setting: '42.9' truncates to 42, a silently WRONG cell id).
        // CR/whitespace padding and an explicit sign are tolerated (the
        // cast trims and accepts both); non-numeric, fractional, and
        // >Long-range id lines all raise the curated error below.
        val idLine = trim(rtrim(substring_index(c, "\n", 1), "\r"))
        val parsed = idLine.try_cast("long")
        val validated = when(parsed.isNotNull, parsed)
          .otherwise(raise_error(
            concat(lit("malformed AIGEN id line: '"), idLine, lit("'"))))
        if (from == "AIGEN_SEQNUM") F.seqnumToZ7(validated, lit(res))
        else validated
      case other => throw new IllegalArgumentException(s"unsupported input $other")
    }
    to match {
      case "Z7" => asZ7
      case "Z7_STRING" => F.cellString(asZ7)
      case "SEQNUM" => F.z7ToSeqnum(asZ7)
      case "GEO" => F.cellCenter(asZ7, g)
      case "Q2DI" => Q.z7ToQ2di(asZ7)
      case "Q2DD" => A.z7ToQ2dd(asZ7)
      case "PROJTRI" => A.z7ToProjtri(asZ7)
      case "PLANE" => A.z7ToPlane(asZ7)
      case "VERTEX2DD" => A.z7ToVertex2dd(asZ7)
      case "AIGEN" => F.cellAigen(asZ7, g)
      case "INTERLEAVE" | "Z3" | "Z3_STRING" | "ZORDER" | "ZORDER_STRING" =>
        // parity with the reference's own constraint: these exist only
        // for aperture-3/4 hex grids (dggrid_runner.py:125, 121-236) —
        // on the aperture-7 grid they are invalid; the aperture-3/4
        // grids support them through their kernels
        throw new IllegalArgumentException(
          s"$to is defined for aperture-3/4 hexagon grids only " +
            "(reference dggrid_runner.py:125); this is the aperture-7 " +
            "grid — pass an ISEA3H/ISEA4H/ISEA43H kernel for Z3/Z4/ZORDER forms")
      case other => throw new IllegalArgumentException(s"unsupported output $other")
    }
  }
}
