package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{CorpusOps, DatelineOps, GridOps, RasterOps, Tables}
import graft.spark.{DggsFunctions => F, Grids, Seqnum}
import graft.dggs.{Sphere, Z7}
import Sphere.GeoRad

/** Regenerates `graft/OracleFixtures.scala` — the frozen point→cell
  * mapping the DuckDB oracle joins against for the DGGS queries that SQL
  * cannot compute itself (cell assignment is Snyder-projection math).
  *
  * What is frozen vs what stays genuinely checked: ONLY the kernel map
  * `(lon_mdeg, lat_mdeg) → Z7 cell per resolution` is frozen (it is
  * anchored by the DGGRID golden tests — 551 res-9 cells, Oregon res-4,
  * the 51695/51548 hexagons); every relational consequence (joins,
  * parent rollups via string prefix, binning means, presence vectors,
  * checkpoint reassembly) is recomputed by DuckDB from the mapping, so
  * the driver gate still exercises the full query semantics.
  *
  * Run manually after any kernel/orientation change:
  *   sbt "runMain graft.tools.FreezeFixtures /root/testdata/sf0.01"
  */
object FreezeFixtures {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1)
      else "src/main/scala/graft/OracleFixtures.scala"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val geo = CorpusOps.geoSpans(CorpusOps.interleavedDocs(
        Tables.tbl(spark, sfDir, "documents")))
      .select("lon_mdeg", "lat_mdeg", "lon", "lat").distinct()
      .as[(Long, Long, Double, Double)].collect()
      .sortBy(t => (t._1, t._2))
    val g = Grids.default
    val t4g = Grids.isea4t
    val d4g = Grids.isea4d
    val h3g = Grids.isea3h
    val h4g = Grids.isea4h
    val h43g = Grids.isea43h(3)
    val mapRows = geo.map { case (lonM, latM, lon, lat) =>
      val p = GeoRad.fromDeg(lat, lon)
      val cs = (3 to 6).map(r => Z7.toCellString(g.cellForPoint(p, r)))
      val seq4 = Seqnum.toSeqnum(g.cellForPoint(p, 4))
      // T4/D4 res-6 strings: both nest exactly, so substr gives every
      // coarser resolution (Isea4TSpec / Isea4DSpec nesting tests).
      // h6 = ISEA3H res-6 Z3_STRING: index-space ancestors are substrs
      // (Z3 paths are prefix-hierarchical) but aperture-3 assignment
      // does NOT nest geometrically, so coarser-res ASSIGNMENT queries
      // need their own frozen column, not a substr
      val t6 = graft.dggs.T4.toT4String(t4g.cellForPoint(p, 6))
      val d6 = graft.dggs.D4.toD4String(d4g.cellForPoint(p, 6))
      val h6 = graft.dggs.Z3.toCellString(h3g.cellForPoint(p, 6))
      // f6 = ISEA4H res-6 Z4_STRING ('f' = four-hex; Z4 paths are
      // prefix-hierarchical, so index-space ancestors are substrs —
      // the same contract as h6)
      val f6 = graft.dggs.Z4.toCellString(h4g.cellForPoint(p, 6))
      // m6 = ISEA43H (mixed_aperture_level 3) res-6 digit string in the
      // shared Z4 layout — prefix-hierarchical like h6/f6
      val m6 = graft.dggs.Z4.toCellString(h43g.cellForPoint(p, 6))
      s"  ($lonM, $latM, '${cs(0)}', '${cs(1)}', '${cs(2)}', '${cs(3)}', $seq4, '$t6', '$d6', '$h6', '$f6', '$m6')"
    }

    val extent = GridOps.gridCellIdsForExtent(spark, 4, Some((20.2, 57.0, 28.4, 60.0)))
      .select(F.cellString(col("cell_id"))).as[String].collect().sorted
    val extentRows = extent.map(n => s"  ('$n')")

    // hex-kernel extents over the same box (regression pins: the
    // CORRECTNESS content — sample-assign-refine == brute-force — is the
    // SparkOpsSpec "hex extent ids" property, which proves the operator
    // exact against full driver-side enumeration for mid-lat and
    // antimeridian boxes on all three kernels)
    val hexBox = Some((20.2, 57.0, 28.4, 60.0))
    val extent3hNames = GridOps.gridCellIdsForExtent(spark, 8, hexBox, h3g)
      .select(F.cellString(col("cell_id"), h3g))
      .as[String].collect().sorted
    val extent4hNames = GridOps.gridCellIdsForExtent(spark, 6, hexBox, h4g)
      .select(F.cellString(col("cell_id"), h4g))
      .as[String].collect().sorted
    val extent43hNames = GridOps.gridCellIdsForExtent(spark, 6, hexBox, h43g)
      .select(F.cellString(col("cell_id"), h43g))
      .as[String].collect().sorted
    val extent3hRows = extent3hNames.map(n => s"  ('$n')")
    val extent4hRows = extent4hNames.map(n => s"  ('$n')")
    val extent43hRows = extent43hNames.map(n => s"  ('$n')")

    // hex cell geometry (centroid µdeg floor + vertex count), computed
    // DRIVER-SIDE through the pure kernels — the driver queries run the
    // Spark column path over the same ids, so the two paths cross-check
    def geomRows(names: Array[String], fromName: String => Long,
                 center: Long => GeoRad, boundary: Long => Array[GeoRad]): Array[String] =
      names.map { n =>
        val z = fromName(n)
        val c = center(z)
        s"  ('$n', ${math.floor(c.lonDeg * 1e6).toLong}, " +
          s"${math.floor(c.latDeg * 1e6).toLong}, ${boundary(z).length})"
      }
    val geom3hRows = geomRows(extent3hNames, graft.dggs.Z3.fromCellString,
      h3g.cellCenter, h3g.cellBoundary)
    val geom4hRows = geomRows(extent4hNames, graft.dggs.Z4.fromCellString,
      h4g.cellCenter, h4g.cellBoundary)
    val geom43hRows = geomRows(extent43hNames, graft.dggs.Z4.fromCellString,
      h43g.cellCenter, h43g.cellBoundary)

    // antimeridian-crossing box (Fiji-ish): frozen as the UNION of its
    // two split halves, each computed by the ordinary NON-wrapped path —
    // so the wrapped implementation (the dggs_wrap_extent_ids query) is
    // checked against the unwrapped one, not against itself
    val wrapHalves = Seq((175.0, -20.0, 180.0, -10.0), (-180.0, -20.0, -175.0, -10.0))
    val wrapIds = wrapHalves.flatMap { h =>
      GridOps.gridCellIdsForExtent(spark, 4, Some(h))
        .select(F.cellString(col("cell_id"))).as[String].collect()
    }.distinct.sorted
    val wrapRows = wrapIds.map(n => s"  ('$n')")

    val dl = DatelineOps.splitDateline(
        GridOps.gridCellPolygonsForExtent(spark, 2), "boundary")
      .groupBy("name").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).orderBy("name")
      .as[(String, Long)].collect()
    val dlRows = dl.map { case (n, c) => s"  ('$n', $c)" }

    // arbitrary-WKT clipped generation (distributed path; equivalence to
    // the driver-side covers is proven in SparkOpsSpec)
    val wktClip =
      "POLYGON ((21.0 57.3, 28.0 57.8, 27.5 59.7, 24.0 60.4, 21.5 59.5, 21.0 57.3))"
    val wktIds = graft.ops.SpatialOps.gridCellIdsForWkt(spark, wktClip, 5)
      .select(F.cellString(col("cell_id"))).as[String].collect().sorted
    val wktRows = wktIds.map(n => s"  ('$n')")

    // raster sample: the 32×32 pixel corner of the synthetic 256×256
    // raster (the driver's raster_to_cells correctness subset) → Z7 cell
    // at the proposed res. Pixel centers through the same affine as
    // SparkEntry's raster queries.
    // polar-cap covers (round-4: pole-enclosing cell rings used to be
    // silently droppable by the straddle-only antimeridian unwrap —
    // round-3 ADVICE). Frozen from the DRIVER-side coverCells; the
    // driver query runs the distributed coverCellsDf, so the oracle
    // cross-checks the two cover paths against each other.
    val polarBoxes = Seq(
      ("north", "POLYGON ((-180 88, 180 88, 180 90, -180 90, -180 88))"),
      ("south", "POLYGON ((-180 -90, 180 -90, 180 -88, -180 -88, -180 -90))"))
    val polarRows = polarBoxes.flatMap { case (pid, w) =>
      graft.ops.SpatialOps.coverCells(w, 3).map(Z7.toCellString).sorted
        .map(n => s"  ('$pid', '$n')")
    }

    val rAff = RasterOps.Affine(10.0, 0.01, 0.0, 55.0, 0.0, -0.01)
    val rRes = RasterOps.proposeDggsRes(RasterOps.pixelEdgeLenM(rAff, 53.7))
    val rasterRows = for (r <- 0 until 32; c <- 0 until 32) yield {
      val lon = rAff.a + (c + 0.5) * rAff.b + (r + 0.5) * rAff.c
      val lat = rAff.d + (c + 0.5) * rAff.e + (r + 0.5) * rAff.f
      val cell = Z7.toCellString(g.cellForPoint(GeoRad.fromDeg(lat, lon), rRes))
      s"  ($r, $c, '$cell')"
    }

    val q3 = "\"\"\""
    val content =
      s"""package graft
         |
         |/** GENERATED by graft.tools.FreezeFixtures from ${sfDir} — do not
         |  * edit by hand. Frozen DuckDB oracle fixtures: the kernel
         |  * point→cell mapping (anchored by the DGGRID golden tests) plus
         |  * the two data-independent deterministic query outputs. See
         |  * FreezeFixtures' scaladoc for the frozen-vs-checked contract.
         |  */
         |object OracleFixtures {
         |  /** (lon_mdeg, lat_mdeg) → Z7_STRING cell at res 3/4/5/6 +
         |    * engine-canonical SEQNUM at res 4, for every distinct geo-span
         |    * point of the sf0.01 corpus (${mapRows.length} points).
         |    */
         |  // the VALUES body is split into <64 KB chunks: a single
         |  // triple-quoted literal would exceed the JVM string-constant
         |  // limit (classfile UTF8 max 65535 bytes)
         |${mapRows.grouped(250).zipWithIndex.map { case (chunk, i) =>
             s"  private val geoRows$i: String = ${q3}${chunk.mkString(",\n")}${q3}"
           }.mkString("\n")}
         |  val geoCellCte: String =
         |    "cells(lon_mdeg, lat_mdeg, c3, c4, c5, c6, seq4, t6, d6, h6, f6, m6) AS (VALUES\\n" +
         |    Seq(${mapRows.grouped(250).zipWithIndex.map(t => s"geoRows${t._2}").mkString(", ")}).mkString(",\\n") + ")"
         |
         |  /** grid_cellids_for_extent((20.2,57.0)-(28.4,60.0), res 4) */
         |  val extentIdsSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${extentRows.mkString(",\n")}) t(name)${q3}
         |
         |  /** hex-kernel extents over the same box — ISEA3H res 8 /
         |    * ISEA4H res 6 / ISEA43H(n4=3) res 6; exactness of the
         |    * sample-assign-refine operator vs brute force is proven in
         |    * SparkOpsSpec "hex extent ids", these pin regression.
         |    */
         |  val extent3hSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${extent3hRows.mkString(",\n")}) t(name)${q3}
         |  val extent4hSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${extent4hRows.mkString(",\n")}) t(name)${q3}
         |  val extent43hSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${extent43hRows.mkString(",\n")}) t(name)${q3}
         |
         |  /** hex cell geometry over the same extents (centroid µdeg
         |    * floor + vertex count), frozen from the DRIVER-side pure
         |    * kernels — the driver queries run the Spark column path,
         |    * cross-checking the two.
         |    */
         |  val geom3hSql: String =
         |    ${q3}SELECT name, CAST(lon_udeg AS BIGINT) AS lon_udeg,
         |      CAST(lat_udeg AS BIGINT) AS lat_udeg,
         |      CAST(n_vertices AS BIGINT) AS n_vertices FROM (VALUES
         |${geom3hRows.mkString(",\n")}) t(name, lon_udeg, lat_udeg, n_vertices)${q3}
         |  val geom4hSql: String =
         |    ${q3}SELECT name, CAST(lon_udeg AS BIGINT) AS lon_udeg,
         |      CAST(lat_udeg AS BIGINT) AS lat_udeg,
         |      CAST(n_vertices AS BIGINT) AS n_vertices FROM (VALUES
         |${geom4hRows.mkString(",\n")}) t(name, lon_udeg, lat_udeg, n_vertices)${q3}
         |  val geom43hSql: String =
         |    ${q3}SELECT name, CAST(lon_udeg AS BIGINT) AS lon_udeg,
         |      CAST(lat_udeg AS BIGINT) AS lat_udeg,
         |      CAST(n_vertices AS BIGINT) AS n_vertices FROM (VALUES
         |${geom43hRows.mkString(",\n")}) t(name, lon_udeg, lat_udeg, n_vertices)${q3}
         |
         |  /** antimeridian-crossing extent (175,−20)→(−175,−10) at res 4,
         |    * frozen as the union of its two split halves (each via the
         |    * ordinary non-wrapped path).
         |    */
         |  val wrapExtentSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${wrapRows.mkString(",\n")}) t(name)${q3}
         |
         |  /** res-2 whole-earth cells split by the antimeridian */
         |  val datelineSql: String =
         |    ${q3}SELECT name, CAST(n AS BIGINT) AS n_pieces FROM (VALUES
         |${dlRows.mkString(",\n")}) t(name, n)${q3}
         |
         |  /** res-3 cover cells of boxes enclosing each pole (lat ≥ 88 /
         |    * ≤ −88) — frozen from driver-side coverCells; the driver query
         |    * cross-checks the distributed coverCellsDf path against it.
         |    */
         |  val polarNorthWkt: String = "${polarBoxes(0)._2}"
         |  val polarSouthWkt: String = "${polarBoxes(1)._2}"
         |  val polarCoverSql: String =
         |    ${q3}SELECT poly_id, name FROM (VALUES
         |${polarRows.mkString(",\n")}) t(poly_id, name)${q3}
         |
         |  /** gridCellIdsForWkt(pentagon clip crossing 60°N, res 5) */
         |  val wktClip: String = "$wktClip"
         |  val wktExtentSql: String =
         |    ${q3}SELECT name FROM (VALUES
         |${wktRows.mkString(",\n")}) t(name)${q3}
         |
         |  /** raster sample pixel (row, col) → Z7 cell at res $rRes —
         |    * the 32×32 corner of the synthetic raster (pixel centers
         |    * through Affine(10.0, 0.01, 0, 55.0, 0, -0.01)).
         |    */
         |  val rasterCellCte: String = ${q3}rcells(r, c, cell) AS (VALUES
         |${rasterRows.mkString(",\n")})${q3}
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      content.getBytes("UTF-8"))
    println(s"wrote $out: ${mapRows.length} map rows, ${extentRows.length} extent ids, " +
      s"${dlRows.length} dateline rows")
    spark.stop()
  }
}
