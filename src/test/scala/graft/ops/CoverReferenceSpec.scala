package graft.ops

import org.locationtech.jts.geom.GeometryFactory
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.WKTReader
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.Z7
import graft.spark.Grids

/** `SpatialOps.coverCells` prunes candidates level by level and accepts
  * interior cells by their centers. Its answer must equal the definition
  * it stands for, computed here without either shortcut: every one of
  * the 10·7ʳ + 2 cells of the grid at res r whose `cellBoundary` ring
  * `ringIntersects` the polygon.
  */
class CoverReferenceSpec extends AnyFunSuite {
  private val grid = Grids.default

  private def box(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

  /** named polygons: the flagship's three, both polar caps, boxes
    * touching ±180, a polygon with a hole, a sliver triangle, a box
    * reaching 78° and 20 seeded boxes
    */
  private val battery: Seq[(String, String)] = {
    val rnd = new scala.util.Random(9)
    val seeded = (0 until 20).map { i =>
      val x0 = -180.0 + 340.0 * rnd.nextDouble()
      val y0 = -85.0 + 150.0 * rnd.nextDouble()
      val w = 0.5 + math.min(179.5 - x0, 60.0 * rnd.nextDouble())
      val h = 0.5 + math.min(84.5 - y0, 30.0 * rnd.nextDouble())
      s"seeded $i" -> box(x0, y0, x0 + w, y0 + h)
    }
    graft.Bench.FlagshipPolys ++ Seq(
      "north cap" -> box(-180, 70, 180, 90),
      "south cap" -> box(-180, -90, 180, -75),
      "touches +180" -> box(160, -20, 180, 15),
      "touches -180" -> box(-180, 40, -150, 55),
      "hole" -> ("POLYGON ((-10 -10, 30 -10, 30 25, -10 25, -10 -10), " +
        "(0 0, 20 0, 20 15, 0 15, 0 0))"),
      "sliver" -> "POLYGON ((100 -30, 130 -29.7, 100 -29.2, 100 -30))",
      "reaches 78" -> box(-60, 50, -20, 78)) ++ seeded
  }

  /** every cell at `res` with its boundary ring in degrees */
  private def allRings(res: Int): Seq[(Long, Seq[(Double, Double)])] =
    (0 until 12).flatMap(b => Z7.descendants(Z7.pack(b, Seq.empty), res)).map { z =>
      z -> grid.cellBoundary(z).map(g => (g.lonDeg, g.latDeg)).toSeq
    }

  private def reference(wkt: String, rings: Seq[(Long, Seq[(Double, Double)])]): Set[Long] = {
    val gf = new GeometryFactory()
    val prep = PreparedGeometryFactory.prepare(new WKTReader(gf).read(wkt))
    rings.collect { case (z, ring) if JtsCache.ringIntersects(prep, gf, ring) => z }.toSet
  }

  private def check(polys: Seq[(String, String)], res: Int): Unit = {
    val rings = allRings(res)
    assert(rings.size == 10 * math.pow(7, res).toInt + 2)
    for ((name, wkt) <- polys) {
      val got = SpatialOps.coverCells(wkt, res)
      val want = reference(wkt, rings)
      assert(got.size == got.distinct.size, s"$name res $res: duplicate cells")
      assert(got.toSet == want, s"$name res $res: ${(got.toSet -- want).size} extra, " +
        s"${(want -- got.toSet).size} missing of ${want.size}")
    }
  }

  test("coverCells == every cell whose ring intersects the polygon: battery at res 0..3") {
    for (res <- 0 to 3) check(battery, res)
  }

  test("coverCells == the full ring test for the flagship polygons at res 4") {
    check(graft.Bench.FlagshipPolys, 4)
  }
}
