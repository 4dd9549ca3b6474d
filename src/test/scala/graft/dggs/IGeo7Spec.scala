package graft.dggs

import org.scalatest.funsuite.AnyFunSuite
import Sphere._
import scala.io.Source

/** Kernel golden tests against DGGRID output (FIXTURES.md §1):
  *  - 551 res-9 IGEO7 cells from the reference's igeo7_res_9.gpkg
  *    (default orientation 11.25/58.28252559)
  *  - Oregon cities res-4 presence binning cells (test orientation)
  *  - cells_for_geo_points golden hexagon rings (test orientation)
  *  - global all-cells roundtrip at res 0..3
  */
class IGeo7Spec extends AnyFunSuite {

  lazy val grid = new IGeo7(58.28252559, 11.25, 0.0)
  lazy val testGrid = new IGeo7(58.282525588538994675786, 11.20, 0.0)

  case class GCell(z7: Long, ring: Array[(Double, Double)])
  lazy val goldenCells: Seq[GCell] = {
    val url = getClass.getResource("/igeo7_res9_cells.csv")
    val src = Source.fromURL(url)
    val cells = src.getLines().drop(1).map { line =>
      val Array(hexs, ringS) = line.split(",", 2)
      val ring = ringS.split(";").map { p =>
        val Array(lo, la) = p.split(" "); (lo.toDouble, la.toDouble)
      }
      GCell(Z7.fromHex(hexs), ring)
    }.toList
    src.close()
    cells
  }

  test("Snyder projection: constants and roundtrip") {
    val s = grid.snyder
    assert(math.abs(s.Rprime - 0.9103832815095032) < 1e-15)
    assert(math.abs(toDeg(s.g) - 37.37736814) < 1e-7)
    var lat = -88.0
    while (lat <= 88.0) {
      var lon = -180.0
      while (lon < 180.0) {
        val p = GeoRad.fromDeg(lat, lon)
        assert(distance(p, s.inverse(s.forward(p))) < 1e-12)
        lon += 17.3
      }
      lat += 11.7
    }
  }

  test("551 DGGRID golden cells: exact ids, centers, boundaries") {
    var okF = 0; var okC = 0; var okB = 0
    for (c <- goldenCells) {
      val r = Z7.resolution(c.z7)
      val ring = c.ring.dropRight(1)
      val ctr = toGeo(ring.map { case (lo, la) => toVec(GeoRad.fromDeg(la, lo)) }.reduce(_ + _))
      if (grid.cellForPoint(ctr, r) == c.z7) okF += 1
      if (distance(grid.cellCenter(c.z7), ctr) < 1e-5) okC += 1
      val myBnd = grid.cellBoundary(c.z7)
      if (myBnd.length == ring.length &&
        ring.forall { case (lo, la) =>
          myBnd.exists(distance(GeoRad.fromDeg(la, lo), _) < 1e-9)
        }) okB += 1
    }
    assert(okF == 551, s"forward $okF/551")
    assert(okC == 551, s"center $okC/551")
    assert(okB == 551, s"boundary $okB/551")
  }

  test("Oregon presence-binning golden: res-4 Z7 strings") {
    val cities = Seq(
      (-123.28, 44.57), (-122.87, 45.49), (-122.77, 45.43), (-123.09, 44.62),
      (-122.70, 45.41), (-123.02, 45.00), (-123.19, 45.21), (-122.60, 45.34),
      (-123.32, 42.44), (-122.77, 45.38), (-122.64, 45.37), (-122.62, 45.44),
      (-121.17, 45.60), (-122.86, 45.15), (-123.36, 43.22))
    val mine = cities.map { case (lo, la) =>
      Z7.toCellString(testGrid.cellForPoint(GeoRad.fromDeg(la, lo), 4))
    }.toSet
    assert(mine == Set("021114", "021116", "014626"))
  }

  test("cells_for_geo_points golden rings match at 1e-9 deg") {
    val hexOfB = Seq( // DGGRID polygon for the cell containing (21.0, 58.0)
      (21.189511635794823, 58.2893639588515), (20.950622414770574, 58.00135094074029),
      (21.232988751914608, 57.69437147048094), (21.74777706813212, 57.674593541688374),
      (21.990765226755794, 57.96161815328658), (21.71493417563983, 58.2694113005297))
    val hexOfA = Seq( // DGGRID polygon for the cell containing (20.5, 57.5)
      (20.430061092474467, 58.01819524792648), (20.20251122281021, 57.727966938664856),
      (20.491335795187357, 57.42178746002092), (21.001317147943144, 57.405038598901655),
      (21.232988751914608, 57.69437147048094), (20.950622414770574, 58.00135094074029))
    for (((lo, la), ring) <- Seq(((20.5, 57.5), hexOfA), ((21.0, 58.0), hexOfB))) {
      val z = testGrid.cellForPoint(GeoRad.fromDeg(la, lo), 5)
      val bnd = testGrid.cellBoundary(z)
      for ((glo, gla) <- ring) {
        val g = GeoRad.fromDeg(gla, glo)
        assert(bnd.exists(v => distance(g, v) < toRad(1e-9) * 60), s"vertex ($glo,$gla)")
      }
    }
  }

  test("global roundtrip res 0..3: bijective, exact counts") {
    var all: Seq[Long] = (0 to 11).map(b => Z7.pack(b, Seq.empty))
    for (r <- 0 to 3) {
      assert(all.size == 10 * math.pow(7, r).toLong + 2)
      val centers = all.map(z => (z, grid.cellCenter(z)))
      assert(centers.map { case (_, c) =>
        (math.round(c.lat * 1e12), math.round(c.lon * 1e12))
      }.distinct.size == all.size, s"duplicate centers at res $r")
      assert(centers.forall { case (z, c) => grid.cellForPoint(c, r) == z },
        s"roundtrip failure at res $r")
      if (r < 3) all = all.flatMap(Z7.children)
    }
  }

  test("pentagon cells have 5 boundary vertices, hexagons 6") {
    assert(grid.cellBoundary(Z7.pack(7, Seq(0, 0))).length == 5)
    assert(grid.cellBoundary(Z7.pack(7, Seq(0, 1))).length == 6)
  }
}

/** deep-resolution sampled bijectivity (full 100k-cell sweeps at res
  * 9/12/15 were run during calibration with zero failures; this keeps a
  * seeded subsample in CI).
  */
class IGeo7DeepSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("random-cell roundtrip at res 9 and 13") {
    val g = new IGeo7(58.28252559, 11.25, 0.0)
    val rnd = new scala.util.Random(123)
    for (res <- Seq(9, 13)) {
      var i = 0
      while (i < 3000) {
        var z = Z7.pack(rnd.nextInt(12), Seq.empty)
        for (_ <- 1 to res) {
          val ds = Z7.childDigits(z)
          z = Z7.child(z, ds(rnd.nextInt(ds.length)))
        }
        assert(g.cellForPoint(g.cellCenter(z), res) == z, Z7.toCellString(z))
        i += 1
      }
    }
  }
}
