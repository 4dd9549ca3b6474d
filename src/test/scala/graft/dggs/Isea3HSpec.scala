package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** ISEA3H kernel + Z3 codec properties. No DGGRID golden ISEA3H ids
  * exist in the reference tests (ids are engine-canonical, documented in
  * HexKernel's scaladoc); these properties pin the construction instead:
  * exact partition (10·3^r + 2 distinct cells with distinct centers),
  * center→cell and point→cell round-trips, the EXACT integer nesting
  * relation (aperture-3 children sit on their parent's boundary — the
  * class-I/class-II structure of Sahr/White/Kimerling 2003), pentagon
  * accounting, and Z3/ZORDER/Q2DI codec bijections.
  */
class Isea3HSpec extends AnyFunSuite {

  private val g = Grids.isea3h

  private def allQuadIds(r: Int): Seq[Long] = {
    def paths(k: Int): Seq[List[Int]] =
      if (k == 0) Seq(Nil) else paths(k - 1).flatMap(p => (0 to 2).map(d => p :+ d))
    (1 to 10).flatMap(q => paths(r).map(p => Z3.pack(q, p)))
  }
  private def allIds(r: Int): Seq[Long] =
    Seq(0, 11).map(b => Z3.pack(b, Seq.fill(r)(0))) ++ allQuadIds(r)

  test("Z3 codec: pack/unpack/string round-trips, parent/children, ranges") {
    val id = Z3.pack(7, Seq(0, 2, 1, 1))
    assert(Z3.baseCell(id) == 7)
    assert(Z3.resolution(id) == 4)
    assert(Z3.digits(id) == Seq(0, 2, 1, 1))
    assert(Z3.toCellString(id) == "070211")
    assert(Z3.fromCellString("070211") == id)
    assert(Z3.fromHex(Z3.toHex(id)) == id)
    assert(Z3.parent(id) == Z3.pack(7, Seq(0, 2, 1)))
    assert(Z3.ancestorAt(id, 2) == Z3.pack(7, Seq(0, 2)))
    assert(Z3.ancestorAt(id, 0) == Z3.pack(7, Seq.empty))
    val kids = g.children(id)
    assert(kids.size == 3 && kids.distinct.size == 3)
    assert(kids.forall(k => Z3.parent(k) == id))
    assert(kids.map(Z3.digit(_, 5)).sorted == Seq(0, 1, 2))
    // caps: only the center child
    val cap = Z3.pack(0, Seq(0, 0))
    assert(g.children(cap) == Seq(Z3.pack(0, Seq(0, 0, 0))))
    // contiguous descendant ranges, disjoint across siblings
    val p = Z3.pack(3, Seq(2, 1))
    val ds = g.descendants(p, 6)
    assert(ds.size == 81 && ds.distinct.size == 81)
    assert(ds.forall(d => d >= Z3.rangeMin(p) && d <= Z3.rangeMax(p)))
    val ranges = g.children(p).map(c => (Z3.rangeMin(c), Z3.rangeMax(c))).sortBy(_._1)
    ranges.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1); case _ => }
    // malformed addresses raise LOUDLY instead of building corrupt ids
    // (round-8 review): the pad digit '3' in a real position, and an
    // out-of-radix ZORDER_STRING char that would otherwise alias a
    // different valid cell
    intercept[IllegalArgumentException](Z3.fromCellString("0530"))
    intercept[IllegalArgumentException](Z3.pack(5, Seq(3, 0)))
    intercept[IllegalArgumentException](g.fromZorderString("05031x".take(6)))
    intercept[IllegalArgumentException](g.fromZorderString("050533"))
  }

  test("exact partition: 10·3^r + 2 distinct cells, distinct centers, caps are v0/v11") {
    assert(g.capVerts == (0, 11))
    for (r <- 0 to 3) {
      val ids = allIds(r)
      assert(ids.size == 10 * math.pow(3, r).toLong + 2)
      assert(ids.distinct.size == ids.size)
      val cs = ids.map(g.cellCenter)
      for (a <- cs.indices; b <- (a + 1) until cs.size)
        assert(distance(cs(a), cs(b)) > 1e-9,
          s"coincident centers ${Z3.toCellString(ids(a))} / ${Z3.toCellString(ids(b))}")
    }
  }

  test("center→cell round-trip for every cell at res 0..4") {
    for (r <- 0 to 4) {
      allIds(r).foreach { id =>
        assert(g.cellForPoint(g.cellCenter(id), r) == id, Z3.toCellString(id))
      }
    }
  }

  test("point→cell→center→cell round-trip at res 5 and 8 (deterministic sample)") {
    val rng = new scala.util.Random(20260818)
    for (r <- Seq(5, 8); _ <- 1 to 400) {
      val lat = math.asin(rng.nextDouble() * 2 - 1)
      val lon = (rng.nextDouble() * 2 - 1) * math.Pi
      val id = g.cellForPoint(GeoRad(lat, lon), r)
      assert(g.cellForPoint(g.cellCenter(id), r) == id)
    }
  }

  test("pentagons: exactly 12 per res, at the icosahedron vertices, digit paths all-0") {
    for (r <- Seq(1, 3)) {
      val pents = allIds(r).filter(Z3.isPentagon)
      assert(pents.size == 12)
      val centers = pents.map(g.cellCenter)
      (0 to 11).foreach { v =>
        assert(centers.exists(c => distance(c, g.ico.vertices(v)) < 1e-9),
          s"no pentagon at vertex $v")
      }
    }
  }

  test("EXACT integer nesting: child rep = parent rep · f + step(d); seams only on boundary classes") {
    for (r <- Seq(1, 2, 3, 4)) {
      val n = math.pow(3, r).toLong
      val np = n / 3
      var seam = 0
      allQuadIds(r).foreach { id =>
        val (_, ci, cj) = g.ownedIJ(id)
        val par = Z3.parent(id)
        val (pi, pj) =
          if (Z3.isPentagon(par)) {
            if (g.ownedCornerIdx(Z3.baseCell(id)) == 3) (np, np) else (0L, 0L)
          } else { val t = g.ownedIJ(par); (t._2, t._3) }
        val expect = g.fromIJ(pi, pj, r - 1) * g.levelFactor(r) +
          g.stepFor(r, Z3.digit(id, r))
        if (expect != g.fromIJ(ci, cj, r)) {
          seam += 1
          // every seam exception involves a quad-boundary class
          val onB = ci == 0 || cj == 0 || ci == n || cj == n ||
            pi == 0 || pj == 0 || pi == np || pj == np
          assert(onB, s"interior seam at ${Z3.toCellString(id)}")
        }
      }
      // the seam fraction shrinks like the boundary/area ratio
      assert(seam <= 2 * 10 * (2 * math.pow(3, (r + 1) / 2.0)).toLong + 40,
        s"res $r: $seam seams")
    }
  }

  test("digit-0 children coincide with the parent center; digits 1/2 sit one child-unit away") {
    val r = 4
    allQuadIds(r).foreach { id =>
      val d = distance(g.cellCenter(id), g.cellCenter(Z3.parent(id)))
      if (Z3.digit(id, r) == 0) assert(d < 1e-12, Z3.toCellString(id))
    }
    // non-center, non-seam children: geodesic distance ≈ the child lattice
    // unit (the parent hexagon's circumradius — i.e. ON its boundary)
    val samples = allQuadIds(r).filter { id =>
      val (_, ci, cj) = g.ownedIJ(id)
      val n = math.pow(3, r).toLong
      val np = n / 3
      val par = Z3.parent(id)
      // exclude seam classes on BOTH levels (a re-homed parent rep is a
      // different sphere point — the documented boundary exception)
      !Z3.isPentagon(par) && {
        val (_, pi, pj) = g.ownedIJ(par)
        Z3.digit(id, r) != 0 && ci > 1 && cj > 1 && ci < n - 1 && cj < n - 1 &&
          pi > 0 && pj > 0 && pi < np && pj < np
      }
    }.take(300)
    val ds = samples.map(id => distance(g.cellCenter(id), g.cellCenter(Z3.parent(id))))
    val mean = ds.sum / ds.size
    ds.foreach(d => assert(d > 0.5 * mean && d < 2.0 * mean))
  }

  test("class alternation: even-res lattices align with res-0, odd rotate 30°") {
    // the aperture-3 factor arguments: (2−ω) then (1+ω) multiply to 3ω−…
    // — verify via the factor product's argument mod 60°
    def argDeg(e: Lattice.Eis): Double = {
      val (x, y) = e.toXY
      math.toDegrees(math.atan2(y, x))
    }
    for (r <- 0 to 6) {
      val a = ((argDeg(g.factorProductAt(r)) % 60) + 60) % 60
      if (r % 2 == 0) assert(math.abs(a) < 1e-9 || math.abs(a - 60) < 1e-9, s"res $r: $a")
      else assert(math.abs(a - 30) < 1e-9, s"res $r: $a")
    }
  }

  test("ZORDER / ZORDER_STRING / Q2DI / INTERLEAVE round-trips") {
    val ids = allIds(4)
    ids.foreach { id =>
      assert(g.fromZorder(g.toZorder(id)) == id, Z3.toCellString(id))
      assert(g.fromZorderString(g.toZorderString(id)) == id)
      assert(g.toInterleave(id) == g.toZorderString(id))
      val (b, i, j) = g.toQ2di(id)
      assert(g.fromQ2di(b, i, j, 4) == id)
    }
    // ZORDER caps at res 17 like DGGRID's int64 forms cap by bit budget
    val deep = Z3.pack(5, Seq.fill(18)(1))
    assertThrows[IllegalArgumentException](g.toZorder(deep))
  }

  test("ZORDER_STRING has no bit budget: round-trips at res 18 and 20") {
    val pts = Seq(GeoRad.fromDeg(44.0, -122.0), GeoRad.fromDeg(-33.9, 151.2),
      GeoRad.fromDeg(71.3, 3.7))
    for (r <- Seq(18, 20); p <- pts) {
      val id = g.cellForPoint(p, r)
      val sx = g.toZorderString(id)
      assert(sx.length == 2 + 2 * r)
      assert(g.fromZorderString(sx) == id, sx)
    }
  }

  test("hex boundary has 6 vertices, pentagon 5; boundary encloses the center") {
    val hexId = g.cellForPoint(GeoRad.fromDeg(44.0, -122.0), 5)
    assert(!Z3.isPentagon(hexId))
    val b = g.cellBoundary(hexId)
    assert(b.length == 6)
    val c = g.cellCenter(hexId)
    b.foreach(v => assert(distance(c, v) < 0.1)) // vertices near the center at res 5
    val pent = Z3.pack(0, Seq(0, 0, 0))
    assert(g.cellBoundary(pent).length == 5)
  }
}
