package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** ISEA43H (mixed-aperture) kernel properties. No DGGRID golden ISEA43H
  * ids exist in the reference tree; the construction is pinned by the
  * PURE-EQUIVALENCE properties instead — the mixed kernel with n4 = 0
  * must reproduce the independently-implemented Isea3H EXACTLY (digit
  * strings; the codecs differ in bit layout), and with n4 ≥ res the
  * independently-implemented Isea4H EXACTLY (identical int64 ids, same
  * Z4 layout) — plus the usual partition/round-trip/pentagon/codec
  * properties at a genuinely mixed configuration (n4 = 2).
  */
class Isea43HSpec extends AnyFunSuite {

  private val gm = Grids.isea43h(2) // mixed: 4,4,3,3,...
  private val g0 = Grids.isea43h(0) // pure aperture 3
  private val gp = Grids.isea43h(Z4.maxRes) // pure aperture 4

  /** enumerate all quad ids at res r for mixed level n4 */
  private def allQuadIds(g: Isea43H, r: Int): Seq[Long] = {
    def paths(k: Int): Seq[List[Int]] =
      if (k == 0) Seq(Nil)
      else paths(k - 1).flatMap(p => (0 until g.radixAt(k)).map(d => p :+ d))
    (1 to 10).flatMap(q => paths(r).map(p => Z4.pack(q, p)))
  }
  private def allIds(g: Isea43H, r: Int): Seq[Long] =
    Seq(0, 11).map(b => Z4.pack(b, Seq.fill(r)(0))) ++ allQuadIds(g, r)

  private def randomPoints(n: Int, seed: Int): Seq[GeoRad] = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      GeoRad(math.asin(rng.nextDouble() * 2 - 1), (rng.nextDouble() * 2 - 1) * math.Pi)
    }
  }

  test("PURE EQUIVALENCE n4=0: digit strings match Isea3H exactly (enumeration + points)") {
    val h3 = Grids.isea3h
    // every res-3 cell: same center, same digit string
    allIds(g0, 3).foreach { id =>
      val z3 = Z3.pack(Z4.baseCell(id), Z4.digits(id))
      assert(Z4.toCellString(id).drop(2) == Z3.toCellString(z3).drop(2))
      assert(distance(g0.cellCenter(id), h3.cellCenter(z3)) < 1e-12,
        Z4.toCellString(id))
    }
    // random point assignment at res 6 agrees digit-for-digit
    randomPoints(300, 43001).foreach { p =>
      val a = Z4.toCellString(g0.cellForPoint(p, 6))
      val b = Z3.toCellString(h3.cellForPoint(p, 6))
      assert(a == b, s"point $p: mixed(0)=$a isea3h=$b")
    }
    // ZORDER_STRING collapses to the aperture-3 convention
    randomPoints(50, 43002).foreach { p =>
      val idM = g0.cellForPoint(p, 5)
      val id3 = h3.cellForPoint(p, 5)
      assert(g0.toZorderString(idM) == h3.toZorderString(id3))
      val (qa, ia, ja) = g0.toQ2di(idM)
      val (qb, ib, jb) = h3.toQ2di(id3)
      assert((qa, ia, ja) == (qb, ib, jb))
    }
  }

  test("PURE EQUIVALENCE n4>=res: int64 ids match Isea4H exactly (enumeration + points)") {
    val h4 = Grids.isea4h
    allIds(gp, 3).foreach { id =>
      assert(distance(gp.cellCenter(id), h4.cellCenter(id)) < 1e-12, Z4.toCellString(id))
    }
    randomPoints(300, 43003).foreach { p =>
      assert(gp.cellForPoint(p, 6) == h4.cellForPoint(p, 6))
    }
    randomPoints(50, 43004).foreach { p =>
      val id = gp.cellForPoint(p, 5)
      assert(gp.toZorderString(id) == h4.toZorderString(id))
      assert(gp.toQ2di(id) == h4.toQ2di(id))
    }
  }

  test("exact partition at n4=2: 10·4^min(r,2)·3^max(0,r−2) + 2 distinct cells") {
    assert(gm.capVerts == (0, 11))
    for (r <- 0 to 4) {
      val expect = 10L * math.pow(4, math.min(r, 2)).toLong *
        math.pow(3, math.max(0, r - 2)).toLong + 2
      val ids = allIds(gm, r)
      assert(ids.size == expect, s"res $r")
      assert(ids.distinct.size == ids.size)
      if (r <= 3) {
        val cs = ids.map(gm.cellCenter)
        for (a <- cs.indices; b <- (a + 1) until cs.size)
          assert(distance(cs(a), cs(b)) > 1e-9,
            s"coincident centers ${Z4.toCellString(ids(a))} / ${Z4.toCellString(ids(b))}")
      }
    }
  }

  test("center→cell round-trip for every cell at res 0..4 (n4=2, crosses the aperture boundary)") {
    for (r <- 0 to 4) {
      allIds(gm, r).foreach { id =>
        assert(gm.cellForPoint(gm.cellCenter(id), r) == id, Z4.toCellString(id))
      }
    }
  }

  test("point→cell→center→cell round-trip at res 6 and 9 (deterministic sample)") {
    for (r <- Seq(6, 9); p <- randomPoints(300, 43005 + r)) {
      val id = gm.cellForPoint(p, r)
      assert(gm.cellForPoint(gm.cellCenter(id), r) == id)
    }
  }

  test("pentagons: exactly 12 per res at the icosahedron vertices") {
    for (r <- Seq(1, 3)) {
      val pents = allIds(gm, r).filter(Z4.isPentagon)
      assert(pents.size == 12)
      val centers = pents.map(gm.cellCenter)
      (0 to 11).foreach { v =>
        assert(centers.exists(c => distance(c, gm.ico.vertices(v)) < 1e-9),
          s"no pentagon at vertex $v")
      }
    }
  }

  test("children: 4 through level n4, 3 after; digit-3 raises at aperture-3 levels") {
    val p1 = Z4.pack(5, Seq(1))          // res 1 -> level 2 is aperture 4
    assert(gm.children(p1).size == 4)
    val p2 = Z4.pack(5, Seq(1, 2))       // res 2 -> level 3 is aperture 3
    assert(gm.children(p2).size == 3)
    // levels 1,2 aperture-4; levels 3,4 aperture-3 -> 4·4·3·3 = 144
    assert(gm.descendants(Z4.pack(5, Seq.empty), 4).size == 144)
    // cap subtree stays singleton
    assert(gm.descendants(Z4.pack(0, Seq.empty), 4) == Seq(Z4.pack(0, Seq(0, 0, 0, 0))))
    // digit 3 at an aperture-3 level is rejected by the step table
    assertThrows[IllegalArgumentException](gm.ownedIJ(Z4.pack(5, Seq(1, 2, 3))))
  }

  test("EXACT integer nesting across the aperture boundary; seams only on boundary classes") {
    for (r <- Seq(2, 3, 4)) {
      val n = gm.rhombusDenominator(r)
      val np = gm.rhombusDenominator(r - 1)
      var seam = 0
      allQuadIds(gm, r).foreach { id =>
        val (_, ci, cj) = gm.ownedIJ(id)
        val par = Z4.parent(id)
        val (pi, pj) =
          if (Z4.isPentagon(par)) {
            if (gm.ownedCornerIdx(Z4.baseCell(id)) == 3) (np, np) else (0L, 0L)
          } else { val t = gm.ownedIJ(par); (t._2, t._3) }
        val expect = gm.fromIJ(pi, pj, r - 1) * gm.levelFactor(r) +
          gm.stepFor(r, Z4.digit(id, r))
        if (expect != gm.fromIJ(ci, cj, r)) {
          seam += 1
          val onB = ci == 0 || cj == 0 || ci == n || cj == n ||
            pi == 0 || pj == 0 || pi == np || pj == np
          assert(onB, s"interior seam at ${Z4.toCellString(id)}")
        }
      }
      assert(seam <= 2 * 10 * (4 * n) + 40, s"res $r: $seam seams")
    }
  }

  test("ZORDER / ZORDER_STRING / Q2DI round-trips at a mixed res; radix check") {
    val ids = allIds(gm, 4)
    ids.foreach { id =>
      assert(gm.fromZorder(gm.toZorder(id)) == id, Z4.toCellString(id))
      assert(gm.fromZorderString(gm.toZorderString(id)) == id)
      assert(gm.toInterleave(id) == gm.toZorderString(id))
      val (b, i, j) = gm.toQ2di(id)
      assert(gm.fromQ2di(b, i, j, 4) == id)
    }
    // mixed radix: first n4 digit pairs are binary, the rest base-3
    val sx = gm.toZorderString(Z4.pack(5, Seq(3, 1, 2, 0)))
    val ds = sx.drop(2)
    assert(ds.take(4).forall(c => c == '0' || c == '1'), sx) // levels 1-2
    assert(ds.drop(4).forall(c => c >= '0' && c <= '2'), sx) // levels 3-4
    // ZorderMaxRes adapts to the mix (pure-3 caps at 17, pure-4 at 20)
    assert(g0.ZorderMaxRes == 17)
    assert(gp.ZorderMaxRes == 20)
    assert(gm.ZorderMaxRes > 17 - 2 && gm.ZorderMaxRes <= 20)
    // out-of-radix chars raise LOUDLY per LEVEL (round-8 review): '2'
    // is legal at an aperture-3 level but not at a binary level 1-2
    intercept[IllegalArgumentException](gm.fromZorderString("052000"))
    intercept[IllegalArgumentException](gm.fromZorderString("05000023"))
  }

  test("stats: closed-form counts match the enumeration (n4=2)") {
    // mirrors GridOps.gridStatsTable's (43, HEXAGON) case
    for (r <- 0 to 4) {
      val cells = 10L * math.pow(4, math.min(r, 2)).toLong *
        math.pow(3, math.max(0, r - 2)).toLong + 2
      assert(allIds(gm, r).size.toLong == cells)
    }
  }
}
