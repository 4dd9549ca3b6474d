package graft.dggs

import org.scalatest.funsuite.AnyFunSuite

/** Z7 codec: bit-exact vs the reference's igeo7.py (fixtures in
  * FIXTURES.md §1.5) + structural properties over seeded random cells.
  */
class Z7Spec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  def randomCells(n: Int, maxRes: Int = 15): Seq[Long] = Seq.fill(n) {
    val base = rnd.nextInt(12)
    val res = rnd.nextInt(maxRes + 1)
    Z7.pack(base, Seq.fill(res)(rnd.nextInt(7)))
  }
  def forAllCells(maxRes: Int = 15)(f: Long => Unit): Unit =
    randomCells(500, maxRes).foreach(f)

  test("reference fixture: 0042aad3ffffffff decodes like igeo7.py") {
    val z = Z7.fromHex("0042aad3ffffffff")
    assert(Z7.baseCell(z) == 0)
    assert(Z7.toCellString(z) == "00010252551") // base 00 + digits
    assert(Z7.resolution(z) == 9)
    // parent/local pos semantics (igeo7.py:98-122)
    assert(Z7.toCellString(Z7.parent(z)) == "0001025255")
    assert(Z7.localPos(z) == 1)
    assert(!Z7.isCenter(z))
    assert(Z7.toHex(z) == "0042aad3ffffffff")
  }

  test("string round-trip and resolution = len-2") {
    forAllCells() { z =>
      val s = Z7.toCellString(z)
      assert(Z7.fromCellString(s) == z)
      assert(Z7.resolution(z) == s.length - 2)
    }
  }

  test("a supplied pad digit 7 raises instead of building a mislabelled id") {
    intercept[IllegalArgumentException](Z7.fromCellString("0570"))
    intercept[IllegalArgumentException](Z7.pack(5, Seq(7, 0)))
    assert(Z7.resolution(Z7.fromCellString("056")) == 1)
  }

  test("SlotCodec.resolution (trailing pad run) == the digit-loop form on Z7, Z3, Z4") {
    def loopRes(c: SlotCodec, z: Long): Int = {
      val pad = (1 << c.slotBits) - 1
      var r = 0
      while (r < c.maxRes && c.digit(z, r + 1) != pad) r += 1
      r
    }
    val rnd = new scala.util.Random(8)
    for (c <- Seq[SlotCodec](Z7, Z3, Z4); base <- 0 until 12; r <- 0 to c.maxRes) {
      // random digits, plus all-top digits (the longest run of 1-bits a
      // real digit can end in) and all-zero digits
      val paths = Seq(Seq.fill(r)(rnd.nextInt(c.radix)), Seq.fill(r)(rnd.nextInt(c.radix)),
        Seq.fill(r)(c.radix - 1), Seq.fill(r)(0))
      for (ds <- paths) {
        val z = c.pack(base, ds)
        assert(c.resolution(z) == r && loopRes(c, z) == r, f"${c.name} $z%016x")
      }
    }
  }

  test("hex round-trip") {
    forAllCells() { z => assert(Z7.fromHex(Z7.toHex(z)) == z) }
  }

  test("parent of child is identity; center child shares parent identity") {
    forAllCells(maxRes = 14) { z =>
      val d = rnd.nextInt(7)
      val ds = if (Z7.isPentagon(z) && d == 2) 3 else d
      val c = Z7.child(z, ds)
      assert(Z7.parent(c) == z)
      assert(Z7.localPos(c) == ds)
    }
  }

  test("pentagons are the all-zero-digit cells and skip digit 2") {
    for (b <- 0 to 11) {
      val p = Z7.pack(b, Seq(0, 0, 0))
      assert(Z7.isPentagon(p))
      assert(Z7.childDigits(p) == Seq(0, 1, 3, 4, 5, 6))
      assert(!Z7.isPentagon(Z7.pack(b, Seq(0, 1, 0))))
    }
  }

  test("global cell count N(r) = 10*7^r + 2") {
    var cells: Seq[Long] = (0 to 11).map(b => Z7.pack(b, Seq.empty))
    for (r <- 0 to 4) {
      assert(cells.size == 10 * math.pow(7, r).toLong + 2, s"res $r")
      assert(cells.distinct.size == cells.size)
      if (r < 4) cells = cells.flatMap(Z7.children)
    }
  }

  test("descendant int64 range is contiguous and exact") {
    forAllCells(maxRes = 6) { z =>
      val lo = Z7.rangeMin(z); val hi = Z7.rangeMax(z)
      val kids = Z7.children(z)
      assert(kids.forall(c => c >= lo && c <= hi))
      if (Z7.resolution(z) >= 1) {
        val sib = Z7.child(Z7.parent(z), if (Z7.localPos(z) == 3) 4 else 3)
        if (sib != z) assert(!(sib >= lo && sib <= hi))
      }
    }
  }

  test("ancestorAt walks up to any resolution") {
    val z = Z7.fromCellString("00010252551")
    assert(Z7.toCellString(Z7.ancestorAt(z, 4)) == "000102")
    assert(Z7.toCellString(Z7.ancestorAt(z, 0)) == "00")
  }
}

/** Authalic latitude series: roundtrip + known characteristics. */
class AuthalicSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("roundtrip geodetic <-> authalic under 1e-9 deg") {
    var lat = -89.5
    while (lat <= 89.5) {
      val a = Authalic.toAuthalicDeg(lat)
      assert(math.abs(Authalic.toGeodeticDeg(a) - lat) < 1e-9, s"lat $lat")
      lat += 0.73
    }
  }
  test("authalic pulls latitudes toward the equator, fixed points at 0/90") {
    assert(Authalic.toAuthalicDeg(0.0) == 0.0)
    assert(math.abs(Authalic.toAuthalicDeg(90.0) - 90.0) < 1e-12)
    val a45 = Authalic.toAuthalicDeg(45.0)
    assert(a45 > 44.85 && a45 < 44.90, s"authalic(45)=$a45")
    assert(Authalic.toAuthalicDeg(30.0) < 30.0)
    assert(Authalic.toAuthalicDeg(-30.0) > -30.0)
  }
}

/** dgselect-equivalent preset parsing + error contract (reference
  * dggrid_runner.py:378-533, 2058-2097).
  */
class DggsConfSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("preset parsing: projection/aperture/topology from the name") {
    assert(DggsConf("ISEA7H", 5) == DggsConf("ISEA7H", "ISEA", 7, "HEXAGON", 5))
    assert(DggsConf("IGEO7", 4).aperture == 7)
    assert(DggsConf("ISEA4T", 3).topology == "TRIANGLE")
    assert(DggsConf("FULLER4D", 3).projection == "FULLER")
    assert(DggsConf("ISEA43H", 3).aperture == 43)
    assert(DggsConf("isea3h", 2).dggsType == "ISEA3H")
  }
  test("error contract: unknown type, CUSTOM, range validation") {
    intercept[IllegalArgumentException](DggsConf("NOPE7H", 3))
    intercept[IllegalArgumentException](DggsConf("CUSTOM", 3))
    intercept[IllegalArgumentException](DggsConf("ISEA7H", 99))
    intercept[IllegalArgumentException](DggsConf("ISEA7H", 3, 91.0, 0.0, 0.0))
    intercept[IllegalArgumentException](DggsConf("ISEA7H", 3, 0.0, 181.0, 0.0))
    intercept[IllegalArgumentException](DggsConf("ISEA7H", 3, 0.0, 0.0, 400.0))
    intercept[IllegalArgumentException](DggsConf("FULLER3H", 3).grid)
  }
  test("kernel support gate") {
    assert(DggsConf("ISEA7H", 5).kernelSupported)
    assert(DggsConf("IGEO7", 5).kernelSupported)
    assert(DggsConf("ISEA4T", 5).kernelSupported) // T4 kernel (round 2)
    assert(DggsConf("ISEA3H", 5).kernelSupported) // Isea3H kernel (round 8)
    assert(DggsConf("ISEA3H", 5).hexGrid3.capVerts == (0, 11))
    intercept[IllegalArgumentException](DggsConf("ISEA3H", 5).grid)
    intercept[IllegalArgumentException](DggsConf("ISEA7H", 5).hexGrid3)
    assert(DggsConf("ISEA4H", 5).kernelSupported) // Isea4H kernel (round 8)
    assert(DggsConf("ISEA4H", 5).hexGrid4.capVerts == (0, 11))
    intercept[IllegalArgumentException](DggsConf("ISEA4H", 5).hexGrid3)
    intercept[IllegalArgumentException](DggsConf("ISEA3H", 5).hexGrid4)
    // resolution selection by area / intercell distance (round 2; the
    // reference's own helpers raise `not yet implemented`): res-5 ISEA7H
    // cell area ≈ 3034 km², CLS ≈ 75.9 km
    assert(DggsConf.resolutionForCellArea(3500.0) == 5)
    assert(DggsConf.resolutionForCellArea(3034.0) == 6) // roundDown: ≤ target
    assert(DggsConf.resolutionForCellArea(3034.1, roundDown = false) == 5)
    // CLS(5) ≈ 62.2 km, CLS(6) ≈ 23.5 km
    assert(DggsConf.resolutionForIntercellDistance(63.0) == 5)
    assert(DggsConf.resolutionForIntercellDistance(62.0) == 6)
    assert(DggsConf("IGEO7", 5).grid.isInstanceOf[IGeo7])
  }
  test("preset kernels come from the per-JVM kernel cache") {
    import graft.spark.Grids
    assert(DggsConf("ISEA3H", 5).hexGrid3 eq Grids.isea3h)
    assert(DggsConf("ISEA4H", 5).hexGrid4 eq Grids.isea4h)
    assert(DggsConf("ISEA43H", 5).hexGridMixed(3) eq Grids.isea43h(3))
    assert(DggsConf("ISEA4T", 5).triangleGrid eq Grids.isea4t)
    assert(DggsConf("ISEA4D", 5).diamondGrid eq Grids.isea4d)
    assert(DggsConf("IGEO7", 5).grid eq Grids.default)
    intercept[IllegalArgumentException](DggsConf("ISEA43H", 5).hexGridMixed(21))
  }
}
