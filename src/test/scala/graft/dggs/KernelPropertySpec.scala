package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** Randomized (seeded, reproducible) property blitz over the six
  * [[DggsKernel]]s and the codecs — complements the deterministic golden
  * suites with broad coverage of arbitrary points, resolutions, digit
  * paths.
  */
class KernelPropertySpec extends AnyFunSuite {

  private val hex = new IGeo7()
  private val tri = Grids.isea4t
  private val dia = Grids.isea4d
  private val N = 300
  private val kernels: Seq[DggsKernel] = Seq(Grids.default, Grids.isea3h, Grids.isea4h,
    Grids.isea43h(3), Grids.isea4t, Grids.isea4d)

  private def cases(seed: Long): Seq[(Double, Double, Int)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(N)((rnd.nextDouble() * 359.998 - 179.999,
      rnd.nextDouble() * 179.998 - 89.999, 1 + rnd.nextInt(8)))
  }

  test("all kernels: ancestor-consistent point assignment + string round trip") {
    // the string form is a 2-digit base plus one char per digit, so an
    // ancestor's string is the cell's string cut after its digits
    for (kern <- kernels) cases(1).foreach { case (lon, lat, r) =>
      val z = kern.cellForPoint(GeoRad.fromDeg(lat, lon), r)
      val name = kern.toCellString(z)
      val label = s"${kern.spec.kind} $name"
      assert(kern.resolution(z) == r, label)
      assert(kern.fromCellString(name) == z, label)
      (0 until r).foreach { k =>
        val a = kern.ancestorAt(z, k)
        assert(kern.resolution(a) == k, label)
        assert(kern.toCellString(a) == name.take(2 + k), label)
      }
      assert(kern.parent(z) == kern.ancestorAt(z, r - 1), label)
      assert(kern.children(kern.parent(z)).contains(z), label)
    }
  }

  test("a kernel serializes as its spec and resolves to the cached instance") {
    for (kern <- kernels :+ new Isea43H(2)) {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(kern)
      out.close()
      assert(bytes.size < 1000, s"${kern.spec}: ${bytes.size} bytes")
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      assert(back eq DggsKernel(kern.spec), kern.spec)
    }
  }

  test("Z7 disk: sizes, ring containment, reciprocity (random cells + pentagons)") {
    val pentaCells = (0 to 11).map(b => Z7.pack(b, Seq.fill(3)(0)))
    val randCells = cases(7).map { case (lon, lat, r0) =>
      hex.cellForPoint(GeoRad.fromDeg(lat, lon), math.min(r0, 5))
    }.distinct.take(60)
    (pentaCells ++ randCells).foreach { z =>
      val d1 = hex.disk(z, 1)
      val d2 = hex.disk(z, 2)
      assert(d1.contains(z) && d2.contains(z))
      // disk1 = cell + ring1; hexagons have 6 neighbours, pentagons 5
      val expect1 = if (Z7.isPentagon(z)) 6 else 7
      assert(d1.length == expect1, Z7.toCellString(z))
      assert(d1.toSet.subsetOf(d2.toSet))
      // interior hexagons: 1 + 6 + 12 = 19; pentagon-adjacent regions
      // shrink by the fan cells, never grow
      assert(d2.length <= 19 && d2.length >= 16, s"${Z7.toCellString(z)}: ${d2.length}")
      // reciprocity of the k-disk relation (symmetric adjacency)
      for (w <- d2)
        assert(hex.disk(w, 2).contains(z),
          s"${Z7.toCellString(z)} in disk2(${Z7.toCellString(w)})")
    }
  }

  test("Z7: cell center re-assigns to the same cell (random points/res)") {
    cases(2).foreach { case (lon, lat, r0) =>
      val r = math.min(r0, 6)
      val z = hex.cellForPoint(GeoRad.fromDeg(lat, lon), r)
      assert(hex.cellForPoint(hex.cellCenter(z), r) == z, Z7.toCellString(z))
    }
  }

  test("Z7 codec: string/int round trip + range containment, random paths") {
    val rnd = new scala.util.Random(3)
    (0 until N).foreach { _ =>
      val base = rnd.nextInt(12)
      val r = rnd.nextInt(16)
      val digits = Seq.fill(r)(rnd.nextInt(7))
      val z = Z7.pack(base, digits)
      assert(Z7.fromCellString(Z7.toCellString(z)) == z)
      assert(Z7.rangeMin(z) <= z && z <= Z7.rangeMax(z))
    }
  }

  test("T4/D4: exact nesting + codec round trips for random points") {
    val rnd = new scala.util.Random(4)
    (0 until N).foreach { _ =>
      val lon = rnd.nextDouble() * 359.998 - 179.999
      val lat = rnd.nextDouble() * 179.998 - 89.999
      val r = 2 + rnd.nextInt(9)
      val p = GeoRad.fromDeg(lat, lon)
      val t = tri.cellForPoint(p, r)
      val d = dia.cellForPoint(p, r)
      assert(T4.fromT4String(T4.toT4String(t)) == t)
      assert(D4.fromD4String(D4.toD4String(d)) == d)
      assert(T4.ancestorAt(t, r - 1) == tri.cellForPoint(p, r - 1))
      assert(D4.ancestorAt(d, r - 1) == dia.cellForPoint(p, r - 1))
      val (i, j) = D4.toIj(d)
      assert(D4.fromIj(D4.quad(d), i, j, r) == d)
    }
  }

  test("addr frames: Q2DD/PROJTRI/PLANE round trip for random cells") {
    cases(5).foreach { case (lon, lat, r0) =>
      val r = math.min(r0, 5)
      val z = hex.cellForPoint(GeoRad.fromDeg(lat, lon), r)
      val (q, x, y) = Addr.z7ToQ2dd(hex, z)
      assert(Addr.q2ddToZ7(hex, q, x, y, r) == z)
      val (t, px, py) = Addr.z7ToProjtri(hex, z)
      assert(Addr.projtriToZ7(hex, t, px, py, r) == z)
      val (gx, gy) = Addr.z7ToPlane(hex, z)
      assert(Addr.planeToZ7(hex, gx, gy, r) == z)
    }
  }

  test("seqnum: bijective for random cells at their own resolution") {
    cases(6).foreach { case (lon, lat, r) =>
      val z = hex.cellForPoint(GeoRad.fromDeg(lat, lon), r)
      val n = graft.spark.Seqnum.toSeqnum(z)
      assert(n >= 1 && n <= 10L * graft.spark.Seqnum.pow7(r) + 2)
      assert(graft.spark.Seqnum.toZ7(n, r) == z)
    }
  }
}
