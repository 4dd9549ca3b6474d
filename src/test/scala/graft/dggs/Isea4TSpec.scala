package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** ISEA4T kernel properties. No DGGRID golden ids exist for ISEA4T in the
  * reference tests (ids are engine-canonical, documented in T4's
  * scaladoc); these properties pin the geometry instead: cell counts
  * 20·4^r, center→cell roundtrips, exact hierarchical nesting (unlike
  * hex apertures, triangle subdivision nests exactly), codec bijection.
  */
class Isea4TSpec extends AnyFunSuite {

  private val g = Grids.isea4t

  test("T4 codec: pack/unpack/string round-trips, parent/children") {
    val id = T4.pack(17, Seq(0, 3, 1, 2))
    assert(T4.face(id) == 17)
    assert(T4.resolution(id) == 4)
    assert(T4.digits(id) == Seq(0, 3, 1, 2))
    assert(T4.toT4String(id) == "170312")
    assert(T4.fromT4String("170312") == id)
    assert(T4.parent(id) == T4.pack(17, Seq(0, 3, 1)))
    assert(T4.ancestorAt(id, 2) == T4.pack(17, Seq(0, 3)))
    assert(T4.ancestorAt(id, 0) == T4.pack(17, Seq.empty))
    val kids = T4.children(id)
    assert(kids.size == 4 && kids.distinct.size == 4)
    assert(kids.forall(k => T4.parent(k) == id))
    assert(kids.map(T4.digit(_, 5)).sorted == Seq(0, 1, 2, 3))
  }

  test("T4 descendants count 4^d and stay in contiguous id ranges") {
    val p = T4.pack(3, Seq(2, 1))
    val ds = T4.descendants(p, 5)
    assert(ds.size == 64 && ds.distinct.size == 64)
    val (lo, hi) = T4.rangeAt(p, 5)
    assert(ds.forall(d => d >= lo && d <= hi))
    assert(ds.min == lo && ds.max == hi)
    // siblings' ranges are disjoint
    val ranges = T4.children(p).map(T4.rangeAt(_, 5)).sortBy(_._1)
    ranges.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1) }
  }

  test("whole-earth cell count is 20·4^r (r = 0..3)") {
    for (r <- 0 to 3) {
      val all = (0 to 19).flatMap(f => T4.descendants(T4.pack(f, Seq.empty), r))
      assert(all.size == 20 * math.pow(4, r).toLong)
      assert(all.distinct.size == all.size)
    }
  }

  test("center→cell round-trip for every res-3 cell and res-6 samples") {
    val all3 = (0 to 19).flatMap(f => T4.descendants(T4.pack(f, Seq.empty), 3))
    all3.foreach { id =>
      assert(g.cellForPoint(g.cellCenter(id), 3) == id, T4.toT4String(id))
    }
    // deeper spot checks on a deterministic sample
    val sample6 = (0 until 200).map { i =>
      T4.pack(i % 20, Seq(i % 4, (i / 4) % 4, (i / 16) % 4, (i * 7) % 4, (i * 3) % 4, (i * 11) % 4))
    }
    sample6.foreach { id =>
      assert(g.cellForPoint(g.cellCenter(id), 6) == id, T4.toT4String(id))
    }
  }

  test("exact hierarchical nesting: res-(r+1) assignment refines res-r") {
    val pts = (0 until 500).map { i =>
      GeoRad.fromDeg(-89.5 + (i * 179.0) / 499.0, -179.5 + (i * 7919 % 360) * 359.0 / 359.0 / 1.0)
    }
    pts.foreach { p =>
      val c5 = g.cellForPoint(p, 5)
      val c7 = g.cellForPoint(p, 7)
      assert(T4.ancestorAt(c7, 5) == c5)
    }
  }

  test("boundary: 3 corners; res-0 cell center is the face center") {
    val id = T4.pack(8, Seq.empty)
    assert(g.cellBoundary(id).size == 3)
    val c = g.cellCenter(id)
    val fc = g.ico.faceCenters(8)
    assert(distance(c, fc) < 1e-9)
    // res-0 corners are the icosahedron vertices of face 8
    val corners = g.cellBoundary(id)
    val verts = g.ico.faceVerts(8).map(g.ico.vertices(_))
    corners.foreach { cr =>
      assert(verts.exists(v => distance(cr, v) < 1e-9))
    }
  }

  test("T4 extent generation covers every cell of in-box points") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val box = (20.2, 57.0, 28.4, 60.0)
    val ext = graft.ops.GridOps.gridCellIdsForExtent(spark, 5, Some(box), Grids.isea4t)
      .as[Long].collect().toSet
    // margin pruning keeps a superset of cells intersecting the box —
    // in particular every cell that CONTAINS an in-box point
    val pts = for (i <- 0 until 200) yield GeoRad.fromDeg(
      57.0 + (i % 20) * 3.0 / 19.0, 20.2 + (i / 20) * 8.2 / 9.0)
    pts.foreach { p =>
      val c = g.cellForPoint(p, 5)
      assert(ext.contains(c), T4.toT4String(c))
    }
    assert(ext.size < 20 * 1024) // and it IS a pruned subset of the globe
  }

  test("densified boundaries: vertex count, corner preservation, on-edge points") {
    // T4: plane interpolation
    val t4id = T4.pack(7, Seq(2, 0, 1))
    val plain = g.cellBoundary(t4id)
    val dense = g.cellBoundaryDensified(t4id, 4)
    assert(dense.size == 3 * 5)
    (0 until 3).foreach(i => assert(distance(dense(i * 5), plain(i)) < 1e-12))
    // Z7 hex: chart interpolation — corners preserved, count 6·(n+1)
    val hg = new IGeo7()
    val hex = Z7.pack(3, Seq(1, 4, 2))
    val hPlain = hg.cellBoundary(hex)
    val hDense = hg.cellBoundaryDensified(hex, 3)
    assert(hDense.length == 6 * 4)
    (0 until 6).foreach(i => assert(distance(hDense(i * 4), hPlain(i)) < 1e-12))
    // every densified point lies close to the chord between its corners
    // (well under one cell diameter)
    for (i <- 0 until 6; k <- 1 to 3) {
      val p = hDense(i * 4 + k)
      val a = hPlain(i); val b = hPlain((i + 1) % 6)
      assert(distance(a, p) + distance(p, b) < distance(a, b) * 1.01)
    }
    // Z7 pentagon: geodesic path, 5·(n+1) vertices
    val pent = Z7.pack(4, Seq(0, 0))
    assert(Z7.isPentagon(pent))
    val pDense = hg.cellBoundaryDensified(pent, 2)
    assert(pDense.length == 5 * 3)
  }

  test("corner child keeps the parent vertex; boundary vertices shrink by half") {
    val parent = T4.pack(2, Seq(1))
    val pCorners = g.cellBoundary(parent)
    val child1 = T4.pack(2, Seq(1, 1)) // corner child at local vertex 0
    val cCorners = g.cellBoundary(child1)
    assert(distance(pCorners.head, cCorners.head) < 1e-12)
  }
}
