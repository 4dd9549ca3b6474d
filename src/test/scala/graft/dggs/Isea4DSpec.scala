package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** ISEA4D kernel properties (engine-canonical ids — no reference
  * goldens): 10·4^r counts, center→cell roundtrips, exact nesting,
  * (i,j) codec bijection, corner geometry.
  */
class Isea4DSpec extends AnyFunSuite {

  private val g = Grids.isea4d

  test("D4 codec: pack/digits/ij/string round-trips, parent/children") {
    val id = D4.pack(7, Seq(3, 0, 2, 1))
    assert(D4.quad(id) == 7 && D4.resolution(id) == 4)
    assert(D4.toD4String(id) == "073021")
    assert(D4.fromD4String("073021") == id)
    val (i, j) = D4.toIj(id)
    assert(D4.fromIj(7, i, j, 4) == id)
    assert(D4.parent(id) == D4.pack(7, Seq(3, 0, 2)))
    val kids = D4.children(id)
    assert(kids.size == 4 && kids.forall(k => D4.parent(k) == id))
  }

  test("whole-earth cell count is 10·4^r and ids are unique (r = 0..3)") {
    for (r <- 0 to 3) {
      val all = (1 to 10).flatMap(q => D4.descendants(D4.pack(q, Seq.empty), r))
      assert(all.size == 10 * math.pow(4, r).toLong)
      assert(all.distinct.size == all.size)
    }
  }

  test("center→cell round-trip for every res-3 cell and res-7 samples") {
    val all3 = (1 to 10).flatMap(q => D4.descendants(D4.pack(q, Seq.empty), 3))
    all3.foreach { id =>
      assert(g.cellForPoint(g.cellCenter(id), 3) == id, D4.toD4String(id))
    }
    val sample7 = (0 until 300).map { i =>
      D4.fromIj(1 + i % 10, (i * 37) % 128, (i * 53) % 128, 7)
    }
    sample7.foreach { id =>
      assert(g.cellForPoint(g.cellCenter(id), 7) == id, D4.toD4String(id))
    }
  }

  test("exact hierarchical nesting: res-(r+1) assignment refines res-r") {
    val pts = (0 until 400).map { i =>
      GeoRad.fromDeg(-88.0 + (i * 176.0) / 399.0, ((i * 7919) % 3600) / 10.0 - 180.0)
    }
    pts.foreach { p =>
      val c4 = g.cellForPoint(p, 4)
      val c6 = g.cellForPoint(p, 6)
      assert(D4.ancestorAt(c6, 4) == c4)
    }
  }

  test("res-0 boundary corners are the quad's icosahedron vertices") {
    for (q <- 1 to 10) {
      val corners = g.cellBoundary(D4.pack(q, Seq.empty))
      assert(corners.size == 4)
      corners.foreach { c =>
        assert(g.ico.vertices.exists(v => distance(c, v) < 1e-9))
      }
    }
  }
}
