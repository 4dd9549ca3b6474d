package graft.dggs

import Sphere.GeoRad
import Lattice.{Eis, hexRound}

/** Geometry walkers shared by every hexagon kernel ([[HexKernel]] —
  * ISEA3H / ISEA4H / ISEA43H — and [[IGeo7]]): the nearest-center search
  * with cross-quad candidates near rhombus edges, and the chart→sphere
  * unfold. The kernels differ ONLY in lattice scaling, exposed as the
  * hooks below, so a seam fix lands once. The closed-rhombus fold is
  * HexKernel's own (IGeo7 resolves cells through its cut-edge digit walk
  * instead).
  */
private[dggs] trait HexWalkerCore {
  def quads: QuadLayout
  def latticeToChart(v: Eis, r: Int): (Double, Double)
  def chartToLattice(x: Double, y: Double, r: Int): (Double, Double)

  /** chart-fraction spacing of adjacent res-r centers (dr/s): the
    * cross-quad candidate margin unit in [[fixQV]]
    */
  protected def spacingFrac(r: Int): Double

  /** 1.5·spacingFrac(r), r = 0..20 (every hex lattice stops at res 20) */
  private lazy val margins: Array[Double] = Array.tabulate(21)(r => 1.5 * spacingFrac(r))

  /** nearest res-r cell center to a sphere point: hex Voronoi in the
    * point's quad chart, with cross-quad candidates near boundaries.
    */
  final def fixQV(p: GeoRad, r: Int): (Int, Eis) = {
    val (q0, x0, y0) = quads.sphereToQuad(p)
    val (fa, fb) = chartToLattice(x0, y0, r)
    val v0 = hexRound(fa, fb)
    val (u, w) = quads.rhombusUV(x0, y0)
    val margin = margins(r)
    if (u >= margin && w >= margin && u <= 1 - margin && w <= 1 - margin) return (q0, v0)
    val (cx, cy) = latticeToChart(v0, r)
    var bestQ = q0; var bestV = v0; var bestD = math.hypot(cx - x0, cy - y0)
    var i = 4 * q0
    while (i < 4 * q0 + 4) {
      val nx = quads.crossX(i, x0, y0); val ny = quads.crossY(i, x0, y0)
      val (na, nb) = chartToLattice(nx, ny, r)
      val nv = hexRound(na, nb)
      val (ncx, ncy) = latticeToChart(nv, r)
      val nd = math.hypot(ncx - nx, ncy - ny)
      val (ncu, ncv) = quads.rhombusUV(ncx, ncy)
      val in = ncu >= -1e-12 && ncu <= 1 + 1e-12 && ncv >= -1e-12 && ncv <= 1 + 1e-12
      if (in && nd < bestD - 1e-14) { bestQ = quads.nbrQuad(i); bestV = nv; bestD = nd }
      i += 1
    }
    (bestQ, bestV)
  }

  /** unfold an (possibly out-of-rhombus) chart point across quad edges
    * until it lies in a closed rhombus, then project to the sphere.
    */
  final def chartToSphere(quad: Int, x: Double, y: Double): GeoRad = {
    var q = quad; var px = x; var py = y
    var guard = 0
    while (guard < 12) {
      val (u, v) = quads.rhombusUV(px, py)
      if (u >= -1e-12 && u <= 1 + 1e-12 && v >= -1e-12 && v <= 1 + 1e-12)
        return quads.quadToSphere(q, px, py)
      val k =
        if (v < -1e-12) 0
        else if (u < -1e-12) 1
        else if (u > 1 + 1e-12) 2
        else 3
      val i = 4 * q + k
      val nx = quads.crossX(i, px, py); val ny = quads.crossY(i, px, py)
      q = quads.nbrQuad(i); px = nx; py = ny
      guard += 1
    }
    quads.quadToSphere(q, px, py)
  }
}
