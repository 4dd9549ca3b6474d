package graft.dggs

import Sphere.GeoRad
import Lattice.{Eis, hexRound}

/** Geometry walkers shared by the three hexagon kernels (Isea3H /
  * Isea4H / Isea43H): nearest-center search with cross-quad candidates
  * near rhombus edges, closed-rhombus folding, and chart→sphere
  * unfolding. The three kernels differ ONLY in lattice scaling, exposed
  * as the hooks below — extracted per the round-8 review so a seam or
  * fold fix lands once instead of being hand-replicated in three files
  * (the copies had already begun to drift in spelling: `pow(3, r/2.0)`
  * vs the exact `sqrt(norm(F_r))` — the same value, written twice).
  *
  * All bodies are ALGEBRAICALLY identical to the pre-extraction code
  * (the margin `1.5·dr/s` became `1.5·spacingFrac(r)` — the s cancels;
  * up to 1 ulp of threshold drift on a 1.5×-headroom candidate gate,
  * which cannot change an assignment); the kernels' Fix wrappers call
  * these and re-wrap, so ids, fixtures, and goldens are bit-identical
  * (pinned by the pure-equivalence specs: Isea43H at n4=0 reproduces
  * Isea3H digit-for-digit, n4≥res reproduces Isea4H id-for-id — and
  * for IGeo7, by the 551-cell DGGRID goldens).
  *
  * [[HexWalkerCore]] carries the two walkers every hex kernel shares
  * (nearest-center search, chart→sphere unfold) — IGeo7 mixes this in;
  * [[HexWalker]] adds the closed-rhombus folding the three
  * residue-hierarchy kernels use (IGeo7 resolves cells through its own
  * cut-edge digit walk instead).
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

/** [[HexWalkerCore]] + the closed-rhombus folding used by the three
  * residue-hierarchy hexagon kernels (Isea3H / Isea4H / Isea43H).
  */
private[dggs] trait HexWalker extends HexWalkerCore {

  /** rhombus lattice denominator n at res r — the closed-rhombus
    * membership test is 0 ≤ i,j ≤ n
    */
  protected def rhombusDenom(r: Int): Long

  /** (i, j) of a lattice rep in its chart at res r */
  protected def ijOfAt(v: Eis, r: Int): (Long, Long)

  /** fold a (quad, rep) across quad edges until its rep lies in the
    * CLOSED rhombus of its chart (exact isometries re-rounded to the
    * lattice).
    */
  final def foldQV(quad: Int, rep: Eis, res: Int): (Int, Eis) = {
    var q = quad; var v = rep
    var guard = 0
    while (guard < 12) {
      val (i, j) = ijOfAt(v, res)
      val n = rhombusDenom(res)
      if (i >= 0 && i <= n && j >= 0 && j <= n) return (q, v)
      val k =
        if (j < 0) 0      // below O-A
        else if (i < 0) 1 // left of O-B
        else if (i > n) 2 // beyond A-C
        else 3            // beyond B-C
      val ei = 4 * q + k
      val (x, y) = latticeToChart(v, res)
      val (na, nb) = chartToLattice(quads.crossX(ei, x, y), quads.crossY(ei, x, y), res)
      v = hexRound(na, nb)
      q = quads.nbrQuad(ei)
      guard += 1
    }
    throw new IllegalStateException(
      s"foldQV did not converge for quad=$quad rep=$rep res=$res")
  }

  /** re-express a rhombus-boundary rep in the chart of quad `toQ`
    * (which shares the boundary edge).
    */
  private[dggs] final def foldQVToQuad(quad: Int, rep: Eis, res: Int,
                                       toQ: Int, edge: (Int, Int)): (Int, Eis) = {
    val ei = 4 * quad + quads.edgeIndex(quad, edge)
    require(quads.nbrQuad(ei) == toQ, s"edge $edge of quad $quad leads to ${quads.nbrQuad(ei)}, not $toQ")
    val (x, y) = latticeToChart(rep, res)
    val (na, nb) = chartToLattice(quads.crossX(ei, x, y), quads.crossY(ei, x, y), res)
    (toQ, hexRound(na, nb))
  }
}
