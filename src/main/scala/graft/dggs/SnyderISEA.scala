package graft.dggs

import Sphere._
import Lattice.Sqrt3Over2

/** Snyder's 1992 equal-area projection for the icosahedron (ISEA),
  * implemented from the published equations ("An Equal-Area Map
  * Projection For Polyhedral Globes", Cartographica 29(1)). The
  * reference computes this inside the external DGGRID binary
  * (dggrid_runner.py:738-794); here it is pure Scala.
  *
  * All lengths are on the unit sphere (R = 1); callers scale as needed.
  * Face-local plane frame: origin at the face center, the face's
  * reference vertex at plane azimuth 0 = +y axis, azimuth clockwise
  * (x = ρ sin α, y = ρ cos α) — orientation-preserving vs the spherical
  * azimuth convention.
  *
  * All constants are derived, not hardcoded:
  *   g  = center→vertex arc, G = 36° (half the 72° vertex angle),
  *   θ  = 30° (plane angle center-vertex-to-edge),
  *   rc = plane center→vertex distance with exact equal-area tiling:
  *        (3√3/4)·rc² = π/5  (20 plane faces tile the 4π sphere)
  *   R′ = rc / tan g.
  *
  * The forward runs in vector form: every point → cell call of every
  * kernel goes through it, so it computes each quantity once and keeps
  * the slow transcendental functions off the path. Per face it holds an
  * orthonormal frame: the center c, the unit tangent u0 toward the
  * reference vertex (plane +y) and u1 = u0 × c (plane +x). For the
  * point's unit vector p:
  *   - the only angle computed is the spherical excess ag, with one
  *     atan2. The azimuth Az is kept as its cosine and sine, the
  *     normalised tangent components (p·u0, p·u1); its 120° sector
  *     comes from their signs; Az_F (Az reduced to the sector), the
  *     Snyder azimuth Az′ and the plane angle α come from rotating by
  *     multiples of 120° and normalising — no sin/cos call;
  *   - eq. 6's H = acos(K) never becomes an angle either: e^{iH} =
  *     K + i·√(1−K²) is multiplied into the excess's atan2. On JDK 17,
  *     acos (~300 ns) and atan2 (~50 ns, a native call) cost far more
  *     than sin/cos (~15 ns) or sqrt;
  *   - sin(z/2) is half the chord |p − c|; sin(q/2) and the face
  *     containment test come from cos q, q = the edge distance at Az_F.
  * The face choice is the scalar test z − q ≤ 1e-12 of [[forwardSlow]]
  * whenever the vector test is not clear by a wide margin, so cell ids
  * do not depend on the rounding of the vector form.
  *
  * [[inverse]] keeps the scalar form, acos included: its outputs feed
  * cell centers and boundaries that are floored to µdeg in frozen
  * oracle values, and rounding H differently moved boundary
  * coordinates by up to 3.6e-11 rad in a trial, enough to flip one.
  */
final class SnyderISEA(val ico: Icosahedron) {

  import SnyderISEA._

  val g: Double = distance(ico.faceCenters(0), ico.vertices(ico.faceVerts(0)(0)))
  val tanG: Double = math.tan(g)
  val cosG36: Double = math.cos(G)
  val sinG36: Double = math.sin(G)
  val cosg: Double = math.cos(g)
  /** plane center→vertex distance for equal-area tiling */
  val rc: Double = math.sqrt(4.0 * math.Pi / (15.0 * math.sqrt(3.0)))
  val Rprime: Double = rc / tanG
  private val rc2 = rc * rc
  private val tanG2 = tanG * tanG
  private val sinG36cosg = sinG36 * cosg

  /** per-face frame, 9 doubles per face: c, u0 (toward the reference
    * vertex), u1 = u0 × c
    */
  private val frames: Array[Double] = {
    val a = new Array[Double](20 * 9)
    for (f <- 0 until 20) {
      val c = ico.faceCenterVecs(f)
      val v = toVec(ico.vertices(ico.faceVerts(f)(0)))
      val u0 = (v - c * v.dot(c)).normalized
      val u1 = u0.cross(c)
      Array(c.x, c.y, c.z, u0.x, u0.y, u0.z, u1.x, u1.y, u1.z).copyToArray(a, 9 * f)
    }
    a
  }

  /** Plane point on a face, face-local frame. */
  final case class FacePoint(face: Int, x: Double, y: Double)

  /** Spherical edge distance from face center at spherical azimuth az
    * (az relative to the reference vertex).
    */
  @inline private def edgeDist(az: Double): Double =
    math.atan2(tanG, math.cos(az) + math.sin(az) * CotTheta)

  /** Forward: point → (face, x, y). The nearest face center's face
    * holds the point unless it lies on a face edge; points within a
    * hair of an edge go to [[forwardSlow]]. A pole is projected with
    * lon = 0, so each pole has one image whatever its input longitude.
    */
  def forward(p0: GeoRad): FacePoint = {
    val p = if (math.abs(p0.lat) >= HalfPi) GeoRad(p0.lat, 0.0) else p0
    val cl = math.cos(p.lat)
    val px = cl * math.cos(p.lon); val py = cl * math.sin(p.lon); val pz = math.sin(p.lat)
    val fr = frames
    var f0 = 0; var bestDot = fr(0) * px + fr(1) * py + fr(2) * pz
    var f = 1
    while (f < 20) {
      val o = 9 * f
      val d = fr(o) * px + fr(o + 1) * py + fr(o + 2) * pz
      if (d > bestDot) { bestDot = d; f0 = f }
      f += 1
    }
    val fp = onFace(f0, px, py, pz, clearOnly = true)
    if (fp != null) fp else forwardSlow(p)
  }

  /** Face-edge fallback: try all faces nearest-first with the scalar
    * containment test z − q ≤ 1e-12, else take the least-violated face.
    */
  private def forwardSlow(p: GeoRad): FacePoint = {
    val order = ico.facesByCloseness(p)
    def slack(f: Int): Double = {
      val z = distance(ico.faceCenters(f), p)
      var az = azimuth(ico.faceCenters(f), p) - ico.faceAz0(f)
      while (az < 0) az += TwoPi
      while (az >= TwoPi) az -= TwoPi
      z - edgeDist(az - math.floor(az / Deg120) * Deg120)
    }
    val f = order.find(f => distance(ico.faceCenters(f), p) < g + 1e-9 && slack(f) <= 1e-12)
      .getOrElse(order.minBy(slack)) // numeric boundary: the face with minimal slack
    val v = toVec(p)
    onFace(f, v.x, v.y, v.z, clearOnly = false)
  }

  /** Snyder forward equations 5-9 on face f for the unit vector p. With
    * `clearOnly`, returns null unless p is inside the face with a margin
    * far above rounding: cos z ≥ cos q − 1e-13, i.e. z ≤ q + 3e-13
    * (sin q ≥ 0.35 on the face), which the scalar test also accepts.
    */
  private def onFace(f: Int, px: Double, py: Double, pz: Double, clearOnly: Boolean): FacePoint = {
    val fr = frames; val o = 9 * f
    val dx = px - fr(o); val dy = py - fr(o + 1); val dz = pz - fr(o + 2)
    val sinHalfZ = 0.5 * math.sqrt(dx * dx + dy * dy + dz * dz)
    val a = px * fr(o + 3) + py * fr(o + 4) + pz * fr(o + 5)
    val b = px * fr(o + 6) + py * fr(o + 7) + pz * fr(o + 8)
    val h = math.sqrt(a * a + b * b) // sin z
    if (h < 1e-15) return FacePoint(f, 0.0, 0.0) // the face center
    // rot = the 120° sector of Az: sin Az ≥ 0 > sin(Az − 120°) → 0,
    // sin(Az − 120°) ≥ 0 > sin(Az − 240°) → 1, else 2
    val s1 = -0.5 * b - Sqrt3Over2 * a
    val rot = if (b >= 0 && s1 < 0) 0 else if (s1 >= 0 && Sqrt3Over2 * a - 0.5 * b < 0) 1 else 2
    // (cos, sin) of Az_F = Az − rot·120°
    val cr = RotCos(rot); val sr = RotSin(rot)
    val cosF = (a * cr + b * sr) / h
    val sinF = (b * cr - a * sr) / h
    // q = edgeDist(Az_F) = atan2(tan g, D)
    val dq = cosF + sinF * CotTheta
    val cosQ = dq / math.sqrt(dq * dq + tanG2)
    if (clearOnly && px * fr(o) + py * fr(o + 1) + pz * fr(o + 2) < cosQ - 1e-13) return null
    // eq 6: H = acos(K); the excess ag = Az_F + H − (π − G) is the
    // argument of e^{i·Az_F} · (K + i·sin H) · e^{−i(π − G)}
    val k = sinF * sinG36cosg - cosF * cosG36
    val sinH = math.sqrt(1.0 - k * k)
    val x1 = cosF * k - sinF * sinH; val y1 = sinF * k + cosF * sinH
    val ag = math.atan2(-x1 * sinG36 - y1 * cosG36, y1 * sinG36 - x1 * cosG36)
    // Az' = atan2(2·ag, rc² − 2·ag·cot θ), kept as its sine and cosine
    val t1 = 2.0 * ag; val t2 = rc2 - 2.0 * ag * CotTheta
    val tn = math.sqrt(t1 * t1 + t2 * t2)
    val sinP = t1 / tn; val cosP = t2 / tn
    val dP = Rprime * tanG / (cosP + sinP * CotTheta)
    val sinHalfQ = math.sqrt(0.5 * (1.0 - cosQ))
    val rho = dP * sinHalfZ / sinHalfQ
    // α = Az' + rot·120°
    val sinA = sinP * cr + cosP * sr
    val cosA = cosP * cr - sinP * sr
    FacePoint(f, rho * sinA, rho * cosA)
  }

  /** Inverse: (face, x, y) → sphere. Newton iteration on Az
    * (Snyder's eq 19-21 reversal).
    */
  def inverse(fp: FacePoint): GeoRad = {
    val rho = math.hypot(fp.x, fp.y)
    if (rho < 1e-15) return ico.faceCenters(fp.face)
    var alpha = math.atan2(fp.x, fp.y) // clockwise from +y
    while (alpha < 0) alpha += TwoPi
    val rot = math.floor(alpha / Deg120).toInt
    val azP = alpha - rot * Deg120
    // AG from eq 7 inverted: AG = rc² / (2 (cot Az' + cot θ)); Az'=0 → 0
    val ag =
      if (azP < 1e-15) 0.0
      else rc2 / (2.0 * (1.0 / math.tan(azP) + CotTheta))
    // solve Az: F(Az) = Az + G + H(Az) - π - AG = 0
    var az = azP
    var it = 0
    while (it < 50) {
      val sinAz = math.sin(az); val cosAz = math.cos(az)
      val cosH = sinAz * sinG36 * cosg - cosAz * cosG36
      val h = math.acos(math.max(-1.0, math.min(1.0, cosH)))
      val fv = az + G + h - math.Pi - ag
      val sinH = math.sin(h)
      val dH = if (sinH < 1e-14) 0.0
        else -(cosAz * sinG36 * cosg + sinAz * cosG36) / sinH
      val deriv = 1.0 + dH
      val step = if (math.abs(deriv) < 1e-14) fv else fv / deriv
      az -= step
      it += 1
      if (math.abs(step) < 1e-15) it = 50
    }
    val q = edgeDist(az)
    val dP = Rprime * tanG / (math.cos(azP) + math.sin(azP) * CotTheta)
    val fScale = dP / (2.0 * Rprime * math.sin(q / 2.0))
    val z = 2.0 * math.asin(math.max(-1.0, math.min(1.0, rho / (2.0 * Rprime * fScale))))
    val sphAz = ico.faceAz0(fp.face) + az + rot * Deg120
    destination(ico.faceCenters(fp.face), sphAz, z)
  }
}

object SnyderISEA {
  val G: Double = math.Pi / 5.0 // 36°: half the 72° spherical vertex angle
  val Theta: Double = math.Pi / 6.0 // 30°
  val CotTheta: Double = 1.0 / math.tan(Theta) // √3
  val Deg120: Double = 2.0 * math.Pi / 3.0
  val TwoPi: Double = 2.0 * math.Pi
  val HalfPi: Double = math.Pi / 2.0
  /** cos/sin of rot·120°, rot = 0, 1, 2 */
  private val RotCos: Array[Double] = Array(1.0, -0.5, -0.5)
  private val RotSin: Array[Double] = Array(0.0, Sqrt3Over2, -Sqrt3Over2)
}
