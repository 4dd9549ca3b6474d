package graft.dggs

import Sphere._

/** T4 cell-id codec for the aperture-4 triangle DGGS (ISEA4T — the
  * reference preset at dggrid_runner.py:73; topology/aperture parsing at
  * dggrid_runner.py:414-427). Engine-canonical hierarchical ids (DGGRID
  * publishes no golden ISEA4T ids in the reference tests, so — like
  * SEQNUM — the digit convention is ours, documented, and exercised by
  * property tests).
  *
  * Cell = icosahedron face 0..19 + one base-4 digit per resolution:
  * digit 0 = central (inverted) child, digits 1/2/3 = the corner child at
  * the triangle's local vertex 0/1/2. Children of any cell are exactly
  * `cell + digit` — descendants enumerate as digit strings (the SQL
  * oracle reproduces this by cross-joining digits).
  *
  * 64-bit layout: `(face*32 + res) << 48 | digits`, digits left-aligned
  * two bits each (digit i of 1..res at bits 48-2i+1 .. 48-2i) — ids at
  * one resolution sort in (face, digit-path) order, so sibling subtrees
  * are contiguous ranges like Z7.
  *
  * String form: 2-digit face + digit chars ("05", "05231", …).
  */
object T4 extends Quat2Codec(0, 19, "face") {
  def face(id: Long): Int = baseOf(id)
  def toT4String(id: Long): String = toStr(id)
  def fromT4String(s: String): Long = fromStr(s)
}

/** ISEA4T geometry kernel: Snyder ISEA projection (shared with IGeo7) +
  * exact dyadic barycentric subdivision of each face's plane triangle.
  * The face image under Snyder is an equilateral plane triangle with
  * vertices at plane azimuths 0°/120°/240° and circumradius rc, so every
  * cell is an exact plane triangle; cell corners/centers are
  * inverse-projected to the sphere. Equal-area by construction: every
  * res-r cell has area exactly A_earth/(20·4^r).
  */
final class Isea4T(vert0LatDeg: Double = 58.28252559,
                   vert0LonDeg: Double = 11.25,
                   azimuthDeg: Double = 0.0) extends DggsKernel {

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  private val rc = snyder.rc

  val spec: KernelSpec = KernelSpec("ISEA4T", 0, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "T4"
  def resolution(z: Long): Int = T4.resolution(z)
  def parent(z: Long): Long = T4.parent(z)
  def ancestorAt(z: Long, r: Int): Long = T4.ancestorAt(z, r)
  def ancestorKey(z: Long, r: Int): Long = T4.ancestorKey(z, r)
  def children(z: Long): Seq[Long] = T4.children(z)
  def descendants(z: Long, toRes: Int): Seq[Long] = T4.descendants(z, toRes)
  def toCellString(z: Long): String = T4.toT4String(z)
  def fromCellString(s: String): Long = T4.fromT4String(s)
  def slotBits: Int = 0
  def radixAt(level: Int): Int = 4
  def maxRes: Int = T4.MaxRes

  // face triangle corners in the face-local plane (azimuth clockwise
  // from +y; x = ρ sin α, y = ρ cos α)
  private val s120 = math.sin(2.0 * math.Pi / 3.0)
  private val c120 = math.cos(2.0 * math.Pi / 3.0)
  private val T0x = 0.0; private val T0y = rc
  private val T1x = rc * s120; private val T1y = rc * c120
  private val T2x = -rc * s120; private val T2y = rc * c120

  /** barycentric coordinates of (x,y) w.r.t. the face triangle */
  private def faceBary(x: Double, y: Double): (Double, Double, Double) = {
    val det = (T1y - T2y) * (T0x - T2x) + (T2x - T1x) * (T0y - T2y)
    val a = ((T1y - T2y) * (x - T2x) + (T2x - T1x) * (y - T2y)) / det
    val b = ((T2y - T0y) * (x - T2x) + (T0x - T2x) * (y - T2y)) / det
    (a, b, 1.0 - a - b)
  }

  /** point → T4 cell at `res` */
  def cellForPoint(p: GeoRad, res: Int): Long = {
    val fp = snyder.forward(p)
    var (a, b, c) = faceBary(fp.x, fp.y)
    val digits = new Array[Int](res)
    var i = 0
    while (i < res) {
      if (a >= 0.5) { digits(i) = 1; a = 2 * a - 1; b = 2 * b; c = 2 * c }
      else if (b >= 0.5) { digits(i) = 2; a = 2 * a; b = 2 * b - 1; c = 2 * c }
      else if (c >= 0.5) { digits(i) = 3; a = 2 * a; b = 2 * b; c = 2 * c - 1 }
      else { digits(i) = 0; a = 1 - 2 * a; b = 1 - 2 * b; c = 1 - 2 * c }
      i += 1
    }
    T4.pack(fp.face, digits.toSeq)
  }

  /** the cell's plane triangle corners (local vertex order 0,1,2) */
  private def planeCorners(id: Long): Array[(Double, Double)] = {
    var p0 = (T0x, T0y); var p1 = (T1x, T1y); var p2 = (T2x, T2y)
    @inline def mid(u: (Double, Double), v: (Double, Double)) =
      ((u._1 + v._1) / 2, (u._2 + v._2) / 2)
    val r = T4.resolution(id)
    var i = 1
    while (i <= r) {
      val m01 = mid(p0, p1); val m12 = mid(p1, p2); val m20 = mid(p2, p0)
      T4.digit(id, i) match {
        case 1 => p1 = m01; p2 = m20
        case 2 => p0 = m01; p2 = m12
        case 3 => p0 = m20; p1 = m12
        case 0 => p0 = m12; p1 = m20; p2 = m01 // inverted center child
      }
      i += 1
    }
    Array(p0, p1, p2)
  }

  def cellCenter(id: Long): GeoRad = {
    val cs = planeCorners(id)
    val cx = (cs(0)._1 + cs(1)._1 + cs(2)._1) / 3.0
    val cy = (cs(0)._2 + cs(1)._2 + cs(2)._2) / 3.0
    snyder.inverse(snyder.FacePoint(T4.face(id), cx, cy))
  }

  /** cell boundary: the 3 triangle corners on the sphere */
  def cellBoundary(id: Long): Array[GeoRad] = {
    val f = T4.face(id)
    planeCorners(id).map { case (x, y) =>
      snyder.inverse(snyder.FacePoint(f, x, y))
    }
  }

  /** boundary with `densify` extra vertices per edge, interpolated in
    * the face plane (projection-space densification like DGGRID's
    * `densification` param — dggrid_runner.py:295)
    */
  def cellBoundaryDensified(id: Long, densify: Int): Seq[GeoRad] = {
    if (densify <= 0) return cellBoundary(id).toSeq
    val f = T4.face(id)
    val cs = planeCorners(id)
    val out = scala.collection.mutable.ArrayBuffer[GeoRad]()
    for (i <- 0 until 3) {
      val (ax, ay) = cs(i)
      val (bx, by) = cs((i + 1) % 3)
      out += snyder.inverse(snyder.FacePoint(f, ax, ay))
      for (k <- 1 to densify) {
        val t = k.toDouble / (densify + 1)
        out += snyder.inverse(snyder.FacePoint(f, ax + (bx - ax) * t, ay + (by - ay) * t))
      }
    }
    out.toSeq
  }
}
