package graft.dggs

import Sphere._

/** D4 cell-id codec for the aperture-4 diamond DGGS (ISEA4D — reference
  * preset at dggrid_runner.py:73; N(r) = 10·4^r). A diamond cell at
  * res r is a (2^r × 2^r) sub-rhombus of one of the 10 icosahedral
  * quads; digit k (MSB-first) = 2·bit_k(i) + bit_k(j), so children are
  * `cell + digit` and — like T4 — the hierarchy nests EXACTLY.
  * Engine-canonical ids (no DGGRID ISEA4D goldens exist in the
  * reference tests); string form: 2-digit quad (01..10) + digit chars.
  *
  * 64-bit layout mirrors T4: `(quad*32 + res) << 48 | digits`
  * (digits left-aligned, 2 bits each) — sibling subtrees are contiguous
  * ranges at any fixed resolution.
  */
object D4 extends Quat2Codec(1, 10, "quad") {
  def quad(id: Long): Int = baseOf(id)
  def toD4String(id: Long): String = toStr(id)
  def fromD4String(s: String): Long = fromStr(s)

  /** (i, j) grid coords within the quad at the cell's resolution:
    * digit k (MSB-first) = 2·bit_k(i) + bit_k(j)
    */
  def toIj(id: Long): (Long, Long) = {
    var i = 0L; var j = 0L
    val r = resolution(id)
    var k = 1
    while (k <= r) {
      val d = digit(id, k)
      i = (i << 1) | (d >> 1)
      j = (j << 1) | (d & 1)
      k += 1
    }
    (i, j)
  }

  def fromIj(quad: Int, i: Long, j: Long, res: Int): Long = {
    require(i >= 0 && i < (1L << res) && j >= 0 && j < (1L << res), s"($i,$j) at res $res")
    val ds = (1 to res).map { k =>
      val sh = res - k
      (((i >> sh) & 1L) << 1 | ((j >> sh) & 1L)).toInt
    }
    pack(quad, ds)
  }
}

/** ISEA4D geometry kernel: the 10 icosahedral quads (QuadLayout, shared
  * with IGeo7) subdivided 2^r × 2^r in rhombus (u,v) space — exact
  * binary arithmetic; centers/corners inverse-projected per quad chart.
  * Equal-area by construction: every res-r cell has area exactly
  * A_earth/(10·4^r).
  */
final class Isea4D(vert0LatDeg: Double = 58.28252559,
                   vert0LonDeg: Double = 11.25,
                   azimuthDeg: Double = 0.0) extends DggsKernel {

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  val spec: KernelSpec = KernelSpec("ISEA4D", 0, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "D4"
  def resolution(z: Long): Int = D4.resolution(z)
  def parent(z: Long): Long = D4.parent(z)
  def ancestorAt(z: Long, r: Int): Long = D4.ancestorAt(z, r)
  def ancestorKey(z: Long, r: Int): Long = D4.ancestorKey(z, r)
  def children(z: Long): Seq[Long] = D4.children(z)
  def descendants(z: Long, toRes: Int): Seq[Long] = D4.descendants(z, toRes)
  def toCellString(z: Long): String = D4.toD4String(z)
  def fromCellString(s: String): Long = D4.fromD4String(s)
  def slotBits: Int = 0
  def radixAt(level: Int): Int = 4
  def maxRes: Int = D4.MaxRes

  private def uvToChart(u: Double, v: Double): (Double, Double) =
    (u * quads.s + v * quads.Bx._1, v * quads.Bx._2)

  def cellForPoint(p: GeoRad, res: Int): Long = {
    val (q, x, y) = quads.sphereToQuad(p)
    val (u, v) = quads.rhombusUV(x, y)
    val n = 1L << res
    def clampIdx(t: Double): Long =
      math.max(0L, math.min(n - 1, math.floor(t * n).toLong))
    D4.fromIj(q, clampIdx(u), clampIdx(v), res)
  }

  def cellCenter(id: Long): GeoRad = {
    val (i, j) = D4.toIj(id)
    val n = (1L << D4.resolution(id)).toDouble
    val (x, y) = uvToChart((i + 0.5) / n, (j + 0.5) / n)
    quads.quadToSphere(D4.quad(id), x, y)
  }

  /** the 4 rhombus corners on the sphere (u-then-v winding) */
  def cellBoundary(id: Long): Array[GeoRad] = {
    val (i, j) = D4.toIj(id)
    val n = (1L << D4.resolution(id)).toDouble
    val q = D4.quad(id)
    Array((i / n, j / n), ((i + 1) / n, j / n), ((i + 1) / n, (j + 1) / n), (i / n, (j + 1) / n))
      .map { case (u, v) =>
        val (x, y) = uvToChart(u, v)
        quads.quadToSphere(q, x, y)
      }
  }
}
