package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** Pins point→cell assignment of all six kernels: a hash of
  * `cellForPoint` over a fixed point set, per kernel and resolution.
  * The expected hashes were recorded before the forward projection was
  * rewritten into its vector form, so any id the rewrite changes shows
  * up here.
  *
  * The hashed point set (poles excluded — see the pole test below):
  *   - uniform on the sphere (seeded),
  *   - a 1.5° lat/lon lattice offset from the integer degrees,
  *   - every integer-degree point,
  *   - the 12 icosahedron vertices, and points 1e-12 rad to either side
  *     of the 30 icosahedron edges: these exercise the face-edge
  *     fallback.
  * Points exactly on an edge are not hashed: on ISEA3H's odd
  * resolutions a face edge is a cell boundary, so which of the two
  * cells such a point gets is decided by rounding. They are checked to
  * get the cell of one of their two 1e-12 neighbours instead.
  */
class ForwardPinSpec extends AnyFunSuite {

  private val kernels: Seq[DggsKernel] = Seq(Grids.default, Grids.isea3h, Grids.isea4h,
    Grids.isea43h(3), Grids.isea4t, Grids.isea4d)
  private val resolutions = Seq(0, 3, 6, 9, 12, 15)

  /** per edge sample: the point 1e-12 to one side, on the edge, and
    * 1e-12 to the other side
    */
  private val edgeTriples: Array[Array[GeoRad]] = {
    val ico = Grids.default.ico
    val vs = ico.vertices.map(toVec)
    (for {
      a <- 0 until 12; b <- a + 1 until 12
      if math.abs(math.acos(vs(a).dot(vs(b))) - ico.edgeArc) < 1e-9
      n = vs(a).cross(vs(b)).normalized
      k <- 0 until 200
    } yield {
      val t = (k + 0.37) / 200.0
      val e = (vs(a) * (1 - t) + vs(b) * t).normalized
      Array(-1e-12, 0.0, 1e-12).map(off => toGeo(e + n * off))
    }).toArray
  }

  private val points: Array[GeoRad] = {
    val out = Array.newBuilder[GeoRad]
    val rnd = new scala.util.Random(20260517L)
    for (_ <- 0 until 40000) {
      val lat = math.asin(2.0 * rnd.nextDouble() - 1.0)
      out += GeoRad(lat, math.Pi * (2.0 * rnd.nextDouble() - 1.0))
    }
    for (i <- 0 until 120; j <- 0 until 240)
      out += GeoRad.fromDeg(-89.25 + 1.5 * i, -179.4 + 1.5 * j)
    for (lat <- -89 to 89; lon <- -180 to 179) out += GeoRad.fromDeg(lat, lon)
    Grids.default.ico.vertices.foreach(v => out += toGeo(toVec(v)))
    edgeTriples.foreach { tr => out += tr(0); out += tr(2) }
    out.result()
  }

  /** MurmurHash3's 64-bit finalizer: spreads the high id bits (base
    * cell, leading digits) into the low bits before the fold
    */
  private def mix(z: Long): Long = {
    var k = z
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def hashOf(kern: DggsKernel, res: Int): Long = {
    var h = 0L; var i = 0
    while (i < points.length) {
      h = h * 1000003L + mix(kern.cellForPoint(points(i), res))
      i += 1
    }
    h
  }

  /** (kind, res) -> hash, recorded before the vector-form forward */
  private val expected: Map[(String, Int), Long] = Map(
    ("IGEO7", 0) -> -8521646577443530894L,
    ("IGEO7", 3) -> 5555663756478513278L,
    ("IGEO7", 6) -> 8602128460204930688L,
    ("IGEO7", 9) -> 2724324975956279702L,
    ("IGEO7", 12) -> 7307614405277894123L,
    ("IGEO7", 15) -> 2382551497670203882L,
    ("ISEA3H", 0) -> 1709792956104761416L,
    ("ISEA3H", 3) -> -7007542241027538490L,
    ("ISEA3H", 6) -> 2523946427062156674L,
    ("ISEA3H", 9) -> -8299570932605166114L,
    ("ISEA3H", 12) -> 2535269112194980528L,
    ("ISEA3H", 15) -> 8353470114812471426L,
    ("ISEA4H", 0) -> 1709792956104761416L,
    ("ISEA4H", 3) -> -364444914468765345L,
    ("ISEA4H", 6) -> 982602497942706201L,
    ("ISEA4H", 9) -> -981250112766199494L,
    ("ISEA4H", 12) -> -8710738822830092678L,
    ("ISEA4H", 15) -> 6573371778647851241L,
    ("ISEA43H", 0) -> 1709792956104761416L,
    ("ISEA43H", 3) -> -364444914468765345L,
    ("ISEA43H", 6) -> -7504643468217311837L,
    ("ISEA43H", 9) -> 3443555466787888866L,
    ("ISEA43H", 12) -> -227687608918473407L,
    ("ISEA43H", 15) -> 876438957320319899L,
    ("ISEA4T", 0) -> 2036944899841631274L,
    ("ISEA4T", 3) -> -4918747428275269528L,
    ("ISEA4T", 6) -> -425798814500071622L,
    ("ISEA4T", 9) -> -5577333116467238509L,
    ("ISEA4T", 12) -> 7352734012529451825L,
    ("ISEA4T", 15) -> 655995641616098166L,
    ("ISEA4D", 0) -> 847783120252239201L,
    ("ISEA4D", 3) -> 1585785300021688584L,
    ("ISEA4D", 6) -> 5120452332798125914L,
    ("ISEA4D", 9) -> -7031078141004680430L,
    ("ISEA4D", 12) -> 9117539323407002204L,
    ("ISEA4D", 15) -> -8738610553050347203L
  )

  test("cellForPoint pinned: 6 kernels x res {0,3,6,9,12,15} over 145k seeded points") {
    assert(points.length == 145252)
    val got = for (kern <- kernels; r <- resolutions) yield ((kern.spec.kind, r), hashOf(kern, r))
    val bad = got.filter { case (key, h) => !expected.get(key).contains(h) }
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("a point on a face edge gets the cell of a point 1e-12 to one side") {
    for (kern <- kernels; r <- resolutions; tr <- edgeTriples) {
      val Array(lo, on, hi) = tr.map(kern.cellForPoint(_, r))
      assert(on == lo || on == hi, s"${kern.spec.kind} res $r at ${tr(1)}")
    }
  }

  test("each pole gets one cell id whatever its longitude: 6 kernels, res 0-15") {
    for (kern <- kernels; r <- 0 to 15; lat <- Seq(90.0, -90.0)) {
      val ids = (-180 to 179).map(lon => kern.cellForPoint(GeoRad.fromDeg(lat, lon), r)).distinct
      assert(ids.size == 1, s"${kern.spec.kind} res $r lat $lat: ${ids.map(kern.toCellString)}")
    }
  }
}
