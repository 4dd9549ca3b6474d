package graft.dggs

import Sphere._

/** Spherical icosahedron oriented like DGGRID's: vertex 0 placed at
  * (vert0Lon, vert0Lat) and the whole solid rotated about it by
  * `azimuthDeg` (reference defaults 11.25°E, 58.28252559°N, az 0 —
  * dggrid_runner.py:530-532; tests override vert0 to 11.20°E).
  *
  * Vertex layout: v0 = vert0; v1..v5 at spherical distance atan(2)
  * (≈63.4349°) from v0 at azimuths az+0,72°,…; v6..v10 at distance
  * 180°−atan(2) at azimuths az+36°+k·72°; v11 = antipode of v0.
  *
  * Face layout (20 triangles, grouped in rows of 5):
  *   faces 0-4   : (v0, v(1+k), v(1+(k+1)%5))                — top cap
  *   faces 5-9   : (v(1+k), v(6+k), v(1+(k+1)%5))            — downward
  *   faces 10-14 : (v(6+k), v(6+(k+1)%5), v(1+(k+1)%5))      — upward
  *   faces 15-19 : (v11, v(6+(k+1)%5), v(6+k))               — bottom cap
  */
final class Icosahedron(vert0LatDeg: Double, vert0LonDeg: Double, azimuthDeg: Double) {

  /** vertex-to-vertex central angle of the icosahedron = atan(2) */
  val edgeArc: Double = math.atan(2.0)

  val vertices: Array[GeoRad] = {
    val v0 = GeoRad.fromDeg(vert0LatDeg, vert0LonDeg)
    val az0 = toRad(azimuthDeg)
    val vs = new Array[GeoRad](12)
    vs(0) = v0
    for (k <- 0 until 5)
      vs(1 + k) = destination(v0, az0 + toRad(72.0 * k), edgeArc)
    for (k <- 0 until 5)
      vs(6 + k) = destination(v0, az0 + toRad(36.0 + 72.0 * k), math.Pi - edgeArc)
    vs(11) = GeoRad(-v0.lat, normalizeLon(v0.lon + math.Pi))
    vs
  }

  /** face -> vertex indices (first vertex = the Az=0 reference) */
  val faceVerts: Array[Array[Int]] = {
    def n(k: Int) = 1 + (k + 1) % 5
    def m(k: Int) = 6 + (k + 1) % 5
    (0 until 5).map(k => Array(0, 1 + k, n(k))).toArray ++
      (0 until 5).map(k => Array(1 + k, 6 + k, n(k))) ++
      (0 until 5).map(k => Array(6 + k, m(k), n(k))) ++
      (0 until 5).map(k => Array(11, m(k), 6 + k))
  }

  val faceCenters: Array[GeoRad] = faceVerts.map { fv =>
    toGeo(fv.map(i => toVec(vertices(i))).reduce(_ + _))
  }
  val faceCenterVecs: Array[Vec3] = faceCenters.map(toVec)

  /** azimuth from face center to the face's reference vertex */
  val faceAz0: Array[Double] =
    (0 until 20).map(f => azimuth(faceCenters(f), vertices(faceVerts(f)(0)))).toArray

  /** Nearest face center by dot product (candidate order for containment
    * testing in the projection).
    */
  def facesByCloseness(p: GeoRad): Array[Int] = {
    val v = toVec(p)
    (0 until 20).sortBy(f => -faceCenterVecs(f).dot(v)).toArray
  }
}
