package graft.dggs

import Sphere._

/** The 10 rhombic quads of the icosahedron (DGGRID's unit of grid
  * arithmetic): each quad = two faces unfolded flat about their shared
  * edge. Quad q chart: origin at corner O (a 60° corner), corner A at
  * (s, 0), corner B at (s/2, s·√3/2), corner C = A + B; s = rc·√3 is the
  * plane edge length of the icosahedron.
  *
  * Northern quads 1..5: O = v0 (pole), C = v(6+k); southern quads 6..10:
  * O = v(1+(k+1)%5) (ring-1 vertex), C = v11. The A/B assignment is
  * resolved automatically to the orientation-preserving (mirror-free)
  * unfolding.
  */
final class QuadLayout(val ico: Icosahedron, val snyder: SnyderISEA) {

  import QuadLayout.EdgeCorners

  val s: Double = snyder.rc * math.sqrt(3.0)
  val Ax: (Double, Double) = (s, 0.0)
  val Bx: (Double, Double) = (0.5 * s, s * math.sqrt(3.0) / 2.0)
  val Cx: (Double, Double) = (Ax._1 + Bx._1, Ax._2 + Bx._2)

  /** corner vertex ids per quad 1..10: (O, A, B, C) */
  val corners: Array[Array[Int]] = {
    val arr = new Array[Array[Int]](11)
    def n(k: Int) = 1 + (k + 1) % 5
    def m(k: Int) = 6 + (k + 1) % 5
    for (k <- 0 until 5) { // quads 1..5: faces k (top) and 5+k
      arr(1 + k) = orient(Array(0, 1 + k, n(k), 6 + k), Array(k, 5 + k))
    }
    for (k <- 0 until 5) { // quads 6..10: faces 10+k (top) and 15+k
      arr(6 + k) = orient(Array(n(k), 6 + k, m(k), 11), Array(10 + k, 15 + k))
    }
    arr
  }

  /** face id -> quad id */
  val faceQuad: Array[Int] = {
    val fq = new Array[Int](20)
    for (k <- 0 until 5) { fq(k) = 1 + k; fq(5 + k) = 1 + k }
    for (k <- 0 until 5) { fq(10 + k) = 6 + k; fq(15 + k) = 6 + k }
    fq
  }

  /** per-face similarity (rotation+translation, complex form) from the
    * face-local Snyder frame into its quad chart: z ↦ rot·z + t, as
    * (rx, ry, tx, ty) at 4·face.
    */
  private val faceToQuad: Array[Double] = {
    val arr = new Array[Double](4 * 20)
    for (f <- 0 until 20) {
      val q = faceQuad(f)
      val cs = corners(q)
      val pos = Map(cs(0) -> (0.0, 0.0), cs(1) -> Ax, cs(2) -> Bx, cs(3) -> Cx)
      val ids = ico.faceVerts(f)
      val fp = ids.map(vertexFacePos(f, _))
      val qp = ids.map(pos)
      val (r, t) = solveSimilarity(fp(0), fp(1), qp(0), qp(1))
      val chk = applyC(r, t, fp(2))
      val res = math.hypot(chk._1 - qp(2)._1, chk._2 - qp(2)._2)
      require(res < 1e-9 * s, s"face $f -> quad $q unfolding residual $res (mirrored?)")
      Array(r._1, r._2, t._1, t._2).copyToArray(arr, 4 * f)
    }
    arr
  }

  /** sorted vertex-id pair of edge k of quad q; the edges of every quad
    * are numbered (O,A), (O,B), (A,C), (B,C) for k = 0..3
    */
  def edgeVerts(q: Int, k: Int): (Int, Int) = {
    val cs = corners(q)
    val a = cs(EdgeCorners(2 * k)); val b = cs(EdgeCorners(2 * k + 1))
    if (a < b) (a, b) else (b, a)
  }

  /** the k of edge `e` (a sorted vertex-id pair) of quad q */
  def edgeIndex(q: Int, e: (Int, Int)): Int = {
    val k = (0 until 4).indexWhere(edgeVerts(q, _) == e)
    require(k >= 0, s"edge $e is not on quad $q")
    k
  }

  /** the quad across edge k of quad q, at index 4q + k (quads are 1..10) */
  val nbrQuad: Array[Int] = Array.tabulate(44) { i =>
    if (i < 4) 0
    else {
      val e = edgeVerts(i / 4, i % 4)
      (1 to 10).find(o => o != i / 4 && (0 until 4).exists(edgeVerts(o, _) == e)).get
    }
  }

  /** chart similarity z ↦ rot·z + t across edge k of quad q, as
    * (rx, ry, tx, ty) at 4·(4q + k)
    */
  private val nbrXf: Array[Double] = {
    val a = new Array[Double](4 * 44)
    val cornerPos = (q: Int) => {
      val cs = corners(q)
      Map(cs(0) -> (0.0, 0.0), cs(1) -> Ax, cs(2) -> Bx, cs(3) -> Cx)
    }
    for (q <- 1 to 10; k <- 0 until 4) {
      val e = edgeVerts(q, k)
      val pq = cornerPos(q); val po = cornerPos(nbrQuad(4 * q + k))
      val (r, t) = solveSimilarity(pq(e._1), pq(e._2), po(e._1), po(e._2))
      Array(r._1, r._2, t._1, t._2).copyToArray(a, 4 * (4 * q + k))
    }
    a
  }

  /** chart x, y of (x, y) re-expressed across edge index i = 4q + k */
  @inline def crossX(i: Int, x: Double, y: Double): Double =
    nbrXf(4 * i) * x - nbrXf(4 * i + 1) * y + nbrXf(4 * i + 2)
  @inline def crossY(i: Int, x: Double, y: Double): Double =
    nbrXf(4 * i) * y + nbrXf(4 * i + 1) * x + nbrXf(4 * i + 3)

  /** vertex id -> quads sharing that corner */
  val vertexQuads: Map[Int, Seq[Int]] =
    (for { q <- 1 to 10; v <- corners(q) } yield (v, q))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

  /** map a face-frame point into its quad chart */
  def toQuad(fp: snyder.FacePoint): (Int, Double, Double) = {
    val o = 4 * fp.face
    val rx = faceToQuad(o); val ry = faceToQuad(o + 1); val tx = faceToQuad(o + 2); val ty = faceToQuad(o + 3)
    val x = rx * fp.x - ry * fp.y + tx
    val y = rx * fp.y + ry * fp.x + ty
    (faceQuad(fp.face), x, y)
  }

  /** chart position -> res-0 fractional rhombus coords (u, v):
    * p = u·A + v·B; inside ⇔ u,v ∈ [0,1].
    */
  def rhombusUV(x: Double, y: Double): (Double, Double) = {
    val v = y / Bx._2
    val u = (x - v * Bx._1) / s
    (u, v)
  }

  /** invert toQuad for a given face: quad chart -> face frame */
  def toFace(face: Int, x: Double, y: Double): snyder.FacePoint = {
    val o = 4 * face
    val rx = faceToQuad(o); val ry = faceToQuad(o + 1); val tx = faceToQuad(o + 2); val ty = faceToQuad(o + 3)
    val n2 = rx * rx + ry * ry
    val dx = x - tx; val dy = y - ty
    snyder.FacePoint(face, (rx * dx + ry * dy) / n2, (rx * dy - ry * dx) / n2)
  }

  /** chart position (anywhere in the rhombus) -> sphere: pick the face
    * sub-triangle by the rhombus diagonal (points below the A-B diagonal
    * are in the top face, above in the bottom face).
    */
  def quadToSphere(q: Int, x: Double, y: Double): GeoRad = {
    val (u, v) = rhombusUV(x, y)
    val topFace = if (q <= 5) q - 1 else 10 + (q - 6)
    val botFace = if (q <= 5) 4 + q else 15 + (q - 6)
    // top face = triangle (O, A, B): u + v <= 1; bottom = (A, B, C)
    val face = if (u + v <= 1.0) topFace else botFace
    snyder.inverse(toFace(face, x, y))
  }

  /** sphere -> (quad, chart x, y) */
  def sphereToQuad(p: GeoRad): (Int, Double, Double) = toQuad(snyder.forward(p))

  // ---- helpers ----

  /** plane position of vertex `v` in face f's Snyder frame (vertices
    * project at plane distance rc and plane azimuth = spherical azimuth).
    */
  private def vertexFacePos(f: Int, v: Int): (Double, Double) = {
    val az = azimuth(ico.faceCenters(f), ico.vertices(v)) - ico.faceAz0(f)
    (snyder.rc * math.sin(az), snyder.rc * math.cos(az))
  }

  /** orientation-preserving corner assignment: try (O, a, b, C) and
    * (O, b, a, C); keep the one whose two faces unfold mirror-free.
    */
  private def orient(cand: Array[Int], faces: Array[Int]): Array[Int] = {
    def ok(cs: Array[Int]): Boolean = {
      val pos = Map(cs(0) -> (0.0, 0.0), cs(1) -> Ax, cs(2) -> Bx, cs(3) -> Cx)
      faces.forall { f =>
        val ids = ico.faceVerts(f)
        val fp = ids.map(vertexFacePos(f, _))
        val qp = ids.map(pos)
        val (r, t) = solveSimilarity(fp(0), fp(1), qp(0), qp(1))
        val chk = applyC(r, t, fp(2))
        math.hypot(chk._1 - qp(2)._1, chk._2 - qp(2)._2) < 1e-9 * s
      }
    }
    val a = cand
    val b = Array(cand(0), cand(2), cand(1), cand(3))
    if (ok(a)) a
    else { require(ok(b), s"no orientation works for quad ${cand.mkString(",")}"); b }
  }

  /** rigid transform (complex rot + translation) mapping p1→q1, p2→q2 */
  private def solveSimilarity(p1: (Double, Double), p2: (Double, Double),
                              q1: (Double, Double), q2: (Double, Double))
      : ((Double, Double), (Double, Double)) = {
    val (dpx, dpy) = (p2._1 - p1._1, p2._2 - p1._2)
    val (dqx, dqy) = (q2._1 - q1._1, q2._2 - q1._2)
    val n2 = dpx * dpx + dpy * dpy
    val rx = (dqx * dpx + dqy * dpy) / n2
    val ry = (dqy * dpx - dqx * dpy) / n2
    val tx = q1._1 - (rx * p1._1 - ry * p1._2)
    val ty = q1._2 - (rx * p1._2 + ry * p1._1)
    ((rx, ry), (tx, ty))
  }

  private def applyC(r: (Double, Double), t: (Double, Double),
                     p: (Double, Double)): (Double, Double) =
    (r._1 * p._1 - r._2 * p._2 + t._1, r._1 * p._2 + r._2 * p._1 + t._2)
}

object QuadLayout {
  /** corner indices (0=O, 1=A, 2=B, 3=C) of edge k at 2k, 2k + 1 */
  private val EdgeCorners: Array[Int] = Array(0, 1, 0, 2, 1, 3, 2, 3)
}
