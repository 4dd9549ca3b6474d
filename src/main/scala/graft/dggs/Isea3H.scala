package graft.dggs

import Sphere._
import Lattice._

/** ISEA3H kernel: aperture-3 hexagonal DGGS on the Snyder ISEA
  * projection, pure JVM, ENGINE-CANONICAL ids (the reference preset at
  * dggrid_runner.py:70, aperture parse :414-427 — DGGRID publishes no
  * golden ISEA3H cell ids in the reference tests or examples, so like
  * ISEA4T/ISEA4D the id convention is ours: documented here and pinned
  * by property tests, Isea3HSpec).
  *
  * == Lattice structure ==
  * Res-r cell centers are the Eisenstein lattice points of density 3^r
  * per quad rhombus: descending one level multiplies the lattice by a
  * norm-3 ring element, alternating `2−ω` (odd levels, child lattice
  * rotated −30°: class II) and `1+ω` (even levels, +30°: class I back in
  * alignment) — the published ISEA3H class-I/class-II alternation
  * (Sahr, White & Kimerling 2003, §4.1). All hierarchy arithmetic is
  * exact integer math in Z[ω]:
  *
  *  - the three residues of Z[ω] mod a norm-3 factor f are the digit
  *    values {0, 1, 2}; for BOTH factors the quad-basis steps E1=(1,0)
  *    and E2=(0,1) represent classes 1 and 2 (mod 1+ω: a−b; mod 2−ω:
  *    a+2b — each ≡ 1 for E1 and ≡ 2 for E2, mod 3);
  *  - digit extraction: d = class(v mod f), parent = (v − step(d))/f
  *    (exact division). Digits depend only on v mod F_r (the product of
  *    level factors), so every chart representative of a cell yields the
  *    same digit string;
  *  - child centers sit at distance one child-unit from the parent
  *    center — exactly the deep holes of the parent lattice, i.e. ON the
  *    parent hexagon's boundary (its vertices). Aperture-3 hexagons do
  *    not nest; the hierarchy is index-space with this exact geometric
  *    child-on-parent-boundary relation (see the seam caveat below).
  *
  * == Cell identity and ownership ==
  * A res-r cell is (base, digit string) in the Z3 codec. Quad bases 1-10
  * each own exactly 3^r cells — the residue classes mod F_r of their
  * chart lattice — so ids are bijective by construction; the 2 extra
  * cells (10·3^r + 2 total, matching the closed-form stats) are the two
  * cap vertices v0/v11 (bases 0 and 11), the only icosahedron vertices
  * that are no quad's owned corner.
  *
  * Because a residue class's geometric representative can fall on the
  * quad boundary (shared with a neighbour quad on the sphere), each
  * boundary point is assigned ONE canonical owner:
  *
  *  - polar edges around v0 (near edges of two northern quads): owned by
  *    the quad where the edge is O-A; the loser re-homes those classes
  *    on the opposite far edge A-C (their exact F_r-translate);
  *  - ring edges: owned by the northern quad that re-homed onto them
  *    (as A-C), else by the southern quad where they are near edges;
  *  - v11 edges: owned by the southern quad that lost the corresponding
  *    near ring edge (re-homed on its far-edge translate);
  *  - corners (residue 0): northern quads own their corner C (vertices
  *    v6-v10), southern quads their corner O (v1-v5); v0/v11 are the cap
  *    bases. A quad's all-zero digit path is therefore its owned corner
  *    — `isPentagon ⇔ digits all 0`, the same rule as Z7.
  *
  * Seam caveat: for the re-homed boundary classes (an O(3^{-r/2})
  * fraction of cells), the index parent-child step crosses the quad seam
  * — the child-on-parent-boundary relation holds through the chart
  * translate, not raw chart adjacency. Isea3HSpec quantifies this: every
  * non-seam cell satisfies the relation exactly.
  */
final class Isea3H(vert0LatDeg: Double = 58.28252559,
                   vert0LonDeg: Double = 11.25,
                   azimuthDeg: Double = 0.0) extends HexWalker with HexAddressing {

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  import quads.s

  val spec: KernelSpec = KernelSpec("ISEA3H", 0, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "Z3"
  def resolution(z: Long): Int = Z3.resolution(z)
  def parent(z: Long): Long = Z3.parent(z)
  def ancestorAt(z: Long, r: Int): Long = Z3.ancestorAt(z, r)
  def children(z: Long): Seq[Long] = Z3.children(z)
  def descendants(z: Long, toRes: Int): Seq[Long] = Z3.descendants(z, toRes)
  def toCellString(z: Long): String = Z3.toZ3String(z)
  def fromCellString(s: String): Long = Z3.fromZ3String(s)
  def slotBits: Int = 2
  def radixAt(level: Int): Int = 3
  override def capBases: Seq[Int] = Seq(0, 11)
  def maxRes: Int = Z3.MaxRes

  /** deepest resolution of the lattice tables (the Z3 codec goes deeper) */
  private val latticeMaxRes = 20

  /** norm-3 level factors: odd levels 2−ω (−30°, class II), even levels
    * 1+ω (+30°, restoring class-I alignment).
    */
  val ThreeCW: Eis = Eis(1, 1)   // 1+ω, arg +30°
  val ThreeCCW: Eis = Eis(2, -1) // 2−ω, arg −30°
  def levelFactor3(k: Int): Eis = if (k % 2 == 1) ThreeCCW else ThreeCW

  private val factorEis: Array[Eis] = {
    val arr = new Array[Eis](latticeMaxRes + 1)
    var f = Eis(1, 0)
    arr(0) = f
    for (k <- 1 to latticeMaxRes) { f = f * levelFactor3(k); arr(k) = f }
    arr
  }
  private val factorC: Array[(Double, Double)] = factorEis.map(_.toXY)
  /** the res-r factor product F_r (spec access: class alternation) */
  def factorProductAt(r: Int): Eis = factorEis(r)
  private val pow3: Array[Long] = {
    val arr = new Array[Long](latticeMaxRes + 1)
    arr(0) = 1L
    for (k <- 1 to latticeMaxRes) arr(k) = arr(k - 1) * 3L
    arr
  }

  /** residue class (digit) of `v` mod the level-k factor */
  @inline def residueAt(v: Eis, k: Int): Int = {
    val m = if (k % 2 == 1) v.a + 2 * v.b else v.a - v.b // 2−ω : 1+ω
    (((m % 3) + 3) % 3).toInt
  }
  /** canonical step for digit d (both factor parities): 0 / E1 / E2 */
  @inline def stepFor(d: Int): Eis = d match {
    case 0 => Zero; case 1 => Eis(1, 0); case 2 => Eis(0, 1)
  }

  /** real chart position of lattice point `v` at res r: s·v/F_r */
  def latticeToChart(v: Eis, r: Int): (Double, Double) = {
    val (vx, vy) = v.toXY
    val (fx, fy) = factorC(r)
    val n2 = fx * fx + fy * fy
    (s * (vx * fx + vy * fy) / n2, s * (vy * fx - vx * fy) / n2)
  }

  /** fractional lattice coords of a chart position at res r: p·F_r/s */
  def chartToLattice(x: Double, y: Double, r: Int): (Double, Double) = {
    val (fx, fy) = factorC(r)
    val wx = (x * fx - y * fy) / s
    val wy = (x * fy + y * fx) / s
    val b = wy / Sqrt3Over2
    (wx - 0.5 * b, b)
  }

  /** exact rhombus numerators (i, j) of `v` at res r: uv = (i, j)/3^r,
    * i along quad basis A, j along B. v = ((i + jω)·F_r)/3^r.
    */
  def ijOf(v: Eis, r: Int): (Long, Long) = {
    val w = v * factorEis(r).conj
    (w.a, w.b)
  }
  /** inverse of ijOf (exact) */
  def fromIJ(i: Long, j: Long, r: Int): Eis = {
    val n = Eis(i, j) * factorEis(r)
    require(n.a % pow3(r) == 0 && n.b % pow3(r) == 0, s"($i,$j) not a res-$r point")
    Eis(n.a / pow3(r), n.b / pow3(r))
  }

  // -------------------------------------------------------------------
  // Canonical boundary ownership (shared with Isea4H — see QuadOwnership)
  // -------------------------------------------------------------------

  val ownership = new QuadOwnership(quads)
  val capVerts: (Int, Int) = ownership.capVerts
  val vertexBase: Array[Int] = ownership.vertexBase
  val ownedCornerIdx: Array[Int] = ownership.ownedCornerIdx
  val ownsOA: Array[Boolean] = ownership.ownsOA
  val ownsOB: Array[Boolean] = ownership.ownsOB
  val edgeOwner: Map[(Int, Int), Int] = ownership.edgeOwner

  // -------------------------------------------------------------------
  // Point -> cell
  // -------------------------------------------------------------------

  final case class Fix3(quad: Int, v: Eis, res: Int)

  /** nearest res-r cell center to a sphere point: hex Voronoi in the
    * point's quad chart, with cross-quad candidates near boundaries
    * (IGeo7.fixForPoint's pattern at the aperture-3 spacing).
    */
  def fixForPoint(p: GeoRad, r: Int): Fix3 = {
    val (q, v) = fixQV(p, r)
    Fix3(q, v, r)
  }
  /** fold a fix across quad edges until its rep lies in the CLOSED
    * rhombus of its chart (exact isometries re-rounded to the lattice).
    */
  def foldToRhombus(fix: Fix3): Fix3 = {
    val (q, v) = foldQV(fix.quad, fix.v, fix.res)
    Fix3(q, v, fix.res)
  }
  /** re-express a rhombus-boundary fix in the chart of quad `toQ`
    * (which shares the boundary edge).
    */
  private def foldToQuad(fix: Fix3, toQ: Int, edge: (Int, Int)): Fix3 = {
    val (q, v) = foldQVToQuad(fix.quad, fix.v, fix.res, toQ, edge)
    Fix3(q, v, fix.res)
  }
  /** digit string of `v` in its chart (pure integer walk; digits depend
    * only on v mod F_r, so any chart representative works).
    */
  def digitsOf(v: Eis, r: Int): Array[Int] = {
    val out = new Array[Int](r)
    var cur = v
    var k = r
    while (k >= 1) {
      val d = residueAt(cur, k)
      out(k - 1) = d
      cur = (cur - stepFor(d)).divExact(levelFactor3(k))
      k -= 1
    }
    out
  }

  /** point -> Z3 cell id at res r */
  def cellForPoint(p: GeoRad, r: Int): Long = {
    require(r >= 0 && r <= latticeMaxRes, s"res $r out of [0,$latticeMaxRes]")
    val fix = foldToRhombus(fixForPoint(p, r))
    cellForFix(fix)
  }

  /** canonical Z3 id of a closed-rhombus fix */
  def cellForFix(fix: Fix3): Long = {
    val r = fix.res
    val n = pow3(r)
    val (i, j) = ijOf(fix.v, r)
    val cs = quads.corners(fix.quad)
    def norm(a: Int, b: Int) = if (a < b) (a, b) else (b, a)
    // corners: vertex pentagons (all-zero paths of their owning base)
    val cornerIdx =
      if (i == 0L && j == 0L) 0
      else if (i == n && j == 0L) 1
      else if (i == 0L && j == n) 2
      else if (i == n && j == n) 3
      else -1
    if (cornerIdx >= 0) {
      val base = vertexBase(cs(cornerIdx))
      return Z3.pack(base, Seq.fill(r)(0))
    }
    // edges: route to the canonical owner quad, then walk digits there
    val edge =
      if (j == 0L) Some(norm(cs(0), cs(1)))
      else if (i == 0L) Some(norm(cs(0), cs(2)))
      else if (i == n) Some(norm(cs(1), cs(3)))
      else if (j == n) Some(norm(cs(2), cs(3)))
      else None
    edge match {
      case Some(e) =>
        val q2 = edgeOwner(e)
        val f2 = if (q2 == fix.quad) fix else foldToQuad(fix, q2, e)
        Z3.pack(q2, digitsOf(f2.v, r).toSeq)
      case None =>
        Z3.pack(fix.quad, digitsOf(fix.v, r).toSeq)
    }
  }

  // -------------------------------------------------------------------
  // Cell -> geometry
  // -------------------------------------------------------------------

  /** decode a quad-based id to its OWNED representative (i, j) — the
    * half-open rep with lost-edge classes re-homed on their far-edge
    * translates and residue 0 on the owned corner.
    */
  def ownedIJ(z: Long): (Int, Long, Long) = {
    val base = Z3.baseCell(z)
    require(base >= 1 && base <= 10, s"ownedIJ on cap base $base")
    val r = Z3.resolution(z)
    val n = pow3(r)
    // principal value of the digit recurrence v_k = v_{k-1}·f_k + s(d_k)
    var v = Zero
    var k = 1
    while (k <= r) {
      v = v * levelFactor3(k) + stepFor(Z3.digit(z, k))
      k += 1
    }
    val (i0, j0) = ijOf(v, r)
    val i = ((i0 % n) + n) % n
    val j = ((j0 % n) + n) % n
    if (i == 0L && j == 0L) {
      // residue 0: the owned corner (C for northern, O for southern)
      if (ownedCornerIdx(base) == 3) (base, n, n) else (base, 0L, 0L)
    } else if (j == 0L && !ownsOA(base)) (base, i, n) // re-home O-A -> B-C
    else if (i == 0L && !ownsOB(base)) (base, n, j)   // re-home O-B -> A-C
    else (base, i, j)
  }

  /** cell center on the sphere */
  def cellCenter(z: Long): GeoRad = {
    val base = Z3.baseCell(z)
    if (base == 0) ico.vertices(capVerts._1)
    else if (base == 11) ico.vertices(capVerts._2)
    else {
      val r = Z3.resolution(z)
      val (_, i, j) = ownedIJ(z)
      // owned reps lie in the closed rhombus (edge reps are shared
      // sphere points — the owner's chart gives the same position)
      val (x, y) = latticeToChart(fromIJ(i, j, r), r)
      quads.quadToSphere(base, x, y)
    }
  }

  /** chart position -> sphere, re-charting across edges when outside
    * (IGeo7.chartToSphere's fold loop).
    */
  // chartToSphere: provided by HexWalker

  override protected def spacingFrac(r: Int): Double =
    1.0 / math.pow(3.0, r / 2.0)
  override protected def rhombusDenom(r: Int): Long = pow3(r)
  override protected def ijOfAt(v: Eis, r: Int): (Long, Long) = ijOf(v, r)
  /** cell boundary: 6 hexagon corners (each ⅓ of the two adjacent unit
    * sums, the hex Voronoi vertices), 5 for the vertex pentagons.
    */
  def cellBoundary(z: Long): Array[GeoRad] = {
    val base = Z3.baseCell(z)
    val r = Z3.resolution(z)
    if (Z3.isPentagon(z)) {
      val vtx =
        if (base == 0) capVerts._1
        else if (base == 11) capVerts._2
        else quads.corners(base)(ownedCornerIdx(base))
      return pentagonBoundary(vtx, r)
    }
    val (q, i, j) = ownedIJ(z)
    val v = fromIJ(i, j, r)
    val (cx, cy) = latticeToChart(v, r)
    (0 until 6).map { k =>
      val su = Eis(Units(k).a + Units((k + 1) % 6).a, Units(k).b + Units((k + 1) % 6).b)
      val (dx, dy) = latticeToChart(su, r)
      chartToSphere(q, cx + dx / 3.0, cy + dy / 3.0)
    }.toArray
  }

  private def pentagonBoundary(vtx: Int, r: Int): Array[GeoRad] = {
    val vpos = ico.vertices(vtx)
    val ring = scala.collection.mutable.ArrayBuffer[GeoRad]()
    for (q <- quads.vertexQuads(vtx)) {
      val corner = quads.corners(q).indexOf(vtx)
      val cBase = corner match {
        case 0 => Eis(0, 0); case 1 => Eis(1, 0); case 2 => Eis(0, 1); case 3 => Eis(1, 1)
      }
      val c = cBase * factorEis(r)
      for (u <- Units) {
        val nb = Eis(c.a + u.a, c.b + u.b)
        val (x, y) = latticeToChart(nb, r)
        val (uu, vv) = quads.rhombusUV(x, y)
        if (uu >= -1e-9 && uu <= 1 + 1e-9 && vv >= -1e-9 && vv <= 1 + 1e-9) {
          val g = quads.quadToSphere(q, x, y)
          if (!ring.exists(e => distance(e, g) < 1e-9)) ring += g
        }
      }
    }
    val sorted = ring.sortBy(g => azimuth(vpos, g)).toArray
    val nv = sorted.length
    (0 until nv).map { i =>
      val a = sorted(i); val b = sorted((i + 1) % nv)
      toGeo(toVec(vpos) + toVec(a) + toVec(b))
    }.toArray
  }

  // -------------------------------------------------------------------
  // ZORDER / Q2DI address forms
  // -------------------------------------------------------------------

  /** Q2DI address "q i j" of a cell: the HALF-OPEN rhombus rep (i, j ∈
    * [0, 3^r)) for quad bases; "0 0 0" / "11 0 0" for the caps. The
    * reference's Q2DI output splits the same three fields
    * (igeo7_ext.py:69-72); the (i, j) origin convention is
    * engine-canonical, like Q2DI on the Z7 grid (see SeqProbe).
    */
  def toQ2di(z: Long): (Int, Long, Long) = {
    val base = Z3.baseCell(z)
    if (base == 0 || base == 11) (base, 0L, 0L)
    else {
      val r = Z3.resolution(z)
      val n = pow3(r)
      var v = Zero
      var k = 1
      while (k <= r) { v = v * levelFactor3(k) + stepFor(Z3.digit(z, k)); k += 1 }
      val (i0, j0) = ijOf(v, r)
      (base, ((i0 % n) + n) % n, ((j0 % n) + n) % n)
    }
  }

  def fromQ2di(base: Int, i: Long, j: Long, r: Int): Long = {
    require(base >= 0 && base <= 11, s"bad quad $base")
    if (base == 0 || base == 11) {
      require(i == 0 && j == 0, s"cap base $base requires (0,0), got ($i,$j)")
      Z3.pack(base, Seq.fill(r)(0))
    } else {
      val n = pow3(r)
      require(i >= 0 && i < n && j >= 0 && j < n, s"($i,$j) out of [0,$n) at res $r")
      Z3.pack(base, digitsOf(fromIJ(i, j, r), r).toSeq)
    }
  }

  /** ZORDER int64: [4b base][5b res][bit-interleaved i,j] — the
    * digit-interleaved Q2DI form (dggrid_runner.py:134 'especially
    * useful for ISEA3H'; engine-canonical layout). i bits at even
    * offsets. res ≤ 17 (3^17 < 2^27; two 27-bit fields + 9 header bits).
    */
  val ZorderMaxRes = 17

  def toZorder(z: Long): Long = {
    val r = Z3.resolution(z)
    require(r <= ZorderMaxRes, s"ZORDER supports res <= $ZorderMaxRes, got $r")
    val (base, i, j) = toQ2di(z)
    var bits = 0L
    var k = 0
    while (k < 27) {
      bits |= ((i >>> k) & 1L) << (2 * k)
      bits |= ((j >>> k) & 1L) << (2 * k + 1)
      k += 1
    }
    (base.toLong << 60) | (r.toLong << 55) | bits
  }

  def fromZorder(zo: Long): Long = {
    val base = ((zo >>> 60) & 0xFL).toInt
    val r = ((zo >>> 55) & 0x1FL).toInt
    require(r <= ZorderMaxRes, s"bad ZORDER res $r")
    var i = 0L; var j = 0L
    var k = 0
    while (k < 27) {
      i |= ((zo >>> (2 * k)) & 1L) << k
      j |= ((zo >>> (2 * k + 1)) & 1L) << k
      k += 1
    }
    fromQ2di(base, i, j, r)
  }

  /** ZORDER_STRING: 2-digit base + r interleaved base-3 digit pairs of
    * (i, j), most significant first (i digit before j digit).
    */
  def toZorderString(z: Long): String = {
    val r = Z3.resolution(z)
    require(r <= ZorderMaxRes, s"ZORDER supports res <= $ZorderMaxRes, got $r")
    val (base, i, j) = toQ2di(z)
    val sb = new StringBuilder(2 + 2 * r)
    if (base < 10) sb.append('0')
    sb.append(base)
    var k = r - 1
    while (k >= 0) {
      sb.append(('0' + ((i / pow3(k)) % 3).toInt).toChar)
      sb.append(('0' + ((j / pow3(k)) % 3).toInt).toChar)
      k -= 1
    }
    sb.toString
  }

  def fromZorderString(sx: String): Long = {
    require(sx.length >= 2 && (sx.length - 2) % 2 == 0, s"bad ZORDER_STRING '$sx'")
    val base = sx.substring(0, 2).toInt
    val r = (sx.length - 2) / 2
    var i = 0L; var j = 0L
    var k = 0
    while (k < r) {
      // per-digit radix check (see Isea4H.fromZorderString): an
      // out-of-radix char must raise, not alias another cell
      val ci = sx.charAt(2 + 2 * k) - '0'
      val cj = sx.charAt(3 + 2 * k) - '0'
      require(ci >= 0 && ci <= 2 && cj >= 0 && cj <= 2,
        s"bad ZORDER_STRING digit pair in '$sx' at position $k")
      i = i * 3 + ci
      j = j * 3 + cj
      k += 1
    }
    fromQ2di(base, i, j, r)
  }

}
