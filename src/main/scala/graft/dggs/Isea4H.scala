package graft.dggs

import Sphere._
import Lattice._

/** ISEA4H kernel: aperture-4 hexagonal DGGS on the Snyder ISEA
  * projection, pure JVM, ENGINE-CANONICAL ids (the reference preset at
  * dggrid_runner.py:71, aperture parse :414-427 — DGGRID publishes no
  * golden ISEA4H cell ids in the reference tests or examples, so like
  * ISEA3H/ISEA4T/ISEA4D the id convention is ours: documented here and
  * pinned by property tests, Isea4HSpec).
  *
  * == Lattice structure ==
  * Res-r cell centers are the Eisenstein lattice points of density 4^r
  * per quad rhombus: descending one level multiplies the lattice by the
  * REAL factor 2 (norm 4) — no rotation, so every resolution is class I
  * (the published aperture-4 hex property: same orientation at every
  * level, Sahr, White & Kimerling 2003 §4.1; contrast the aperture-3
  * class-I/class-II alternation in Isea3H). All hierarchy arithmetic is
  * exact integer math in Z[ω]:
  *
  *  - the four residues of Z[ω] mod 2 are the digit values {0, 1, 2, 3}
  *    with canonical steps 0 / E1=(1,0) / E2=(0,1) / E3=(−1,1) — the
  *    parity classes of (a, b); E3 is chosen as the UNIT representative
  *    of the (odd, odd) class (the naive (1,1) is at distance √3);
  *  - digit extraction: d from the parities of v, parent =
  *    (v − step(d))/2 (exact division). Digits depend only on v mod 2^r,
  *    so every chart representative of a cell yields the same digits;
  *  - all four child centers lie INSIDE the closed parent hexagon: the
  *    center child at distance 0, digits 1-3 at exactly one child unit
  *    (the parent circumradius is 2/√3 ≈ 1.155 child units). Aperture-4
  *    hexagons still do not nest exactly; the hierarchy is index-space
  *    with this exact geometric child-in-parent relation.
  *
  * == Cell identity and ownership ==
  * A res-r cell is (base, digit string) in the Z4 codec. Quad bases 1-10
  * each own exactly 4^r cells — the residue classes mod 2^r of their
  * chart lattice — so ids are bijective by construction; the 2 extra
  * cells (10·4^r + 2 total, matching the closed-form stats) are the two
  * cap vertices v0/v11 (bases 0 and 11). Boundary classes are routed to
  * ONE canonical owner by the shared QuadOwnership rules (identical to
  * Isea3H — ownership depends only on the quad layout, not the
  * aperture); `isPentagon ⇔ digits all 0`, the same rule as Z7/Z3.
  *
  * Seam caveat: for the re-homed boundary classes (an O(2^{-r}) fraction
  * of cells), the index parent-child step crosses the quad seam — the
  * child-in-parent relation holds through the chart translate, not raw
  * chart adjacency. Isea4HSpec quantifies this: every non-seam cell
  * satisfies the relation exactly.
  */
final class Isea4H(vert0LatDeg: Double = 58.28252559,
                   vert0LonDeg: Double = 11.25,
                   azimuthDeg: Double = 0.0) extends HexWalker with HexAddressing {

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  import quads.s

  val spec: KernelSpec = KernelSpec("ISEA4H", 0, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "Z4"
  def resolution(z: Long): Int = Z4.resolution(z)
  def parent(z: Long): Long = Z4.parent(z)
  def ancestorAt(z: Long, r: Int): Long = Z4.ancestorAt(z, r)
  def children(z: Long): Seq[Long] = Z4.children(z)
  def descendants(z: Long, toRes: Int): Seq[Long] = Z4.descendants(z, toRes)
  def toCellString(z: Long): String = Z4.toZ4String(z)
  def fromCellString(s: String): Long = Z4.fromZ4String(s)
  def slotBits: Int = 3
  def radixAt(level: Int): Int = 4
  override def capBases: Seq[Int] = Seq(0, 11)

  val maxRes: Int = Z4.MaxRes

  private val pow2: Array[Long] = {
    val arr = new Array[Long](maxRes + 1)
    arr(0) = 1L
    for (k <- 1 to maxRes) arr(k) = arr(k - 1) * 2L
    arr
  }

  /** the level factor is the real integer 2 at every level (class I) */
  val Two: Eis = Eis(2, 0)

  /** digit of `v` mod 2: the parity class of (a, b) */
  @inline def residueOf(v: Eis): Int =
    ((v.a & 1L) + 2L * (v.b & 1L)).toInt
  /** canonical step for digit d: 0 / E1 / E2 / E3 = −1+ω (all units) */
  @inline def stepFor(d: Int): Eis = d match {
    case 0 => Zero; case 1 => Eis(1, 0); case 2 => Eis(0, 1); case 3 => Eis(-1, 1)
  }

  /** real chart position of lattice point `v` at res r: s·v/2^r */
  def latticeToChart(v: Eis, r: Int): (Double, Double) = {
    val (vx, vy) = v.toXY
    val n = pow2(r).toDouble
    (s * vx / n, s * vy / n)
  }

  /** fractional lattice coords of a chart position at res r: p·2^r/s */
  def chartToLattice(x: Double, y: Double, r: Int): (Double, Double) = {
    val n = pow2(r).toDouble
    val wx = x * n / s
    val wy = y * n / s
    val b = wy / Sqrt3Over2
    (wx - 0.5 * b, b)
  }

  /** rhombus numerators of `v` at res r: uv = (i, j)/2^r — with the real
    * factor 2^r these are just the Eisenstein coordinates, i along quad
    * basis A, j along B (every integer pair is a res-r point, unlike the
    * rotated aperture-3 lattice).
    */
  @inline def ijOf(v: Eis): (Long, Long) = (v.a, v.b)
  @inline def fromIJ(i: Long, j: Long): Eis = Eis(i, j)

  // -------------------------------------------------------------------
  // Canonical boundary ownership (shared with Isea3H)
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

  final case class Fix4(quad: Int, v: Eis, res: Int)

  /** nearest res-r cell center to a sphere point: hex Voronoi in the
    * point's quad chart, with cross-quad candidates near boundaries
    * (Isea3H.fixForPoint's pattern at the aperture-4 spacing).
    */
  def fixForPoint(p: GeoRad, r: Int): Fix4 = {
    val (q, v) = fixQV(p, r)
    Fix4(q, v, r)
  }
  /** fold a fix across quad edges until its rep lies in the CLOSED
    * rhombus of its chart (exact isometries re-rounded to the lattice).
    */
  def foldToRhombus(fix: Fix4): Fix4 = {
    val (q, v) = foldQV(fix.quad, fix.v, fix.res)
    Fix4(q, v, fix.res)
  }
  /** re-express a rhombus-boundary fix in the chart of quad `toQ`
    * (which shares the boundary edge).
    */
  private def foldToQuad(fix: Fix4, toQ: Int, edge: (Int, Int)): Fix4 = {
    val (q, v) = foldQVToQuad(fix.quad, fix.v, fix.res, toQ, edge)
    Fix4(q, v, fix.res)
  }
  /** digit string of `v` in its chart (pure integer walk; digits depend
    * only on v mod 2^r, so any chart representative works).
    */
  def digitsOf(v: Eis, r: Int): Array[Int] = {
    val out = new Array[Int](r)
    var cur = v
    var k = r
    while (k >= 1) {
      val d = residueOf(cur)
      out(k - 1) = d
      cur = (cur - stepFor(d)).divExact(Two)
      k -= 1
    }
    out
  }

  /** point -> Z4 cell id at res r */
  def cellForPoint(p: GeoRad, r: Int): Long = {
    require(r >= 0 && r <= maxRes, s"res $r out of [0,$maxRes]")
    val fix = foldToRhombus(fixForPoint(p, r))
    cellForFix(fix)
  }

  /** canonical Z4 id of a closed-rhombus fix */
  def cellForFix(fix: Fix4): Long = {
    val r = fix.res
    val n = pow2(r)
    val (i, j) = ijOf(fix.v)
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
      return Z4.pack(base, Seq.fill(r)(0))
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
        Z4.pack(q2, digitsOf(f2.v, r).toSeq)
      case None =>
        Z4.pack(fix.quad, digitsOf(fix.v, r).toSeq)
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
    val base = Z4.baseCell(z)
    require(base >= 1 && base <= 10, s"ownedIJ on cap base $base")
    val r = Z4.resolution(z)
    val n = pow2(r)
    // principal value of the digit recurrence v_k = v_{k-1}·2 + s(d_k)
    var v = Zero
    var k = 1
    while (k <= r) {
      v = v * Two + stepFor(Z4.digit(z, k))
      k += 1
    }
    val (i0, j0) = ijOf(v)
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
    val base = Z4.baseCell(z)
    if (base == 0) ico.vertices(capVerts._1)
    else if (base == 11) ico.vertices(capVerts._2)
    else {
      val r = Z4.resolution(z)
      val (_, i, j) = ownedIJ(z)
      // owned reps lie in the closed rhombus (edge reps are shared
      // sphere points — the owner's chart gives the same position)
      val (x, y) = latticeToChart(fromIJ(i, j), r)
      quads.quadToSphere(base, x, y)
    }
  }

  /** chart position -> sphere, re-charting across edges when outside
    * (Isea3H.chartToSphere's fold loop).
    */
  // chartToSphere: provided by HexWalker

  override protected def spacingFrac(r: Int): Double =
    1.0 / pow2(r).toDouble
  override protected def rhombusDenom(r: Int): Long = pow2(r)
  override protected def ijOfAt(v: Eis, r: Int): (Long, Long) = ijOf(v)
  /** cell boundary: 6 hexagon corners (each ⅓ of the two adjacent unit
    * sums, the hex Voronoi vertices), 5 for the vertex pentagons.
    */
  def cellBoundary(z: Long): Array[GeoRad] = {
    val base = Z4.baseCell(z)
    val r = Z4.resolution(z)
    if (Z4.isPentagon(z)) {
      val vtx =
        if (base == 0) capVerts._1
        else if (base == 11) capVerts._2
        else quads.corners(base)(ownedCornerIdx(base))
      return pentagonBoundary(vtx, r)
    }
    val (q, i, j) = ownedIJ(z)
    val v = fromIJ(i, j)
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
      val c = Eis(cBase.a * pow2(r), cBase.b * pow2(r))
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
  // ZORDER / INTERLEAVE / Q2DI address forms
  // -------------------------------------------------------------------

  /** Q2DI address "q i j" of a cell: the HALF-OPEN rhombus rep (i, j ∈
    * [0, 2^r)) for quad bases; "0 0 0" / "11 0 0" for the caps. The
    * reference's Q2DI output splits the same three fields
    * (igeo7_ext.py:69-72); the (i, j) origin convention is
    * engine-canonical, like Q2DI on the Z7/Z3 grids (see SeqProbe).
    */
  def toQ2di(z: Long): (Int, Long, Long) = {
    val base = Z4.baseCell(z)
    if (base == 0 || base == 11) (base, 0L, 0L)
    else {
      val r = Z4.resolution(z)
      val n = pow2(r)
      var v = Zero
      var k = 1
      while (k <= r) { v = v * Two + stepFor(Z4.digit(z, k)); k += 1 }
      val (i0, j0) = ijOf(v)
      (base, ((i0 % n) + n) % n, ((j0 % n) + n) % n)
    }
  }

  def fromQ2di(base: Int, i: Long, j: Long, r: Int): Long = {
    require(base >= 0 && base <= 11, s"bad quad $base")
    if (base == 0 || base == 11) {
      require(i == 0 && j == 0, s"cap base $base requires (0,0), got ($i,$j)")
      Z4.pack(base, Seq.fill(r)(0))
    } else {
      val n = pow2(r)
      require(i >= 0 && i < n && j >= 0 && j < n, s"($i,$j) out of [0,$n) at res $r")
      Z4.pack(base, digitsOf(fromIJ(i, j), r).toSeq)
    }
  }

  /** ZORDER int64: [4b base][5b res][bit-interleaved i,j] — the
    * digit-interleaved Q2DI form (dggrid_runner.py:134 'especially
    * useful for ISEA3H, ISEA4H and mixed aperture'; engine-canonical
    * layout, same header shape as the aperture-3 ZORDER). i bits at even
    * offsets. Aperture-4 digits are single bits, so the full codec range
    * res ≤ 20 fits (2·20 = 40 digit bits < 55).
    */
  def toZorder(z: Long): Long = {
    val r = Z4.resolution(z)
    val (base, i, j) = toQ2di(z)
    var bits = 0L
    var k = 0
    while (k < r) {
      bits |= ((i >>> k) & 1L) << (2 * k)
      bits |= ((j >>> k) & 1L) << (2 * k + 1)
      k += 1
    }
    (base.toLong << 60) | (r.toLong << 55) | bits
  }

  def fromZorder(zo: Long): Long = {
    val base = ((zo >>> 60) & 0xFL).toInt
    val r = ((zo >>> 55) & 0x1FL).toInt
    require(r <= maxRes, s"bad ZORDER res $r")
    var i = 0L; var j = 0L
    var k = 0
    while (k < r) {
      i |= ((zo >>> (2 * k)) & 1L) << k
      j |= ((zo >>> (2 * k + 1)) & 1L) << k
      k += 1
    }
    fromQ2di(base, i, j, r)
  }

  /** ZORDER_STRING: 2-digit base + r interleaved binary digit pairs of
    * (i, j), most significant first (i digit before j digit) — the
    * aperture-4 reading of the aperture-3 convention (base-2 digits
    * instead of base-3).
    */
  def toZorderString(z: Long): String = {
    val r = Z4.resolution(z)
    val (base, i, j) = toQ2di(z)
    val sb = new StringBuilder(2 + 2 * r)
    if (base < 10) sb.append('0')
    sb.append(base)
    var k = r - 1
    while (k >= 0) {
      sb.append(('0' + ((i >>> k) & 1L)).toChar)
      sb.append(('0' + ((j >>> k) & 1L)).toChar)
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
      // per-digit radix check: without it a non-binary char (e.g. '3')
      // can still land inside the (i, j) range check and silently alias
      // a DIFFERENT valid cell instead of raising
      val ci = sx.charAt(2 + 2 * k) - '0'
      val cj = sx.charAt(3 + 2 * k) - '0'
      require(ci >= 0 && ci <= 1 && cj >= 0 && cj <= 1,
        s"bad ZORDER_STRING digit pair in '$sx' at position $k")
      i = i * 2 + ci
      j = j * 2 + cj
      k += 1
    }
    fromQ2di(base, i, j, r)
  }

}
