package graft.dggs

import Sphere._
import Lattice._

/** ISEA43H kernel: MIXED-aperture hexagonal DGGS on the Snyder ISEA
  * projection — `n4` leading aperture-4 resolutions followed by
  * aperture-3 resolutions (the reference preset at dggrid_runner.py:75,
  * parameterized by `mixed_aperture_level` = dggs_num_aperture_4_res,
  * dggrid_runner.py:447-449, 533, 555). Pure JVM, ENGINE-CANONICAL ids
  * (no golden ISEA43H cell ids exist anywhere in the reference tree;
  * the digit convention is pinned by the PURE-EQUIVALENCE property
  * instead: with n4 = 0 this kernel reproduces Isea3H's ids EXACTLY,
  * and with n4 ≥ res it reproduces Isea4H's — Isea43HSpec proves both
  * over full id enumerations and random point assignment).
  *
  * == Lattice structure ==
  * Descending to level k multiplies the lattice by factor f_k: the real
  * integer 2 for k ≤ n4 (norm 4, class I — no rotation), then the
  * alternating norm-3 pair 2−ω / 1+ω for k > n4 (the Isea3H
  * class-I/class-II alternation, indexed by the count of aperture-3
  * levels so far). Digits are the residues of Z[ω] mod f_k — parity
  * classes {0,1,2,3} with unit steps {0, E1, E2, −1+ω} for aperture-4
  * levels, the Isea3H residues {0,1,2} with steps {0, E1, E2} for
  * aperture-3 levels. All hierarchy arithmetic is exact integer math;
  * digits depend only on v mod F_r (the level-factor product), so every
  * chart representative of a cell yields the same digit string.
  *
  * == Cell identity and ownership ==
  * A res-r cell is (base, digit string) packed in the shared 3-bit-digit
  * layout (Z4.pack — digits 0-3 fit; aperture-3 levels only use 0-2).
  * Quad bases 1-10 each own exactly 4^min(r,n4)·3^max(0,r−n4) cells;
  * total 10·4^a·3^b + 2 with the two cap vertices as bases 0/11.
  * Boundary classes route to ONE canonical owner via the shared
  * QuadOwnership rules (aperture-independent). `isPentagon ⇔ digits all
  * 0`, as in Z7/Z3/Z4.
  *
  * == Address forms ==
  * Rhombus numerators are REDUCED: (i, j) over the denominator
  * M_r = 2^min(r,n4)·3^max(0,r−n4) (the factor product always carries a
  * 2^n4 common divisor in v·conj(F_r); dividing it out makes the pure
  * cases collapse to both pure kernels' conventions — i,j ∈ [0, 2^r)
  * for pure aperture 4, [0, 3^r) for pure aperture 3). ZORDER_STRING
  * interleaves the MIXED-RADIX digits of (i, j): radix 2 at aperture-4
  * levels, radix 3 at aperture-3 levels, most significant first —
  * exactly the Isea3H/Isea4H conventions in the pure cases. ZORDER
  * int64 packs the same digit stream when 4^a·9^b fits 55 bits.
  * INTERLEAVE is output-only (= ZORDER_STRING), the reference's own
  * directionality (dggrid_runner.py:124: 'only available for hexagonal
  * aperture 3 and 4 grids' — the mixed grid is their sequence).
  */
final class Isea43H(val n4: Int,
                    vert0LatDeg: Double = 58.28252559,
                    vert0LonDeg: Double = 11.25,
                    azimuthDeg: Double = 0.0) extends HexWalker with HexAddressing {
  require(n4 >= 0 && n4 <= Z4.MaxRes, s"mixed_aperture_level $n4 out of [0,${Z4.MaxRes}]")

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  import quads.s

  val spec: KernelSpec = KernelSpec("ISEA43H", n4, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "Z43"
  def toCellString(z: Long): String = Z4.toZ4String(z)
  def fromCellString(s: String): Long = Z4.fromZ4String(s)
  def slotBits: Int = 3
  def radixAt(level: Int): Int = apertureAt(level)
  override def capBases: Seq[Int] = Seq(0, 11)
  def resolution(z: Long): Int = Z4.resolution(z)
  def parent(z: Long): Long = Z4.parent(z)
  def ancestorAt(z: Long, r: Int): Long = Z4.ancestorAt(z, r)

  val maxRes: Int = Z4.MaxRes

  /** aperture used descending TO level k (1-based) */
  @inline def apertureAt(k: Int): Int = if (k <= n4) 4 else 3

  /** level factor: 2 for aperture-4 levels; the Isea3H alternation
    * (odd 3-level 2−ω, even 3-level 1+ω) indexed by the count of
    * aperture-3 levels for the rest.
    */
  def levelFactor(k: Int): Eis =
    if (k <= n4) Eis(2, 0)
    else if ((k - n4) % 2 == 1) Eis(2, -1) // 2−ω, arg −30°
    else Eis(1, 1)                          // 1+ω, arg +30°

  private val factorEis: Array[Eis] = {
    val arr = new Array[Eis](maxRes + 1)
    var f = Eis(1, 0)
    arr(0) = f
    for (k <- 1 to maxRes) { f = f * levelFactor(k); arr(k) = f }
    arr
  }
  private val factorC: Array[(Double, Double)] = factorEis.map(_.toXY)
  /** the res-r factor product F_r (spec access) */
  def factorProductAt(r: Int): Eis = factorEis(r)
  /** 2^min(r,n4) — the reducible common divisor of v·conj(F_r) */
  private val gRed: Array[Long] = {
    val arr = new Array[Long](maxRes + 1)
    for (r <- 0 to maxRes) arr(r) = 1L << math.min(r, n4)
    arr
  }
  /** reduced rhombus denominator M_r = 2^min(r,n4)·3^max(0,r−n4) */
  private val mDen: Array[Long] = {
    val arr = new Array[Long](maxRes + 1)
    arr(0) = 1L
    for (k <- 1 to maxRes) arr(k) = arr(k - 1) * (if (k <= n4) 2L else 3L)
    arr
  }
  def rhombusDenominator(r: Int): Long = mDen(r)

  /** digit of `v` mod the level-k factor */
  @inline def residueAt(v: Eis, k: Int): Int =
    if (k <= n4) ((v.a & 1L) + 2L * (v.b & 1L)).toInt
    else {
      val m = if ((k - n4) % 2 == 1) v.a + 2 * v.b else v.a - v.b // 2−ω : 1+ω
      (((m % 3) + 3) % 3).toInt
    }
  /** canonical step for digit d at level k */
  @inline def stepFor(k: Int, d: Int): Eis = d match {
    case 0 => Zero
    case 1 => Eis(1, 0)
    case 2 => Eis(0, 1)
    case 3 =>
      require(k <= n4, s"digit 3 at aperture-3 level $k")
      Eis(-1, 1)
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

  /** REDUCED rhombus numerators (i, j) of `v` at res r: uv = (i, j)/M_r,
    * i along quad basis A, j along B. v·conj(F_r) always carries the
    * common divisor 2^min(r,n4).
    */
  def ijOf(v: Eis, r: Int): (Long, Long) = {
    val w = v * factorEis(r).conj
    val g = gRed(r)
    require(w.a % g == 0 && w.b % g == 0, s"non-reduced numerators for $v at res $r")
    (w.a / g, w.b / g)
  }
  /** inverse of ijOf (exact): v = (i + jω)·F_r/M_r */
  def fromIJ(i: Long, j: Long, r: Int): Eis = {
    val n = Eis(i, j) * factorEis(r)
    val m = mDen(r)
    require(n.a % m == 0 && n.b % m == 0, s"($i,$j) not a res-$r point")
    Eis(n.a / m, n.b / m)
  }

  // -------------------------------------------------------------------
  // Canonical boundary ownership (shared with Isea3H / Isea4H)
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

  final case class FixM(quad: Int, v: Eis, res: Int)

  /** nearest res-r cell center to a sphere point: hex Voronoi in the
    * point's quad chart, with cross-quad candidates near boundaries
    * (Isea3H.fixForPoint's pattern at the mixed-lattice spacing).
    */
  def fixForPoint(p: GeoRad, r: Int): FixM = {
    val (q, v) = fixQV(p, r)
    FixM(q, v, r)
  }
  /** fold a fix across quad edges until its rep lies in the CLOSED
    * rhombus of its chart (exact isometries re-rounded to the lattice).
    */
  def foldToRhombus(fix: FixM): FixM = {
    val (q, v) = foldQV(fix.quad, fix.v, fix.res)
    FixM(q, v, fix.res)
  }
  /** re-express a rhombus-boundary fix in the chart of quad `toQ`
    * (which shares the boundary edge).
    */
  private def foldToQuad(fix: FixM, toQ: Int, edge: (Int, Int)): FixM = {
    val (q, v) = foldQVToQuad(fix.quad, fix.v, fix.res, toQ, edge)
    FixM(q, v, fix.res)
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
      cur = (cur - stepFor(k, d)).divExact(levelFactor(k))
      k -= 1
    }
    out
  }

  /** point -> packed cell id at res r (3-bit-digit layout, Z4.pack) */
  def cellForPoint(p: GeoRad, r: Int): Long = {
    require(r >= 0 && r <= maxRes, s"res $r out of [0,$maxRes]")
    val fix = foldToRhombus(fixForPoint(p, r))
    cellForFix(fix)
  }

  /** canonical packed id of a closed-rhombus fix */
  def cellForFix(fix: FixM): Long = {
    val r = fix.res
    val n = mDen(r)
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

  /** index-space children: digit range depends on the NEXT level's
    * aperture (4 digits through level n4, 3 after); caps have only the
    * center child. This is the one hierarchy op the static codec cannot
    * provide — the digit alphabet is per-level.
    */
  def children(z: Long): Seq[Long] = {
    val b = Z4.baseCell(z)
    if (b == 0 || b == 11) Seq(Z4.child(z, 0))
    else {
      val next = Z4.resolution(z) + 1
      (0 until apertureAt(next)).map(Z4.child(z, _))
    }
  }

  def descendants(z: Long, toRes: Int): Seq[Long] = {
    val r = Z4.resolution(z)
    require(toRes >= r, s"toRes $toRes < res $r")
    var cur = Seq(z)
    var i = r
    while (i < toRes) { cur = cur.flatMap(children); i += 1 }
    cur
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
    val n = mDen(r)
    // principal value of the digit recurrence v_k = v_{k-1}·f_k + s(d_k)
    var v = Zero
    var k = 1
    while (k <= r) {
      v = v * levelFactor(k) + stepFor(k, Z4.digit(z, k))
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
    val base = Z4.baseCell(z)
    if (base == 0) ico.vertices(capVerts._1)
    else if (base == 11) ico.vertices(capVerts._2)
    else {
      val r = Z4.resolution(z)
      val (_, i, j) = ownedIJ(z)
      val (x, y) = latticeToChart(fromIJ(i, j, r), r)
      quads.quadToSphere(base, x, y)
    }
  }

  /** chart position -> sphere, re-charting across edges when outside */
  // chartToSphere: provided by HexWalker

  override protected def spacingFrac(r: Int): Double =
    1.0 / math.sqrt(factorEis(r).norm.toDouble)
  override protected def rhombusDenom(r: Int): Long = mDen(r)
  override protected def ijOfAt(v: Eis, r: Int): (Long, Long) = ijOf(v, r)
  /** cell boundary: 6 hexagon corners (hex Voronoi vertices), 5 for the
    * vertex pentagons.
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
  // ZORDER / INTERLEAVE / Q2DI address forms (mixed radix)
  // -------------------------------------------------------------------

  /** Q2DI address "q i j": the HALF-OPEN reduced rhombus rep (i, j ∈
    * [0, M_r)) for quad bases; caps are (0,0). Engine-canonical origin,
    * like Q2DI on the Z7/Z3/Z4 grids (see SeqProbe).
    */
  def toQ2di(z: Long): (Int, Long, Long) = {
    val base = Z4.baseCell(z)
    if (base == 0 || base == 11) (base, 0L, 0L)
    else {
      val r = Z4.resolution(z)
      val n = mDen(r)
      var v = Zero
      var k = 1
      while (k <= r) { v = v * levelFactor(k) + stepFor(k, Z4.digit(z, k)); k += 1 }
      val (i0, j0) = ijOf(v, r)
      (base, ((i0 % n) + n) % n, ((j0 % n) + n) % n)
    }
  }

  def fromQ2di(base: Int, i: Long, j: Long, r: Int): Long = {
    require(base >= 0 && base <= 11, s"bad quad $base")
    if (base == 0 || base == 11) {
      require(i == 0 && j == 0, s"cap base $base requires (0,0), got ($i,$j)")
      Z4.pack(base, Seq.fill(r)(0))
    } else {
      val n = mDen(r)
      require(i >= 0 && i < n && j >= 0 && j < n, s"($i,$j) out of [0,$n) at res $r")
      Z4.pack(base, digitsOf(fromIJ(i, j, r), r).toSeq)
    }
  }

  /** per-level mixed radix of the (i, j) digit streams: 2 for aperture-4
    * levels, 3 for aperture-3 (radix product = M_r).
    */
  @inline private def ijRadixAt(k: Int): Long = if (k <= n4) 2L else 3L

  /** mixed-radix digits of x over levels 1..r, most significant first
    * (level 1 is the most significant — its radix divides M_r/radix(1)
    * positions off the top, mirroring the pure kernels' digit order).
    */
  private def mixedDigits(x: Long, r: Int): Array[Int] = {
    val out = new Array[Int](r)
    var rem = x
    var k = r
    while (k >= 1) {
      val b = ijRadixAt(k)
      out(k - 1) = (rem % b).toInt
      rem /= b
      k -= 1
    }
    out
  }
  private def fromMixedDigits(ds: Array[Int]): Long = {
    var x = 0L
    var k = 1
    while (k <= ds.length) { x = x * ijRadixAt(k) + ds(k - 1); k += 1 }
    x
  }

  /** max res whose interleaved digit stream fits the 55-bit ZORDER
    * payload: 4^min(r,n4)·9^max(0,r−n4) ≤ 2^55.
    */
  val ZorderMaxRes: Int = {
    var r = 0
    var cap = java.math.BigInteger.ONE
    val lim = java.math.BigInteger.TWO.pow(55)
    var done = false
    while (!done && r < maxRes) {
      val next = cap.multiply(java.math.BigInteger.valueOf(
        if (r + 1 <= n4) 4L else 9L))
      if (next.compareTo(lim) <= 0) { cap = next; r += 1 } else done = true
    }
    r
  }

  /** ZORDER int64: [4b base][5b res][mixed-radix interleaved (i,j)
    * digit pairs] — pair value at level k is i_k·radix + j_k, pair radix
    * = radix², accumulated most-significant-level first.
    */
  def toZorder(z: Long): Long = {
    val r = Z4.resolution(z)
    require(r <= ZorderMaxRes, s"ZORDER supports res <= $ZorderMaxRes for n4=$n4, got $r")
    val (base, i, j) = toQ2di(z)
    val di = mixedDigits(i, r)
    val dj = mixedDigits(j, r)
    var bits = 0L
    var k = 1
    while (k <= r) {
      val b = ijRadixAt(k)
      bits = bits * (b * b) + di(k - 1) * b + dj(k - 1)
      k += 1
    }
    (base.toLong << 60) | (r.toLong << 55) | bits
  }

  def fromZorder(zo: Long): Long = {
    val base = ((zo >>> 60) & 0xFL).toInt
    val r = ((zo >>> 55) & 0x1FL).toInt
    require(r <= ZorderMaxRes, s"bad ZORDER res $r for n4=$n4")
    var bits = zo & ((1L << 55) - 1)
    val di = new Array[Int](r)
    val dj = new Array[Int](r)
    var k = r
    while (k >= 1) {
      val b = ijRadixAt(k)
      dj(k - 1) = (bits % b).toInt; bits /= b
      di(k - 1) = (bits % b).toInt; bits /= b
      k -= 1
    }
    fromQ2di(base, fromMixedDigits(di), fromMixedDigits(dj), r)
  }

  /** ZORDER_STRING: 2-digit base + r interleaved mixed-radix digit
    * pairs of (i, j), most significant first (i digit before j digit) —
    * collapses to the Isea3H convention for n4=0 and the Isea4H one for
    * n4 ≥ r.
    */
  def toZorderString(z: Long): String = {
    val r = Z4.resolution(z)
    val (base, i, j) = toQ2di(z)
    val di = mixedDigits(i, r)
    val dj = mixedDigits(j, r)
    val sb = new StringBuilder(2 + 2 * r)
    if (base < 10) sb.append('0')
    sb.append(base)
    var k = 1
    while (k <= r) {
      sb.append(('0' + di(k - 1)).toChar)
      sb.append(('0' + dj(k - 1)).toChar)
      k += 1
    }
    sb.toString
  }

  def fromZorderString(sx: String): Long = {
    require(sx.length >= 2 && (sx.length - 2) % 2 == 0, s"bad ZORDER_STRING '$sx'")
    val base = sx.substring(0, 2).toInt
    val r = (sx.length - 2) / 2
    val di = new Array[Int](r)
    val dj = new Array[Int](r)
    var k = 0
    while (k < r) {
      // per-digit radix check against the LEVEL's radix (2 through n4,
      // 3 after) — an out-of-radix char must raise, not alias another
      // cell (see Isea4H.fromZorderString)
      val rad = ijRadixAt(k + 1).toInt
      di(k) = sx.charAt(2 + 2 * k) - '0'
      dj(k) = sx.charAt(3 + 2 * k) - '0'
      require(di(k) >= 0 && di(k) < rad && dj(k) >= 0 && dj(k) < rad,
        s"bad ZORDER_STRING digit pair in '$sx' at position $k")
      k += 1
    }
    fromQ2di(base, fromMixedDigits(di), fromMixedDigits(dj), r)
  }

}
