package graft.dggs

import Sphere._
import Lattice._

/** The aperture-3/4 hexagon kernels on the Snyder ISEA projection, pure
  * JVM: ISEA3H, ISEA4H and the mixed ISEA43H are one aperture sequence
  * (Sahr, White & Kimerling 2003) — `n4` leading aperture-4 levels, then
  * aperture-3 levels. ISEA3H is n4 = 0, ISEA4H is n4 = the lattice depth
  * 20, and ISEA43H takes the reference's `mixed_aperture_level`
  * (dggrid_runner.py:447-449, 533, 555; presets :70, :71, :75, aperture
  * parse :414-427). DGGRID publishes no golden ids for these grids, so
  * the id convention is ENGINE-CANONICAL: documented here and pinned by
  * property tests (Isea3HSpec, Isea4HSpec, Isea43HSpec) and by the
  * bit-exact ForwardPinSpec / InversePinSpec hashes.
  *
  * == Lattice structure ==
  * Res-r cell centers are the Eisenstein lattice points of density
  * N(F_r) = 4^min(r,n4)·3^max(0,r−n4) per quad rhombus, where F_r is the
  * product of the level factors f_1..f_r; descending to level k
  * multiplies the lattice by f_k:
  *  - aperture 4: the REAL factor 2 (norm 4) — no rotation, every level
  *    class I. Digits are the parity classes of (a, b), {0,1,2,3} with
  *    unit steps 0 / E1=(1,0) / E2=(0,1) / E3=(−1,1) (E3 is the unit
  *    representative of the (odd, odd) class; (1,1) is at distance √3).
  *    All four child centers lie INSIDE the closed parent hexagon: the
  *    center child at distance 0, digits 1-3 one child unit away (the
  *    parent circumradius is 2/√3 child units);
  *  - aperture 3: norm-3 factors alternating 2−ω (−30°, class II) and
  *    1+ω (+30°, class I again), counted from the first aperture-3
  *    level — the published class-I/class-II alternation (§4.1). The
  *    residues mod either factor are {0,1,2}, with E1 and E2 as the
  *    steps of classes 1 and 2 (mod 2−ω: a+2b; mod 1+ω: a−b). Child
  *    centers sit one child unit from the parent center — the deep holes
  *    of the parent lattice, i.e. ON the parent hexagon's boundary.
  * Hexagons of either aperture do not nest; the hierarchy is index-space
  * with these exact geometric child relations. All hierarchy arithmetic
  * is exact integer math in Z[ω]: digit d = residue of v mod f_k, parent
  * = (v − step(d))/f_k. Digits depend only on v mod F_r, so every chart
  * representative of a cell yields the same digit string.
  *
  * == Cell identity and ownership ==
  * A res-r cell is (base, digit string) in the kernel's [[SlotCodec]]
  * (Z3 for ISEA3H; Z4 for ISEA4H and ISEA43H, whose aperture-3 levels
  * use digits 0-2). Quad bases 1-10 each own exactly N(F_r) cells — the
  * residue classes mod F_r of their chart lattice — so ids are bijective
  * by construction; the 2 extra cells (10·N(F_r) + 2 in total, the
  * closed-form stats) are the cap vertices v0/v11, bases 0 and 11.
  * Boundary classes route to ONE canonical owner by the shared
  * [[QuadOwnership]] rules, which depend only on the quad layout, not on
  * the aperture. A quad's all-zero digit path is its owned corner, so
  * `isPentagon ⇔ digits all 0`, as in Z7.
  *
  * Seam caveat: for the re-homed boundary classes (an O(N(F_r)^{-1/2})
  * fraction of cells), the index parent-child step crosses the quad seam
  * — the child relation holds through the chart translate, not raw chart
  * adjacency. The kernel specs quantify this: every non-seam cell
  * satisfies the relation exactly.
  *
  * == Address forms ==
  * Rhombus numerators are REDUCED: (i, j) over M_r = 2^min(r,n4)·
  * 3^max(0,r−n4) (v·conj(F_r) always carries the common divisor
  * 2^min(r,n4)), so Q2DI is (quad, i, j) with i, j ∈ [0, M_r), caps
  * (0|11, 0, 0) — an engine-canonical origin, like Q2DI on Z7.
  * ZORDER_STRING interleaves the mixed-radix digits of (i, j): radix 2
  * at aperture-4 levels, 3 at aperture-3 levels, most significant first,
  * with no depth limit. INTERLEAVE is output-only and equals
  * ZORDER_STRING (dggrid_runner.py:124). The ZORDER int64 is
  * [4b base][5b res][55-bit payload]; its payload is the one per-kernel
  * layout: ISEA3H/ISEA4H bit-interleave i and j (i bits at even
  * offsets), ISEA43H packs the mixed-radix digit pairs. `ZorderMaxRes`
  * is the deepest res whose payload fits.
  */
sealed abstract class HexKernel(val spec: KernelSpec, val idName: String, val n4: Int,
                                val codec: SlotCodec, bitInterleavedZorder: Boolean)
    extends DggsKernel with HexWalkerCore {
  import HexKernel.LatticeMaxRes
  require(n4 >= 0 && n4 <= LatticeMaxRes, s"mixed_aperture_level $n4 out of [0,$LatticeMaxRes]")

  val ico = new Icosahedron(spec.lat0, spec.lon0, spec.az)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  import quads.s

  def maxRes: Int = codec.maxRes
  def slotBits: Int = codec.slotBits
  def radixAt(level: Int): Int = if (level <= n4) 4 else 3
  override val capBases: Seq[Int] = Seq(0, 11)
  def resolution(z: Long): Int = codec.resolution(z)
  def parent(z: Long): Long = codec.parent(z)
  def ancestorAt(z: Long, r: Int): Long = codec.ancestorAt(z, r)
  def ancestorKey(z: Long, r: Int): Long = codec.ancestorKey(z, r)
  def toCellString(z: Long): String = codec.toCellString(z)
  def fromCellString(s: String): Long = codec.fromCellString(s)

  /** level factor f_k: 2 at aperture-4 levels; then 2−ω (arg −30°) at
    * odd and 1+ω (arg +30°) at even aperture-3 levels
    */
  def levelFactor(k: Int): Eis =
    if (k <= n4) Eis(2, 0)
    else if ((k - n4) % 2 == 1) Eis(2, -1)
    else Eis(1, 1)

  private val factors: Array[Eis] = Array.tabulate(LatticeMaxRes + 1)(k =>
    if (k == 0) Eis(1, 0) else levelFactor(k))
  private val conjA: Array[Long] = factors.map(_.conj.a)
  private val conjB: Array[Long] = factors.map(_.conj.b)
  private val factorEis: Array[Eis] = factors.scanLeft(Eis(1, 0))(_ * _).tail
  private val factorC: Array[(Double, Double)] = factorEis.map(_.toXY)
  /** reduced rhombus denominators M_r = 2^min(r,n4)·3^max(0,r−n4) */
  private val mDen: Array[Long] = factorEis.indices.map(r =>
    (1 to r).map(k => if (k <= n4) 2L else 3L).product).toArray

  /** the res-r factor product F_r */
  def factorProductAt(r: Int): Eis = factorEis(r)
  def rhombusDenominator(r: Int): Long = mDen(r)

  /** canonical step of digit d at level k: 0, E1, E2, and E3 = −1+ω at
    * aperture-4 levels
    */
  def stepFor(k: Int, d: Int): Eis = {
    require(d < radixAt(k), s"digit $d at aperture-${radixAt(k)} level $k")
    HexKernel.Steps(d)
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

  override protected def spacingFrac(r: Int): Double =
    1.0 / math.sqrt(factorEis(r).norm.toDouble)

  /** REDUCED rhombus numerators (i, j) of `v` at res r: uv = (i, j)/M_r,
    * i along quad basis A, j along B
    */
  def ijOf(v: Eis, r: Int): (Long, Long) = {
    val w = v * factorEis(r).conj
    val t = math.min(r, n4)
    require(((w.a | w.b) & ((1L << t) - 1)) == 0, s"non-reduced numerators for $v at res $r")
    (w.a >> t, w.b >> t)
  }
  /** inverse of ijOf (exact): v = (i + jω)·F_r/M_r */
  def fromIJ(i: Long, j: Long, r: Int): Eis = {
    val n = Eis(i, j) * factorEis(r)
    val m = mDen(r)
    require(n.a % m == 0 && n.b % m == 0, s"($i,$j) not a res-$r point")
    Eis(n.a / m, n.b / m)
  }

  // -------------------------------------------------------------------
  // Canonical boundary ownership (one QuadOwnership for every aperture)
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

  /** point -> packed cell id at res r: the nearest center (fixQV), folded
    * into a closed rhombus, then its canonical owner's digit walk
    */
  def cellForPoint(p: GeoRad, r: Int): Long = {
    require(r >= 0 && r <= LatticeMaxRes, s"res $r out of [0,$LatticeMaxRes]")
    val (q0, v0) = fixQV(p, r)
    val (q, v) = foldQV(q0, v0, r)
    cellForFix(q, v, r)
  }

  /** canonical id of a closed-rhombus rep `v` of quad `quad` */
  private def cellForFix(quad: Int, v: Eis, r: Int): Long = {
    val n = mDen(r)
    val (i, j) = ijOf(v, r)
    val cs = quads.corners(quad)
    def norm(a: Int, b: Int) = if (a < b) (a, b) else (b, a)
    // corners: vertex pentagons (all-zero paths of their owning base)
    val cornerIdx =
      if (i == 0L && j == 0L) 0
      else if (i == n && j == 0L) 1
      else if (i == 0L && j == n) 2
      else if (i == n && j == n) 3
      else -1
    if (cornerIdx >= 0) return codec.padded(vertexBase(cs(cornerIdx)), r)
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
        residueWalk(q2, if (q2 == quad) v else foldQVToQuad(quad, v, r, q2, e), r)
      case None => residueWalk(quad, v, r)
    }
  }

  /** packed id of lattice point `v` in quad `base` at res r. From level r
    * up to 1, the residue of v mod f_k is the digit d, and the parent is
    * (v − step(d))·conj(f_k)/N(f_k), exact in Z[ω]; each digit goes
    * straight into its codec slot.
    */
  private def residueWalk(base: Int, v: Eis, r: Int): Long = {
    var id = codec.padded(base, r)
    var a = v.a; var b = v.b
    var k = r
    while (k >= 1) {
      val d =
        if (k <= n4) ((a & 1L) + 2L * (b & 1L)).toInt
        else {
          val m = if (((k - n4) & 1) == 1) a + 2 * b else a - b // mod 2−ω : mod 1+ω
          (((m % 3) + 3) % 3).toInt
        }
      val x = a - HexKernel.StepA(d); val y = b - HexKernel.StepB(d)
      val ca = conjA(k); val cb = conjB(k)
      val pa = x * ca - y * cb
      val pb = x * cb + y * ca + y * cb
      if (k <= n4) { // N(2) = 4
        if (((pa | pb) & 3L) != 0) throw new IllegalStateException(s"($a,$b) mod 2 at level $k")
        a = pa >> 2; b = pb >> 2
      } else {       // N(2−ω) = N(1+ω) = 3
        if (pa % 3 != 0 || pb % 3 != 0) throw new IllegalStateException(s"($a,$b) mod 3 at level $k")
        a = pa / 3; b = pb / 3
      }
      id |= d.toLong << codec.shiftAt(k)
      k -= 1
    }
    id
  }

  /** fold a (quad, rep) across quad edges until its rep lies in the
    * CLOSED rhombus of its chart (exact isometries re-rounded to the
    * lattice).
    */
  private def foldQV(quad: Int, rep: Eis, res: Int): (Int, Eis) = {
    var q = quad; var v = rep
    var guard = 0
    val n = mDen(res)
    while (guard < 12) {
      val (i, j) = ijOf(v, res)
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

  /** re-express a rhombus-boundary rep in the chart of quad `toQ` (which
    * shares the boundary edge)
    */
  private def foldQVToQuad(quad: Int, rep: Eis, res: Int, toQ: Int, edge: (Int, Int)): Eis = {
    val ei = 4 * quad + quads.edgeIndex(quad, edge)
    require(quads.nbrQuad(ei) == toQ, s"edge $edge of quad $quad leads to ${quads.nbrQuad(ei)}, not $toQ")
    val (x, y) = latticeToChart(rep, res)
    val (na, nb) = chartToLattice(quads.crossX(ei, x, y), quads.crossY(ei, x, y), res)
    hexRound(na, nb)
  }

  // -------------------------------------------------------------------
  // Hierarchy
  // -------------------------------------------------------------------

  /** index-space children: radixAt(r + 1) digits for a quad cell, only
    * the center child for a cap
    */
  def children(z: Long): Seq[Long] = {
    val b = codec.baseCell(z)
    if (b == 0 || b == 11) Seq(codec.child(z, 0))
    else (0 until radixAt(codec.resolution(z) + 1)).map(codec.child(z, _))
  }

  def descendants(z: Long, toRes: Int): Seq[Long] = {
    val r = codec.resolution(z)
    require(toRes >= r, s"toRes $toRes < res $r")
    var cur = Seq(z)
    var i = r
    while (i < toRes) { cur = cur.flatMap(children); i += 1 }
    cur
  }

  // -------------------------------------------------------------------
  // Cell -> geometry
  // -------------------------------------------------------------------

  /** (i, j) ∈ [0, M_r)² of a quad-based id at res r: the principal value
    * of the digit recurrence v_k = v_{k−1}·f_k + step(d_k), reduced mod M_r
    */
  private def principalIJ(z: Long, r: Int): (Long, Long) = {
    var a = 0L; var b = 0L
    var k = 1
    while (k <= r) {
      val f = factors(k); val s = stepFor(k, codec.digit(z, k))
      val na = a * f.a - b * f.b + s.a
      b = a * f.b + b * f.a + b * f.b + s.b
      a = na
      k += 1
    }
    val (i, j) = ijOf(Eis(a, b), r)
    (Math.floorMod(i, mDen(r)), Math.floorMod(j, mDen(r)))
  }

  /** decode a quad-based id to its OWNED representative (i, j) — the
    * half-open rep with lost-edge classes re-homed on their far-edge
    * translates and residue 0 on the owned corner.
    */
  def ownedIJ(z: Long): (Int, Long, Long) = {
    val base = codec.baseCell(z)
    require(base >= 1 && base <= 10, s"ownedIJ on cap base $base")
    val r = codec.resolution(z)
    val n = mDen(r)
    val (i, j) = principalIJ(z, r)
    if (i == 0L && j == 0L) {
      // residue 0: the owned corner (C for northern, O for southern)
      if (ownedCornerIdx(base) == 3) (base, n, n) else (base, 0L, 0L)
    } else if (j == 0L && !ownsOA(base)) (base, i, n) // re-home O-A -> B-C
    else if (i == 0L && !ownsOB(base)) (base, n, j)   // re-home O-B -> A-C
    else (base, i, j)
  }

  /** cell center on the sphere; owned reps lie in the closed rhombus (an
    * edge rep is a shared sphere point, the same in either chart)
    */
  def cellCenter(z: Long): GeoRad = codec.baseCell(z) match {
    case 0 => ico.vertices(capVerts._1)
    case 11 => ico.vertices(capVerts._2)
    case base =>
      val r = codec.resolution(z)
      val (_, i, j) = ownedIJ(z)
      val (x, y) = latticeToChart(fromIJ(i, j, r), r)
      quads.quadToSphere(base, x, y)
  }

  /** cell boundary: 6 hexagon corners (each ⅓ of the two adjacent unit
    * sums, the hex Voronoi vertices), 5 for the vertex pentagons.
    */
  def cellBoundary(z: Long): Array[GeoRad] = {
    val base = codec.baseCell(z)
    val r = codec.resolution(z)
    if (codec.isPentagon(z)) {
      val vtx =
        if (base == 0) capVerts._1
        else if (base == 11) capVerts._2
        else quads.corners(base)(ownedCornerIdx(base))
      return pentagonBoundary(vtx, r)
    }
    val (q, i, j) = ownedIJ(z)
    val (cx, cy) = latticeToChart(fromIJ(i, j, r), r)
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
        val (x, y) = latticeToChart(Eis(c.a + u.a, c.b + u.b), r)
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
  // Q2DI / ZORDER / ZORDER_STRING / INTERLEAVE address forms
  // -------------------------------------------------------------------

  def toQ2di(z: Long): (Int, Long, Long) = {
    val base = codec.baseCell(z)
    if (base == 0 || base == 11) (base, 0L, 0L)
    else {
      val (i, j) = principalIJ(z, codec.resolution(z))
      (base, i, j)
    }
  }

  def fromQ2di(base: Int, i: Long, j: Long, r: Int): Long = {
    require(base >= 0 && base <= 11, s"bad quad $base")
    if (base == 0 || base == 11) {
      require(i == 0 && j == 0, s"cap base $base requires (0,0), got ($i,$j)")
      codec.padded(base, r)
    } else {
      require(r >= 0 && r <= LatticeMaxRes, s"res $r out of [0,$LatticeMaxRes]")
      val n = mDen(r)
      require(i >= 0 && i < n && j >= 0 && j < n, s"($i,$j) out of [0,$n) at res $r")
      residueWalk(base, fromIJ(i, j, r), r)
    }
  }

  /** radix of the level-k digit of i and j: 2 at aperture-4 levels, 3 at
    * aperture-3 levels (their product over levels 1..r is M_r)
    */
  @inline private def ijRadix(k: Int): Long = if (k <= n4) 2L else 3L
  /** level-k mixed-radix digit of x ∈ [0, M_r); level 1 is the most significant */
  @inline private def ijDigit(x: Long, k: Int, r: Int): Long =
    (x / (mDen(r) / mDen(k))) % ijRadix(k)

  /** deepest res whose ZORDER payload fits its 55 bits: bit-interleaved
    * (i, j) need M_r ≤ 2^27 (ISEA3H 17, ISEA4H 20), mixed-radix digit
    * pairs M_r² ≤ 2^55 (17 for n4 = 0 up to 20)
    */
  val ZorderMaxRes: Int = mDen.lastIndexWhere(m =>
    if (bitInterleavedZorder) m <= (1L << 27) else m <= (1L << 55) / m)

  def toZorder(z: Long): Long = {
    val r = codec.resolution(z)
    require(r <= ZorderMaxRes, s"ZORDER supports res <= $ZorderMaxRes on ${spec.kind}, got $r")
    val (base, i, j) = toQ2di(z)
    var bits = 0L
    if (bitInterleavedZorder) {
      var k = 0
      while (k < 27) {
        bits |= ((i >>> k) & 1L) << (2 * k)
        bits |= ((j >>> k) & 1L) << (2 * k + 1)
        k += 1
      }
    } else {
      var k = 1
      while (k <= r) {
        val b = ijRadix(k)
        bits = bits * (b * b) + ijDigit(i, k, r) * b + ijDigit(j, k, r)
        k += 1
      }
    }
    (base.toLong << 60) | (r.toLong << 55) | bits
  }

  def fromZorder(zo: Long): Long = {
    val base = ((zo >>> 60) & 0xFL).toInt
    val r = ((zo >>> 55) & 0x1FL).toInt
    require(r <= ZorderMaxRes, s"bad ZORDER res $r on ${spec.kind}")
    var i = 0L; var j = 0L
    if (bitInterleavedZorder) {
      var k = 0
      while (k < 27) {
        i |= ((zo >>> (2 * k)) & 1L) << k
        j |= ((zo >>> (2 * k + 1)) & 1L) << k
        k += 1
      }
    } else {
      var bits = zo & ((1L << 55) - 1)
      var k = r
      while (k >= 1) {
        val b = ijRadix(k); val w = mDen(r) / mDen(k)
        j += (bits % b) * w; bits /= b
        i += (bits % b) * w; bits /= b
        k -= 1
      }
    }
    fromQ2di(base, i, j, r)
  }

  /** ZORDER_STRING: 2-digit base + r interleaved mixed-radix digit pairs
    * of (i, j), most significant first (i digit before j digit)
    */
  def toZorderString(z: Long): String = {
    val r = codec.resolution(z)
    val (base, i, j) = toQ2di(z)
    val sb = new StringBuilder(2 + 2 * r)
    if (base < 10) sb.append('0')
    sb.append(base)
    var k = 1
    while (k <= r) {
      sb.append(('0' + ijDigit(i, k, r)).toChar)
      sb.append(('0' + ijDigit(j, k, r)).toChar)
      k += 1
    }
    sb.toString
  }

  def fromZorderString(sx: String): Long = {
    require(sx.length >= 2 && (sx.length - 2) % 2 == 0, s"bad ZORDER_STRING '$sx'")
    val base = sx.substring(0, 2).toInt
    val r = (sx.length - 2) / 2
    require(r <= LatticeMaxRes, s"bad ZORDER_STRING '$sx': res $r > $LatticeMaxRes")
    var i = 0L; var j = 0L
    var k = 1
    while (k <= r) {
      // per-digit radix check against the level's radix: an out-of-radix
      // char can land inside the (i, j) range check and silently alias a
      // DIFFERENT valid cell instead of raising
      val b = ijRadix(k)
      val ci = sx.charAt(2 * k) - '0'
      val cj = sx.charAt(2 * k + 1) - '0'
      require(ci >= 0 && ci < b && cj >= 0 && cj < b,
        s"bad ZORDER_STRING digit pair in '$sx' at position ${k - 1}")
      i = i * b + ci
      j = j * b + cj
      k += 1
    }
    fromQ2di(base, i, j, r)
  }

  def toInterleave(z: Long): String = toZorderString(z)
}

object HexKernel {
  /** deepest resolution of the lattice tables (the Z3 codec goes deeper) */
  val LatticeMaxRes = 20

  /** digit steps 0, E1 = (1,0), E2 = (0,1), E3 = (−1,1) */
  private val Steps: Array[Eis] = Array(Zero, Eis(1, 0), Eis(0, 1), Eis(-1, 1))
  private val StepA: Array[Long] = Steps.map(_.a)
  private val StepB: Array[Long] = Steps.map(_.b)
}

/** ISEA3H: aperture 3 at every level, Z3 ids, bit-interleaved ZORDER */
final class Isea3H(vert0LatDeg: Double = DggsKernel.DefaultLat,
                   vert0LonDeg: Double = DggsKernel.DefaultLon,
                   azimuthDeg: Double = DggsKernel.DefaultAz)
  extends HexKernel(KernelSpec("ISEA3H", 0, vert0LatDeg, vert0LonDeg, azimuthDeg), "Z3",
    0, Z3, bitInterleavedZorder = true)

/** ISEA4H: aperture 4 at every level, Z4 ids, bit-interleaved ZORDER */
final class Isea4H(vert0LatDeg: Double = DggsKernel.DefaultLat,
                   vert0LonDeg: Double = DggsKernel.DefaultLon,
                   azimuthDeg: Double = DggsKernel.DefaultAz)
  extends HexKernel(KernelSpec("ISEA4H", 0, vert0LatDeg, vert0LonDeg, azimuthDeg), "Z4",
    HexKernel.LatticeMaxRes, Z4, bitInterleavedZorder = true)

/** ISEA43H: `n4` aperture-4 levels, then aperture 3; Z4 slots ("Z43"),
  * mixed-radix ZORDER
  */
final class Isea43H(n4: Int,
                    vert0LatDeg: Double = DggsKernel.DefaultLat,
                    vert0LonDeg: Double = DggsKernel.DefaultLon,
                    azimuthDeg: Double = DggsKernel.DefaultAz)
  extends HexKernel(KernelSpec("ISEA43H", n4, vert0LatDeg, vert0LonDeg, azimuthDeg), "Z43",
    n4, Z4, bitInterleavedZorder = false)
