package graft.dggs

import Sphere._
import Lattice._

/** The IGEO7 grid kernel: ISEA aperture-7 hexagonal DGGS with Z7
  * indexing, pure JVM (SURVEY.md §7 layers 1-2; replaces the reference's
  * external DGGRID binary, dggrid_runner.py:738-794).
  *
  * Conventions were calibrated against DGGRID golden output
  * (reference examples/igeo7_res_9.gpkg: 551 res-9 cells; reference
  * tests/test_dggrid.py Oregon res-4 cells):
  *
  *  - Cell identity = Z7 path. Hierarchy arithmetic is exact integer
  *    math in Z[ω] (Lattice): level k ascent multiplies by 3−ω (odd k)
  *    or 2+ω (even k).
  *  - Digit labels: in quad q, for a cell of base vertex v, the step
  *    with unit direction index i (i = angle/60° in the quad chart) maps
  *    to digit digitAtDirBase((i − shift(v,q)) mod 6) with the base
  *    table (3,1,5,4,6,2). shift(v,q) is derived from the per-vertex
  *    pentagon fan: labels run azimuth-increasing through the cycle
  *    (1,3,6,4,5) with the fan cut — where digit 2 would fall — on the
  *    vertex's cut edge (ring vertices: the edge toward their pole;
  *    v0: edge (0,3) [data]; v11: edge (7,11) [hypothesis, no data]).
  *  - Base-cell numbering mirrors vertex ring order (Oregon golden):
  *    bases (0..11) = vertices (0, 1, 5, 4, 3, 2, 10, 9, 8, 7, 6, 11).
  *  - Cells on a vertex's cut edge belong to the quad side whose walk
  *    does NOT start with digit 2.
  */
final class IGeo7(vert0LatDeg: Double = 58.28252559,
                  vert0LonDeg: Double = 11.25,
                  azimuthDeg: Double = 0.0) extends HexWalkerCore with DggsKernel {

  val ico = new Icosahedron(vert0LatDeg, vert0LonDeg, azimuthDeg)
  val snyder = new SnyderISEA(ico)
  val quads = new QuadLayout(ico, snyder)

  import quads.s

  val spec: KernelSpec = KernelSpec("IGEO7", 0, vert0LatDeg, vert0LonDeg, azimuthDeg)
  def idName: String = "Z7"
  def resolution(z: Long): Int = Z7.resolution(z)
  def parent(z: Long): Long = Z7.parent(z)
  def ancestorAt(z: Long, r: Int): Long = Z7.ancestorAt(z, r)
  def children(z: Long): Seq[Long] = Z7.children(z)
  def descendants(z: Long, toRes: Int): Seq[Long] = Z7.descendants(z, toRes)
  def toCellString(z: Long): String = Z7.toZ7String(z)
  def fromCellString(s: String): Long = Z7.fromZ7String(s)
  def slotBits: Int = 3
  def radixAt(level: Int): Int = 7
  override def pentagonsLoseAChild: Boolean = true

  val maxRes: Int = Z7.MaxRes
  private val factorEis: Array[Eis] = {
    val arr = new Array[Eis](maxRes + 1)
    var f = Eis(1, 0)
    arr(0) = f
    for (k <- 1 to maxRes) { f = f * levelFactor(k); arr(k) = f }
    arr
  }
  private val factorC: Array[(Double, Double)] = factorEis.map(_.toXY)

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

  /** quad corner (0=O,1=A,2=B,3=C) coords at res r */
  def cornerEis(corner: Int, r: Int): Eis = {
    val base = corner match {
      case 0 => Eis(0, 0); case 1 => Eis(1, 0); case 2 => Eis(0, 1); case 3 => Eis(1, 1)
    }
    base * factorEis(r)
  }

  // -------------------------------------------------------------------
  // Digit-labelling conventions
  // -------------------------------------------------------------------

  /** base digit for unit-direction index (idx = chart angle / 60°) */
  val digitAtDirBase: Array[Int] = Array(3, 1, 5, 4, 6, 2)
  val idxOfDigit: Array[Int] = {
    val a = new Array[Int](7)
    digitAtDirBase.zipWithIndex.foreach { case (d, i) => a(d) = i }
    a
  }
  private def dirIdx(u: Eis): Int = {
    val (ux, uy) = u.toXY
    (((math.round(math.atan2(uy, ux) * 180 / math.Pi) / 60) % 6 + 6) % 6).toInt
  }

  val vertexOfBase: Array[Int] = Array(0, 1, 5, 4, 3, 2, 10, 9, 8, 7, 6, 11)
  val baseOfVertex: Array[Int] = {
    val a = new Array[Int](12)
    vertexOfBase.zipWithIndex.foreach { case (v, b) => a(v) = b }
    a
  }

  /** cut edge per vertex (see class doc) */
  def cutEdge(v: Int): (Int, Int) = v match {
    case 0 => (0, 3)
    case k if k <= 5 => (0, k)
    case k if k <= 10 => (k, 11)
    case 11 => (7, 11)
  }

  /** shift(v, q): digit-table rotation for base vertex v in quad q;
    * sectorQuad(v, d): the quad holding digit d's sector around vertex v
    * (the quad in which the subtree of pentagon-child d is anchored).
    */
  val (shift: Map[(Int, Int), Int], sectorQuad: Map[(Int, Int), Int]) = {
    val secQ = scala.collection.mutable.Map[(Int, Int), Int]()
    val out = scala.collection.mutable.Map[(Int, Int), Int]()
    for (vtx <- 0 to 11) {
      // az-ordered odd-level in-wedge sectors around the vertex
      val secs = (for (qq <- quads.vertexQuads(vtx)) yield {
        val corner = quads.corners(qq).indexOf(vtx)
        val cEis = cornerEis(corner, 1)
        for (u <- Units.toSeq) yield {
          val p = Eis(cEis.a + u.a, cEis.b + u.b)
          val (px, py) = latticeToChart(p, 1)
          val (uu, vv) = quads.rhombusUV(px, py)
          if (uu > 1e-9 && uu < 1 - 1e-9 && vv > 1e-9 && vv < 1 - 1e-9) {
            val g = quads.quadToSphere(qq, px, py)
            val az = (toDeg(azimuth(ico.vertices(vtx), g)) + 360) % 360
            Some((qq, dirIdx(u), az))
          } else None
        }
      }).flatten.flatten.sortBy(_._3)
      require(secs.length == 5, s"v$vtx: ${secs.length} sectors")
      val ce = cutEdge(vtx)
      val cutPos = (0 until 5).find { i =>
        val a = secs(i)._1; val b = secs((i + 1) % 5)._1
        a != b && {
          val shared = (quads.corners(a).toSet intersect quads.corners(b).toSet)
          shared.contains(ce._1) && shared.contains(ce._2) && shared.contains(vtx)
        }
      }.getOrElse(sys.error(s"cut edge $ce not around v$vtx"))
      val pat = Array(6, 4, 5, 1, 3) // az-increasing after the cut
      for (j <- 0 until 5) {
        val (qq, idx, _) = secs((cutPos + 1 + j) % 5)
        val sh = ((idx - idxOfDigit(pat(j))) % 6 + 6) % 6
        out.get((vtx, qq)).foreach(prev =>
          require(prev == sh, s"inconsistent shift v$vtx q$qq"))
        out((vtx, qq)) = sh
        secQ((vtx, pat(j))) = qq
      }
    }
    (out.toMap, secQ.toMap)
  }

  def digitOf(v: Int, q: Int, step: Eis): Int =
    digitAtDirBase(((dirIdx(step) - shift((v, q))) % 6 + 6) % 6)

  def stepOf(v: Int, q: Int, digit: Int): Eis =
    Units(((idxOfDigit(digit) + shift((v, q))) % 6 + 6) % 6)

  /** shift table as a primitive array for the hot walk (vertex 0..11 ×
    * quad 1..10; -1 where not adjacent).
    */
  private val shiftArr: Array[Array[Int]] = {
    val a = Array.fill(12, 11)(-1)
    shift.foreach { case ((v, q), s) => a(v)(q) = s }
    a
  }
  /** digit of raw step code c (0 = no step, else unit index + 1) under
    * shift sh, at 7·sh + c
    */
  private val relabel: Array[Int] = Array.tabulate(42) { i =>
    val (sh, c) = (i / 7, i % 7)
    if (c == 0) 0 else digitAtDirBase(((c - 1 - sh) % 6 + 6) % 6)
  }

  // -------------------------------------------------------------------
  // Point -> cell
  // -------------------------------------------------------------------

  final case class CellFix(quad: Int, v: Eis, res: Int)

  /** nearest res-r cell center to a sphere point: hex Voronoi in the
    * point's quad chart, with cross-quad candidates near boundaries.
    */
  def fixForPoint(p: GeoRad, r: Int): CellFix = {
    val (q, v) = fixQV(p, r)
    CellFix(q, v, r)
  }
  override protected def spacingFrac(r: Int): Double =
    1.0 / math.pow(7.0, r / 2.0)

  /** integer hierarchy walk: digits of the fix's cell. Resolves cut-edge
    * ambiguity by retrying on the neighbour side when the first nonzero
    * digit comes out 2.
    */
  def digitsOf(fix: CellFix): (Int, Array[Int]) = {
    def walk(fix: CellFix): Option[(Int, Array[Int])] = {
      var v = fix.v
      val steps = new Array[Eis](fix.res)
      var k = fix.res
      while (k >= 1) {
        val (st, parent) = sevenSplit(v, levelFactor(k))
        steps(k - 1) = st
        v = parent
        k -= 1
      }
      val corner0 = v match {
        case Eis(0, 0) => 0
        case Eis(1, 0) => 1
        case Eis(0, 1) => 2
        case Eis(1, 1) => 3
        case _ => -1
      }
      if (corner0 < 0) None
      else {
        val vtx = quads.corners(fix.quad)(corner0)
        val digits = steps.map(st => if (st == Zero) 0 else digitOf(vtx, fix.quad, st))
        Some((vtx, digits))
      }
    }
    def valid(r: (Int, Array[Int])): Boolean = {
      val fnz = r._2.indexWhere(_ != 0)
      fnz < 0 || r._2(fnz) != 2
    }
    walk(fix).filter(valid) match {
      case Some(r) => r
      case None =>
        // the cell's label-home is across a quad edge (its ancestor sits
        // on a fan-cut edge): re-express the fix across each edge and
        // take the first clean walk
        val alt = Iterator.range(0, 4).flatMap(k => walk(crossFix(fix, k)).filter(valid))
        if (alt.hasNext) alt.next()
        else walk(fix).getOrElse(sys.error(s"walk failed for $fix"))
    }
  }

  /** re-express a fix across edge k of its quad (an exact isometry
    * mapping lattice points to lattice points).
    */
  private def crossFix(fix: CellFix, k: Int): CellFix = {
    val i = 4 * fix.quad + k
    val (x, y) = latticeToChart(fix.v, fix.res)
    val (na, nb) = chartToLattice(quads.crossX(i, x, y), quads.crossY(i, x, y), fix.res)
    CellFix(quads.nbrQuad(i), hexRound(na, nb), fix.res)
  }

  /** point -> Z7 cell id */
  def cellForPoint(p: GeoRad, r: Int): Long = {
    val fix = fixForPoint(p, r)
    val fast = fastWalk(fix)
    if (fast != -1L) fast else cutEdgeWalk(fix)
  }

  /** the cut-edge / cross-quad-home case (~1/6 of cells: the walk's first
    * nonzero digit came out 2, meaning the cell's label-home chart is
    * across a quad edge): retry the primitive walk on each re-expressed
    * fix — same order and validity rule as digitsOf — before the
    * allocating general path.
    */
  private[graft] def cutEdgeWalk(fix: CellFix): Long = {
    var k = 0
    while (k < 4) {
      val z = fastWalk(crossFix(fix, k))
      if (z != -1L) return z
      k += 1
    }
    val (vtx, digits) = digitsOf(fix)
    Z7.pack(baseOfVertex(vtx), digits.toSeq)
  }

  /** diagnostic hook for tools.BenchKernel (fallback-rate measurement) */
  def fastWalkProbe(fix: CellFix): Long = fastWalk(fix)

  /** allocation-free primitive walk covering the common case (ends at a
    * quad corner, no cut-edge retry needed). Returns the packed Z7, or
    * -1 to fall back to [[cutEdgeWalk]]. Same digits as digitsOf, in
    * exact integer arithmetic: Z[ω] modulo the level factor f is Z/7
    * with ω ≡ 3 (f = 3−ω, odd levels) or ω ≡ 5 (f = 2+ω, even levels),
    * so a + 3b or a + 5b mod 7 names the step, and the parent is
    * (v − step)·conj(f)/7, an exact division.
    */
  private def fastWalk(fix: CellFix): Long = {
    val r = fix.res
    var va = fix.v.a; var vb = fix.v.b
    var codes = 0L // per level k, at bits 3k: 0 = no step, else unit index + 1
    val stepA = IGeo7.StepA; val stepB = IGeo7.StepB; val stepCode = IGeo7.StepCode
    var k = r
    while (k >= 1) {
      val odd = k & 1
      var t = ((va + (5 - 2 * odd) * vb) % 7).toInt
      if (t < 0) t += 7
      val i = 7 * odd + t
      va -= stepA(i); vb -= stepB(i)
      codes |= stepCode(i) << (3 * k)
      // conj(3−ω) = 2+ω, conj(2+ω) = 3−ω
      val ca = 3L - odd; val cb = 2L * odd - 1L
      val pa = (va * ca - vb * cb) / 7
      val pb = (va * cb + vb * ca + vb * cb) / 7
      va = pa; vb = pb
      k -= 1
    }
    // res-0 position must be a quad corner: (0,0), (1,0), (0,1), (1,1)
    if (((va | vb) & ~1L) != 0L) return -1L
    val vtx = quads.corners(fix.quad)((va + 2 * vb).toInt)
    val sh = shiftArr(vtx)(fix.quad)
    if (sh < 0) return -1L
    // relabel step codes into digits; pad digits beyond r are all ones
    var out = (baseOfVertex(vtx).toLong << 60) | ((1L << (60 - 3 * r)) - 1L)
    var fnz = 0
    var kk = 1
    while (kk <= r) {
      val d = relabel(7 * sh + ((codes >>> (3 * kk)) & 0x7L).toInt)
      if (fnz == 0) fnz = d
      out |= d.toLong << (60 - 3 * kk)
      kk += 1
    }
    // cut-edge cells (first nonzero digit 2) need the retry
    if (fnz == 2) -1L else out
  }

  // -------------------------------------------------------------------
  // Z7 -> geometry
  // -------------------------------------------------------------------

  /** decode a Z7 into (quad, integer coords): the descent is anchored in
    * the quad holding the first nonzero digit's sector around the base
    * vertex (the subtree's home chart); positions drifting outside that
    * quad are folded to the sphere by chartToSphere.
    */
  def decode(z: Long): CellFix = {
    val r = Z7.resolution(z)
    val vtx = vertexOfBase(Z7.baseCell(z))
    val fnz = (1 to r).find(k => Z7.digit(z, k) != 0)
    val q = fnz.map(k => sectorQuad((vtx, Z7.digit(z, k))))
      .getOrElse(quads.vertexQuads(vtx).head)
    val corner = quads.corners(q).indexOf(vtx)
    var v = cornerEis(corner, 0)
    var k = 1
    while (k <= r) {
      v = v * levelFactor(k)
      val d = Z7.digit(z, k)
      if (d != 0) v = v + stepOf(vtx, q, d)
      k += 1
    }
    CellFix(q, v, r)
  }

  def centerChart(z: Long): (Int, Double, Double) = {
    val fix = decode(z)
    val (x, y) = latticeToChart(fix.v, fix.res)
    (fix.quad, x, y)
  }

  // chartToSphere: provided by HexWalkerCore

  def cellCenter(z: Long): GeoRad = {
    val (q, x, y) = centerChart(z)
    chartToSphere(q, x, y)
  }

  /** cell boundary: 6 vertices for hexagons (each the barycenter of the
    * cell and two adjacent cells), 5 for base pentagons.
    */
  def cellBoundary(z: Long): Array[GeoRad] = {
    val r = Z7.resolution(z)
    if (Z7.isPentagon(z)) return pentagonBoundary(z)
    val fix = decode(z)
    val (cx, cy) = latticeToChart(fix.v, r)
    (0 until 6).map { i =>
      val su = Eis(Units(i).a + Units((i + 1) % 6).a, Units(i).b + Units((i + 1) % 6).b)
      val (dx, dy) = latticeToChart(su, r)
      chartToSphere(fix.quad, cx + dx / 3.0, cy + dy / 3.0)
    }.toArray
  }

  /** cell boundary densified with `densify` extra vertices per edge
    * (reference `densification` metafile param, dggrid_runner.py:295 —
    * DGGRID densifies in the projection plane, so edges follow the
    * projected straight line, and equal-area is preserved piecewise).
    * Hexagons interpolate between corner points in the owning quad's
    * chart; pentagon corners live in different quad charts, so pentagon
    * edges densify along the great circle instead (geodetic
    * densification, the reference's `geodetic_densify` variant at
    * dggrid_runner.py:296).
    */
  def cellBoundaryDensified(z: Long, densify: Int): Array[GeoRad] = {
    if (densify <= 0) return cellBoundary(z)
    if (Z7.isPentagon(z))
      return IGeo7.densifyGeodesic(cellBoundary(z), densify)
    val r = Z7.resolution(z)
    val fix = decode(z)
    val (cx, cy) = latticeToChart(fix.v, r)
    val corners = (0 until 6).map { i =>
      val su = Eis(Units(i).a + Units((i + 1) % 6).a, Units(i).b + Units((i + 1) % 6).b)
      val (dx, dy) = latticeToChart(su, r)
      (cx + dx / 3.0, cy + dy / 3.0)
    }
    val out = scala.collection.mutable.ArrayBuffer[GeoRad]()
    for (i <- 0 until 6) {
      val (ax, ay) = corners(i)
      val (bx, by) = corners((i + 1) % 6)
      out += chartToSphere(fix.quad, ax, ay)
      for (k <- 1 to densify) {
        val t = k.toDouble / (densify + 1)
        out += chartToSphere(fix.quad, ax + (bx - ax) * t, ay + (by - ay) * t)
      }
    }
    out.toArray
  }

  /** k=1 ring: the adjacent cells (6 for hexagons, 5 for pentagons),
    * exact in lattice space (igeo7_ext.py:103-156 semantics without the
    * geometric buffer fallback). Pentagons are handled in index space:
    * their neighbours are exactly the other children of their parent
    * pentagon (igeo7_ext.py:112-115 — digits {1,3,4,5,6}); walking the
    * 6th lattice unit would step through the vertex fan gap.
    */
  def ring1(z: Long): Array[Long] = {
    val r = Z7.resolution(z)
    if (Z7.isPentagon(z)) {
      if (r == 0) {
        // res-0 pentagons: the 5 vertices one icosahedron edge away
        val vtx = vertexOfBase(Z7.baseCell(z))
        val vp = ico.vertices(vtx)
        (0 to 11).filter { w =>
          w != vtx && math.abs(distance(vp, ico.vertices(w)) - ico.edgeArc) < 1e-9
        }.map(w => Z7.pack(baseOfVertex(w), Seq.empty)).toArray
      } else {
        val parent = Z7.parent(z)
        Z7.childDigits(parent).filter(_ != 0).map(Z7.child(parent, _)).toArray
      }
    } else {
      val fix = decode(z)
      Units.map { u =>
        val (vtx, digits) = digitsOf(CellFix(fix.quad, fix.v + u, fix.res))
        Z7.pack(baseOfVertex(vtx), digits.toSeq)
      }.distinct.filter(_ != z)
    }
  }

  /** all cells within graph distance k of z, INCLUDING z (the k-disk):
    * BFS over `ring1` — pure index arithmetic, no geometry. Powers the
    * staged kNN escalation (ring-2 probe before any brute-force scan).
    */
  def disk(z: Long, k: Int): Array[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet(z)
    var frontier = Array(z)
    for (_ <- 1 to k) {
      frontier = frontier.flatMap(ring1).distinct.filterNot(seen.contains)
      seen ++= frontier
    }
    seen.toArray
  }

  private def pentagonBoundary(z: Long): Array[GeoRad] = {
    val r = Z7.resolution(z)
    val vtx = vertexOfBase(Z7.baseCell(z))
    val vpos = ico.vertices(vtx)
    val ring = scala.collection.mutable.ArrayBuffer[GeoRad]()
    for (q <- quads.vertexQuads(vtx)) {
      val corner = quads.corners(q).indexOf(vtx)
      val c = cornerEis(corner, r)
      for (u <- Units) {
        val n = Eis(c.a + u.a, c.b + u.b)
        val (x, y) = latticeToChart(n, r)
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
}

object IGeo7 {
  import Sphere._

  /** per residue class t at level parity o, at 7·o + t (odd levels
    * ω ≡ 3, even levels ω ≡ 5 mod 7): f of the class's unit step
    * index, 0 for the zero class
    */
  private def stepTable(f: Int => Long): Array[Long] = {
    val out = new Array[Long](14)
    for (o <- 0 to 1; u <- 0 until 6)
      out(7 * o + (((Units(u).a + (5 - 2 * o) * Units(u).b) % 7 + 7) % 7).toInt) = f(u)
    out
  }
  /** a and b of the step, and its walk code (unit index + 1) */
  private[dggs] val StepA: Array[Long] = stepTable(Units(_).a)
  private[dggs] val StepB: Array[Long] = stepTable(Units(_).b)
  private[dggs] val StepCode: Array[Long] = stepTable(_ + 1L)

  /** densify a closed ring along great circles: `densify` extra vertices
    * per edge (the reference's geodetic_densify variant,
    * dggrid_runner.py:296).
    */
  def densifyGeodesic(ring: Array[GeoRad], densify: Int): Array[GeoRad] = {
    if (densify <= 0) return ring
    val out = scala.collection.mutable.ArrayBuffer[GeoRad]()
    val nv = ring.length
    for (i <- 0 until nv) {
      val a = ring(i); val b = ring((i + 1) % nv)
      out += a
      val az = azimuth(a, b)
      val d = distance(a, b)
      for (k <- 1 to densify)
        out += destination(a, az, d * k / (densify + 1))
    }
    out.toArray
  }
}
