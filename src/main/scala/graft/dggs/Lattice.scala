package graft.dggs

/** Exact integer arithmetic on the triangular lattice ring Z[ω],
  * ω = e^{iπ/3} (so ω² = ω − 1, |a+bω|² = a² + ab + b²).
  *
  * The aperture-7 hierarchy is multiplication by a norm-7 ring element:
  * descending one level multiplies the lattice density by 7 and rotates
  * by ∓atan(√3/5); the two conjugate choices alternate per level (DGGRID
  * ISEA7H empirics: odd resolutions rotated −atan(√3/5) in the quad
  * frame, even resolutions aligned — calibrated against the reference's
  * igeo7_res_9.gpkg golden cells).
  *
  * The 7 residues of Z[ω] mod a norm-7 element are exactly {0} ∪ the six
  * unit steps {±1, ±ω, ±(1−ω)} — which makes parent/child/digit
  * computations exact integer math (no floating point).
  */
object Lattice {

  /** a + b·ω */
  final case class Eis(a: Long, b: Long) {
    def +(o: Eis): Eis = Eis(a + o.a, b + o.b)
    def -(o: Eis): Eis = Eis(a - o.a, b - o.b)
    def unary_- : Eis = Eis(-a, -b)
    /** ring product: (a+bω)(c+dω) = (ac − bd) + (ad + bc + bd)ω */
    def *(o: Eis): Eis = Eis(a * o.a - b * o.b, a * o.b + b * o.a + b * o.b)
    def norm: Long = a * a + a * b + b * b
    /** complex conjugate: conj(ω) = 1 − ω */
    def conj: Eis = Eis(a + b, -b)
    /** real embedding with basis (1, ω): x = a + b/2, y = b·√3/2 */
    def toXY: (Double, Double) = (a + 0.5 * b, b * Sqrt3Over2)
  }

  val Sqrt3Over2: Double = math.sqrt(3.0) / 2.0

  val Zero: Eis = Eis(0, 0)
  /** the six unit steps, counter-clockwise from +1 */
  val Units: Array[Eis] = Array(
    Eis(1, 0), Eis(0, 1), Eis(-1, 1), Eis(-1, 0), Eis(0, -1), Eis(1, -1))

  /** norm-7 level factors: descending to an ODD resolution divides the
    * lattice by SevenCW = 2+ω (child lattice rotated −atan(√3/5));
    * descending to an EVEN resolution divides by SevenCCW = 3−ω
    * (rotated +atan(√3/5), restoring alignment).
    */
  val SevenCW: Eis = Eis(2, 1)  // arg +atan(√3/5)
  val SevenCCW: Eis = Eis(3, -1) // arg -atan(√3/5)

  /** factor used when ascending from resolution k to k-1: parent lattice
    * in child-lattice coordinates is multiplication by this. Parity
    * calibrated exactly via divisibility of the golden res-9 cell centers
    * (res-9 lattice = (2+ω)·res-10 lattice in quad-chart coords).
    */
  def levelFactor(k: Int): Eis = if (k % 2 == 1) SevenCCW else SevenCW

  /** product of level factors for resolutions kFrom+1 .. kTo: expresses a
    * res-kFrom lattice point in res-kTo coordinates.
    */
  def factorProduct(kFrom: Int, kTo: Int): Eis = {
    var f = Eis(1, 0)
    var k = kFrom + 1
    while (k <= kTo) { f = f * levelFactor(k); k += 1 }
    f
  }

  /** Hex rounding: nearest lattice point to fractional axial coords
    * (fa, fb) — cube-coordinate rounding (exact Voronoi assignment for
    * the hexagonal lattice).
    */
  def hexRound(fa: Double, fb: Double): Eis = {
    // axial (a, b) with 60° basis → cube x=a, z=b, y=-x-z
    val x = fa; val z = fb; val y = -x - z
    var rx = math.round(x).toDouble
    var ry = math.round(y).toDouble
    var rz = math.round(z).toDouble
    val dx = math.abs(rx - x); val dy = math.abs(ry - y); val dz = math.abs(rz - z)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    Eis(rx.toLong, rz.toLong)
  }

  /** residue of `v` modulo the norm-7 factor `f`: returns (digitStep,
    * parentInParentCoords) with digitStep ∈ {0} ∪ Units. Computed
    * directly: parent = hexRound(v·conj(f)/7) (the nearest coarse point
    * — exact because every child is within one unit of its parent),
    * step = v − parent·f.
    */
  def sevenSplit(v: Eis, f: Eis): (Eis, Eis) = {
    val w = v * f.conj // = v/f scaled by 7
    val parent = hexRound(w.a / 7.0, w.b / 7.0)
    val pf = parent * f
    val step = Eis(v.a - pf.a, v.b - pf.b)
    if (step.a == 0 && step.b == 0) (Zero, parent)
    else {
      // step must be one of the six units
      if (step.norm != 1)
        throw new IllegalStateException(s"bad residue $step for $v mod $f")
      (step, parent)
    }
  }
}
