package graft.dggs

import Sphere.GeoRad

/** The one kernel interface of the six grids (IGEO7, ISEA3H, ISEA4H,
  * ISEA43H, ISEA4T, ISEA4D). In the reference the grid is a parameter of
  * every high-level operation (dggs_type, resolution,
  * mixed_aperture_level); here the kernel value is that parameter, and
  * the Spark and operator layers route on it instead of forking per grid.
  *
  * The hierarchy methods are the only readers of hierarchy from id bits:
  * the Spark Column forms of `resolution`, `parent` and `ancestorAt` are
  * direct calls into them, as the Column `cellForPoint` is into the
  * degree overload of `cellForPoint`. Besides geometry, hierarchy and
  * the string codec, a kernel states the id-layout facts the operator layer's
  * closed forms use (whole-earth enumeration, compaction subtree sizes):
  *  - [[slotBits]]: the hex layouts ([[SlotCodec]]: Z7, Z3, Z4) put the
  *    base in the top nibble and pad unused digit slots with all-ones
  *    bits (Z7/Z4/Z43: 3-bit slots, Z3: 2-bit); 0 marks the Quat2 layout
  *    of T4/D4 (explicit res field at bit 48, zero-padded 2-bit digits —
  *    Quat2Codec);
  *  - [[radixAt]]: the children per quad cell at a level, i.e. the
  *    aperture there (ISEA43H switches from 4 to 3 after level `n4`);
  *  - [[capBases]]: the ISEA3H/4H/43H polar caps 0 and 11 own only their
  *    center child chain;
  *  - [[pentagonsLoseAChild]]: the IGEO7 pentagons (all-zero digit
  *    paths) have no digit-2 child, so their families have 6 cells.
  *
  * ISEA3H, ISEA4H and ISEA43H are one class, [[HexKernel]] (an aperture
  * sequence over one [[SlotCodec]]), which also carries their Q2DI,
  * ZORDER, ZORDER_STRING and INTERLEAVE address forms.
  *
  * Kernels are immutable and thread-safe after construction. A kernel is
  * serialized as its [[KernelSpec]] and resolves to the receiving JVM's
  * cached instance ([[DggsKernel.apply]]), so a UDF closure or a plan
  * literal may hold a kernel directly: each task ships a few bytes, and
  * every executor builds the quad charts and shift tables once.
  */
trait DggsKernel extends Serializable {
  /** kind, ISEA43H aperture-4 level count and orientation: the cache key */
  def spec: KernelSpec
  /** address-form name of the int64 id (Z7, Z3, Z4, Z43, T4, D4); lower
    * cased, it prefixes the kernel's SQL names (`z3_cell`, …)
    */
  def idName: String
  /** deepest resolution of the id codec */
  def maxRes: Int

  def cellForPoint(p: GeoRad, r: Int): Long
  /** the same cell from degrees, with primitive arguments only: the
    * method the Spark Column form calls directly
    */
  final def cellForPoint(lonDeg: Double, latDeg: Double, r: Int): Long =
    cellForPoint(GeoRad.fromDeg(latDeg, lonDeg), r)
  def cellCenter(z: Long): GeoRad
  /** boundary ring, not closed (hexagons 6, pentagons 5, triangles 3,
    * diamonds 4 vertices)
    */
  def cellBoundary(z: Long): Array[GeoRad]

  def resolution(z: Long): Int
  def parent(z: Long): Long
  def ancestorAt(z: Long, r: Int): Long
  def children(z: Long): Seq[Long]
  def descendants(z: Long, toRes: Int): Seq[Long]

  def toCellString(z: Long): String
  def fromCellString(s: String): Long

  def slotBits: Int
  def radixAt(level: Int): Int
  def capBases: Seq[Int] = Nil
  def pentagonsLoseAChild: Boolean = false

  /** stable across JVMs, so a plan that holds the kernel prints the same */
  override def toString: String = spec.toString

  protected final def writeReplace(): AnyRef = new DggsKernel.Shipped(spec)
}

/** What identifies a kernel instance. `kind` is the preset name (IGEO7,
  * ISEA3H, ISEA4H, ISEA43H, ISEA4T, ISEA4D); `n4` is the ISEA43H
  * mixed_aperture_level and 0 for the other kinds.
  */
final case class KernelSpec(kind: String, n4: Int, lat0: Double, lon0: Double, az: Double)

object DggsKernel {
  val DefaultLat = 58.28252559
  val DefaultLon = 11.25
  val DefaultAz = 0.0

  private val cache = new java.util.concurrent.ConcurrentHashMap[KernelSpec, DggsKernel]()

  /** the per-JVM instance for `spec`, built on first use */
  def apply(spec: KernelSpec): DggsKernel = cache.computeIfAbsent(spec, build)

  private def build(s: KernelSpec): DggsKernel = s.kind match {
    case "IGEO7" => new IGeo7(s.lat0, s.lon0, s.az)
    case "ISEA3H" => new Isea3H(s.lat0, s.lon0, s.az)
    case "ISEA4H" => new Isea4H(s.lat0, s.lon0, s.az)
    case "ISEA43H" => new Isea43H(s.n4, s.lat0, s.lon0, s.az)
    case "ISEA4T" => new Isea4T(s.lat0, s.lon0, s.az)
    case "ISEA4D" => new Isea4D(s.lat0, s.lon0, s.az)
    case other => throw new IllegalArgumentException(s"no kernel of kind $other")
  }

  /** the serialized form of a kernel (see the [[DggsKernel]] scaladoc) */
  private final class Shipped(spec: KernelSpec) extends Serializable {
    private def readResolve(): AnyRef = DggsKernel(spec)
  }
}
