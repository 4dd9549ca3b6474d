package graft.dggs

/** Hierarchical int64 id codec of the hexagon grids: a base cell and
  * one fixed-width digit slot per resolution, unused slots padded with
  * all-ones bits. Its three instances are [[Z7]] (IGEO7, the reference's
  * own layout, igeo7.py:16-122), [[Z3]] (ISEA3H) and [[Z4]] (ISEA4H, and
  * ISEA43H, whose aperture-3 levels use digits 0-2 of the same slots).
  * This is the one place that reads hierarchy (resolution, parent,
  * ancestors) from the id bits of these grids; the Spark Column forms
  * call it through the kernel.
  *
  * The reference exposes Z3 / Z3_STRING for ISEA3H
  * (dggrid_runner.py:131-134, HIERNDX v8 :174-184) and the ZORDER /
  * ZORDER_STRING / INTERLEAVE forms for the aperture-3, 4 and mixed hex
  * grids (:124, :134), but publishes no golden ids for any of them and
  * defines no "Z4". So — like SEQNUM and the T4/D4 codecs — the Z3/Z4
  * digit convention is ENGINE-CANONICAL: bijective, hierarchical,
  * documented, and pinned by property tests (Isea3HSpec, Isea4HSpec),
  * not by DGGRID bit parity. The DGGRID-named forms are address
  * transforms over it ([[HexKernel]]).
  *
  * Layout:
  *   - 4 MSBs = base cell 0-11 (Z3/Z4: 0 = icosahedron vertex v0, the
  *     quad layout's cap, 1-10 = the ten rhombic quads, 11 = vertex v11);
  *   - then `maxRes` slots of `slotBits` bits (Z7: 20 × 3, Z3: 30 × 2,
  *     Z4: 20 × 3), each a digit below `radix`; the all-ones slot value
  *     is the "beyond resolution" pad;
  *   - the string form is the zero-padded 2-digit base + one char per
  *     digit; resolution = number of non-pad digits, parent = drop the
  *     last digit.
  *
  * Because the pad is all-ones, every descendant of a resolution-r cell
  * shares its leading 4 + slotBits·r bits: descendants form ONE
  * contiguous int64 range [rangeMin, rangeMax], so COARSE_CELLS and
  * subtree pruning are min/max range predicates (SURVEY.md §4).
  */
class SlotCodec(val slotBits: Int, val maxRes: Int, val radix: Int, val name: String)
    extends Serializable {

  private val pad: Long = (1L << slotBits) - 1

  /** shift of the level-k slot (level 1 = the first digit) */
  @inline final def shiftAt(k: Int): Int = 60 - slotBits * k

  /** base cell + r zero digits, the slots below padded */
  final def padded(base: Int, r: Int): Long = {
    require(base >= 0 && base <= 11, s"base cell $base out of range")
    require(r >= 0 && r <= maxRes, s"res $r out of [0,$maxRes]")
    (base.toLong << 60) | ((1L << shiftAt(r)) - 1)
  }

  /** Pack base cell + digits. A supplied digit must be below `radix`:
    * accepting the pad value would let a malformed string (e.g. Z3
    * "0530") build an id whose bits disagree with its resolution, and
    * every range/parent predicate downstream would silently lie.
    */
  final def pack(base: Int, digits: Seq[Int]): Long = {
    require(digits.length <= maxRes, s"too many digits (${digits.length})")
    var v = padded(base, digits.length)
    var i = 0
    for (d <- digits) {
      require(d >= 0 && d < radix, s"digit $d out of range at position ${i + 1}")
      v |= d.toLong << shiftAt(i + 1)
      i += 1
    }
    v
  }

  final def baseCell(z: Long): Int = ((z >>> 60) & 0xFL).toInt

  /** Digit at level `i` (1-based: level 1 is the first digit). */
  @inline final def digit(z: Long, i: Int): Int = ((z >>> shiftAt(i)) & pad).toInt

  /** Resolution = number of non-pad digits, read from the trailing
    * all-ones run: the pads are whole slots and the last real digit is
    * not all-ones, so the run spans the pads plus fewer than `slotBits`
    * bits. Capped at 60 because at res 0 a base nibble ending in 1-bits
    * extends the run.
    */
  final def resolution(z: Long): Int =
    maxRes - math.min(java.lang.Long.numberOfTrailingZeros(~z), 60) / slotBits

  final def digits(z: Long): Seq[Int] = (1 to resolution(z)).map(digit(z, _))

  final def toCellString(z: Long): String = {
    val sb = new StringBuilder(2 + maxRes)
    val b = baseCell(z)
    if (b < 10) sb.append('0')
    sb.append(b)
    var i = 1
    while (i <= maxRes && digit(z, i) != pad) { sb.append(('0' + digit(z, i)).toChar); i += 1 }
    sb.toString
  }

  final def fromCellString(s: String): Long = {
    require(s.length >= 2 && s.length <= 2 + maxRes, s"bad ${name}_STRING '$s'")
    pack(s.substring(0, 2).toInt, s.drop(2).map(c => c - '0'))
  }

  final def toHex(z: Long): String = f"$z%016x"
  final def fromHex(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)

  /** Parent at resolution-1 (pad the last digit). */
  final def parent(z: Long): Long = {
    val r = resolution(z)
    require(r > 0, "res-0 cell has no parent")
    z | (pad << shiftAt(r))
  }

  /** Ancestor at resolution `r` (pad everything deeper). */
  final def ancestorAt(z: Long, r: Int): Long = {
    require(r >= 0 && r <= resolution(z), s"bad ancestor res $r")
    z | ((1L << shiftAt(r)) - 1)
  }

  /** the res-`r` ancestor's base + `r` digits, right-aligned (the pad
    * bits shifted out): a dense key, injective on res-`r` ancestors
    * ([[DggsKernel.ancestorKey]])
    */
  final def ancestorKey(z: Long, r: Int): Long = {
    require(r >= 0 && r <= resolution(z), s"bad ancestor res $r")
    z >>> shiftAt(r)
  }

  /** Pentagon ⇔ every digit is 0 (the 12 vertex cells: bases 0/11 at
    * every depth, plus each quad's owned-corner cell — the all-zero-path
    * rule of Z7 / igeo7_ext.py:92-99).
    */
  final def isPentagon(z: Long): Boolean = {
    val r = resolution(z)
    var i = 1
    while (i <= r) { if (digit(z, i) != 0) return false; i += 1 }
    true
  }

  /** Child in digit direction `d` at resolution+1. */
  final def child(z: Long, d: Int): Long = {
    val r = resolution(z)
    require(r < maxRes, "max resolution")
    require(d >= 0 && d < radix, s"bad digit $d")
    (z & ~(pad << shiftAt(r + 1))) | (d.toLong << shiftAt(r + 1))
  }

  /** Contiguous int64 range [min, max] covering exactly the descendants
    * (at every deeper resolution) of `z` — the prefix-pruning primitive.
    */
  final def rangeMin(z: Long): Long = z & ~((1L << shiftAt(resolution(z))) - 1)
  final def rangeMax(z: Long): Long = ancestorAt(z, resolution(z))

  /** the codec's name: stable across JVMs, so a plan that holds it prints the same */
  override def toString: String = name
}

/** the ISEA3H id: 30 two-bit slots, digits 0-2, pad 3 */
object Z3 extends SlotCodec(slotBits = 2, maxRes = 30, radix = 3, name = "Z3")

/** the ISEA4H and ISEA43H id: 20 three-bit slots, digits 0-3, pad 7 */
object Z4 extends SlotCodec(slotBits = 3, maxRes = 20, radix = 4, name = "Z4")
