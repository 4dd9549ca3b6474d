package graft.dggs

/** Z7 hierarchical index codec for aperture-7 hexagonal DGGS (IGEO7).
  *
  * Bit-exact to the reference's pure-Python codec
  * (/root/reference/dggrid4py/igeo7.py:16-122):
  *   - 64-bit layout: 4 MSBs = base cell 0-11, then 20 groups of 3 bits,
  *     each a resolution digit 0-6, value 7 = "beyond resolution" pad.
  *   - Z7_STRING: zero-padded 2-digit base cell + one char per digit < 7.
  *   - resolution = number of non-pad digits; parent = drop last digit;
  *     local position = last digit; center child ⇔ last digit 0.
  *   - pentagons: the 12 base cells; a cell is a pentagon iff all its
  *     digits are 0 (igeo7_ext.py:81-99); pentagons have no child in
  *     digit direction 2 (igeo7_ext.py:112-115).
  *
  * Because pad digits are all-ones (7), the int64 of every descendant of
  * a parent at resolution r shares the parent's leading 4+3r bits — so
  * descendants of p at any deeper resolution form ONE contiguous int64
  * range [rangeMin(p), rangeMax(p)]. That turns COARSE_CELLS /
  * children-of-parent pruning into min/max range predicates that Parquet
  * row-group stats prune natively (SURVEY.md §4).
  */
object Z7 {

  val MaxRes = 20

  /** Pack base cell + digits; remaining positions padded with 7. A
    * supplied digit must be 0-6: the pad 7 in a real position (e.g. the
    * string "0570") would build an id whose resolution disagrees with
    * its bits, so ancestorAt, rangeMin/rangeMax and parent would not
    * describe the cell.
    */
  def pack(base: Int, digits: Seq[Int]): Long = {
    require(base >= 0 && base <= 11, s"base cell $base out of range")
    require(digits.length <= MaxRes, s"too many digits (${digits.length})")
    var v = base.toLong << 60
    var i = 0
    while (i < MaxRes) {
      val d = if (i < digits.length) digits(i) else 7
      require(d >= 0 && (d <= 6 || i >= digits.length), s"digit $d out of range at position ${i + 1}")
      v |= d.toLong << (57 - 3 * i)
      i += 1
    }
    v
  }

  def baseCell(z: Long): Int = ((z >>> 60) & 0xFL).toInt

  /** Digit at level `i` (1-based: level 1 is the first digit). */
  def digit(z: Long, i: Int): Int = ((z >>> (60 - 3 * i)) & 0x7L).toInt

  /** Resolution = number of leading non-pad digits. */
  def resolution(z: Long): Int = {
    var r = 0
    while (r < MaxRes && digit(z, r + 1) != 7) r += 1
    r
  }

  def digits(z: Long): Seq[Int] = (1 to resolution(z)).map(digit(z, _))

  /** Z7_STRING: 2-digit base + digit chars (igeo7.py:48-62). */
  def toZ7String(z: Long): String = {
    val sb = new StringBuilder(22)
    val b = baseCell(z)
    if (b < 10) sb.append('0')
    sb.append(b)
    var i = 1
    var d = digit(z, 1)
    while (i <= MaxRes && d != 7) {
      sb.append(('0' + d).toChar)
      i += 1
      if (i <= MaxRes) d = digit(z, i)
    }
    sb.toString
  }

  /** Inverse of toZ7String (needed for round-trips; the reference has no
    * inverse — resolution from string length, igeo7.py:88-95).
    */
  def fromZ7String(s: String): Long = {
    require(s.length >= 2 && s.length <= 2 + MaxRes, s"bad Z7_STRING '$s'")
    val base = s.substring(0, 2).toInt
    pack(base, s.drop(2).map(c => c - '0'))
  }

  def toHex(z: Long): String = f"$z%016x"
  def fromHex(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)

  /** Parent at resolution-1 (pad the last digit). Res-0 cells are their
    * own parent boundary — calling parent on res 0 is an error.
    */
  def parent(z: Long): Long = {
    val r = resolution(z)
    require(r > 0, "res-0 cell has no parent")
    z | (0x7L << (60 - 3 * r))
  }

  /** Ancestor at resolution `r` (pad everything deeper). */
  def ancestorAt(z: Long, r: Int): Long = {
    require(r >= 0 && r <= resolution(z), s"bad ancestor res $r")
    if (r == MaxRes) z
    else {
      val keepBits = 60 - 3 * r
      z | ((1L << keepBits) - 1) // set all deeper digit bits to 1 (pads)
    }
  }

  def localPos(z: Long): Int = digit(z, resolution(z))
  def isCenter(z: Long): Boolean = resolution(z) == 0 || localPos(z) == 0

  /** Pentagon ⇔ every digit is 0 (igeo7_ext.py:92-99). */
  def isPentagon(z: Long): Boolean = {
    val r = resolution(z)
    var i = 1
    while (i <= r) { if (digit(z, i) != 0) return false; i += 1 }
    true
  }

  /** Child in digit direction `d` at resolution+1. */
  def child(z: Long, d: Int): Long = {
    val r = resolution(z)
    require(r < MaxRes, "max resolution")
    require(d >= 0 && d <= 6, s"bad digit $d")
    // clear the 3 pad bits of level r+1, then set d
    val shift = 60 - 3 * (r + 1)
    (z & ~(0x7L << shift)) | (d.toLong << shift)
  }

  /** Children digits: 0..6 for hexagons; pentagons skip direction 2
    * (igeo7_ext.py:112-115).
    */
  def childDigits(z: Long): Seq[Int] =
    if (isPentagon(z)) Seq(0, 1, 3, 4, 5, 6) else Seq(0, 1, 2, 3, 4, 5, 6)

  def children(z: Long): Seq[Long] = childDigits(z).map(child(z, _))

  /** All descendants at resolution `toRes`. Count = 7^(Δr) for hexagons,
    * (5·7^Δr + 2)/6 for pentagons.
    */
  def descendants(z: Long, toRes: Int): Seq[Long] = {
    val r = resolution(z)
    require(toRes >= r, s"toRes $toRes < res $r")
    var cur = Seq(z)
    var i = r
    while (i < toRes) { cur = cur.flatMap(children); i += 1 }
    cur
  }

  /** Contiguous int64 range [min, max] covering exactly the descendants
    * (at every deeper resolution) of `z` — the prefix-pruning primitive.
    */
  def rangeMin(z: Long): Long = {
    val r = resolution(z)
    val keepBits = 60 - 3 * r
    z & ~((1L << keepBits) - 1) // deeper digits → 0
  }
  def rangeMax(z: Long): Long = ancestorAt(z, resolution(z)) // deeper digits → 7

  /** Hash-join key for a cell id: `z ^ (z >>> 32)`. Bijective (it is its
    * own inverse: the high half passes through unchanged), so equality on
    * spread keys is equality on cell ids.
    *
    * Why: a res-r id ends in 60 − 3r pad bits that are all ones, and
    * Spark's long-keyed hash relation (`LongToUnsafeRowMap.firstSlot`:
    * `h = k · 0x9E3779B9; slot = (h ^ h >> 32) & mask`) takes the slot
    * from the low bits of k — every coarse cell of a cover lands in ONE
    * slot and each probe walks the whole cluster. Folding the high half
    * (base + leading digits) into the low half spreads them. Spark's
    * `DggsFunctions.z7SpreadKey` is the same function as a Column.
    */
  def spreadKey(z: Long): Long = z ^ (z >>> 32)
}
