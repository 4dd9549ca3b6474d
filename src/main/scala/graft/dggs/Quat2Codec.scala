package graft.dggs

/** Shared core of the T4 (triangle, base = face 0..19) and D4 (diamond,
  * base = quad 1..10) codecs: 64-bit layout
  * `(base*32 + res) << 48 | digits`, digits left-aligned two bits each
  * (digit i of 1..res at bits 48-2i+1 .. 48-2i). Ids at one resolution
  * sort in (base, digit-path) order, so sibling subtrees are contiguous
  * ranges; both hierarchies nest EXACTLY (digit prefixes = ancestors).
  */
private[dggs] abstract class Quat2Codec(baseLo: Int, baseHi: Int, baseLabel: String) {
  val MaxRes = 24

  def pack(base: Int, digits: Seq[Int]): Long = {
    require(base >= baseLo && base <= baseHi, s"$baseLabel $base")
    require(digits.size <= MaxRes, s"res ${digits.size} > $MaxRes")
    var d = 0L
    var i = 0
    while (i < digits.size) {
      val dig = digits(i)
      require(dig >= 0 && dig <= 3, s"digit $dig")
      d |= dig.toLong << (48 - 2 * (i + 1))
      i += 1
    }
    ((base.toLong * 32 + digits.size) << 48) | d
  }

  protected def baseOf(id: Long): Int = ((id >>> 48) / 32).toInt
  def resolution(id: Long): Int = ((id >>> 48) % 32).toInt
  def digit(id: Long, i: Int): Int = ((id >>> (48 - 2 * i)) & 3L).toInt
  def digits(id: Long): Seq[Int] = (1 to resolution(id)).map(digit(id, _))

  def parent(id: Long): Long = {
    val r = resolution(id)
    require(r > 0, "res-0 cell has no parent")
    ancestorAt(id, r - 1)
  }

  def ancestorAt(id: Long, r: Int): Long = {
    val res = resolution(id)
    require(r >= 0 && r <= res, s"ancestor res $r of res-$res cell")
    val mask = if (r == 0) 0L else ~((1L << (48 - 2 * r)) - 1) & ((1L << 48) - 1)
    ((baseOf(id).toLong * 32 + r) << 48) | (id & mask)
  }

  /** the res-`r` ancestor's base and `r` digits as one dense key,
    * `base << 2r | digits`, with the res field dropped
    */
  def ancestorKey(id: Long, r: Int): Long = {
    val res = resolution(id)
    require(r >= 0 && r <= res, s"ancestor res $r of res-$res cell")
    (baseOf(id).toLong << (2 * r)) | ((id & ((1L << 48) - 1)) >>> (48 - 2 * r))
  }

  def children(id: Long): Seq[Long] = {
    val r = resolution(id)
    require(r < MaxRes, s"res $r at max")
    val base = id & ((1L << 48) - 1)
    (0 to 3).map(d =>
      ((baseOf(id).toLong * 32 + (r + 1)) << 48) | base | (d.toLong << (48 - 2 * (r + 1))))
  }

  def descendants(id: Long, atRes: Int): Seq[Long] = {
    require(atRes >= resolution(id) && atRes <= MaxRes,
      s"descendants at $atRes of res-${resolution(id)} cell (max $MaxRes)")
    var cur = Seq(id)
    for (_ <- resolution(id) until atRes) cur = cur.flatMap(children)
    cur
  }

  /** contiguous id range [min,max] of the descendants at `atRes` (ids
    * carry the res in high bits — the range is per-target-resolution)
    */
  def rangeAt(id: Long, atRes: Int): (Long, Long) = {
    val r = resolution(id)
    // atRes > MaxRes would make `spare` negative and (since JVM shifts
    // are mod 64) silently produce a garbage BETWEEN range downstream
    require(atRes >= r && atRes <= MaxRes, s"rangeAt res $atRes (cell res $r, max $MaxRes)")
    val base = ((baseOf(id).toLong * 32 + atRes) << 48) | (id & ((1L << 48) - 1))
    val spare = 48 - 2 * atRes
    val lowMask = (1L << (48 - 2 * r)) - 1 & ~((1L << spare) - 1)
    (base, base | lowMask)
  }

  protected def toStr(id: Long): String = {
    val sb = new StringBuilder
    val b = baseOf(id)
    if (b < 10) sb.append('0')
    sb.append(b)
    var i = 1
    val r = resolution(id)
    while (i <= r) { sb.append(('0' + digit(id, i)).toChar); i += 1 }
    sb.toString
  }

  protected def fromStr(s: String): Long = {
    require(s.length >= 2, s"bad $baseLabel-codec string '$s'")
    pack(s.substring(0, 2).toInt, s.drop(2).map(c => c - '0'))
  }
}
