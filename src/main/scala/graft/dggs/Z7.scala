package graft.dggs

/** Z7 hierarchical index codec for aperture-7 hexagonal DGGS (IGEO7):
  * the [[SlotCodec]] with 20 three-bit slots, digits 0-6 and pad 7.
  *
  * Bit-exact to the reference's pure-Python codec (dggrid4py
  * igeo7.py:16-122): 4 MSBs = base cell 0-11,
  * then one 3-bit digit per resolution, 7 = "beyond resolution"; the
  * Z7_STRING is the zero-padded 2-digit base + one char per digit.
  *
  * What is Z7's own is the aperture-7 pentagon rule and the join key:
  *   - local position = last digit; center child ⇔ last digit 0;
  *   - pentagons (all digits 0, igeo7_ext.py:81-99) have no child in
  *     digit direction 2 (igeo7_ext.py:112-115).
  */
object Z7 extends SlotCodec(slotBits = 3, maxRes = 20, radix = 7, name = "Z7") {

  def localPos(z: Long): Int = digit(z, resolution(z))
  def isCenter(z: Long): Boolean = resolution(z) == 0 || localPos(z) == 0

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
    *
    * The spread is for Spark's hash relation only. On the JVM it undoes
    * itself: a `Long`'s `##`/`hashCode` is `(int)(v ^ v >>> 32)`, so the
    * hash of a spread key is `low32(z)`, the id's pad bits, which are
    * all ones through res 9. A driver-side Scala/Java map keyed on
    * spread ids chains every such key in one bucket (O(n²) `equals`);
    * key driver-side maps on the raw ids, whose JVM hash already mixes
    * the high half in, and spread afterwards.
    *
    * Nor is it a grouping key for a Spark aggregate. The codegen fast
    * aggregate map also buckets on the key's low bits, and at res 3 the
    * spread leaves the id's low 19 bits zero (the pad ones cancel), so a
    * rollup on spread ids still falls back to `BytesToBytesMap`. Group on
    * [[ancestorKey]] (`z >>> 51` at res 3) instead.
    */
  def spreadKey(z: Long): Long = z ^ (z >>> 32)
}
