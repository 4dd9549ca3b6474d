package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite
import Sphere._

/** Pins the cell→geometry and address side of the aperture-3/4 hexagon
  * kernels bit for bit: per kernel and resolution, one hash over the raw
  * double bits of `cellCenter` and of every `cellBoundary` vertex, the
  * cell string, Q2DI, ZORDER (where the resolution fits its int64
  * layout), ZORDER_STRING and the children ids. ForwardPinSpec pins the
  * point→cell side; the oracle's geometry queries floor to µdeg, so this
  * is the check that catches a last-bit change in a center or vertex.
  *
  * The cells: every cell at res 0..4, and the `cellForPoint` ids of a
  * seeded point sample at res 8, 12 and 16. The expected hashes were
  * recorded before the three hexagon kernels were merged into one class.
  */
class InversePinSpec extends AnyFunSuite {

  /** a kernel with its address forms and its ZORDER int64 depth */
  private final class Hex(val label: String, val kern: DggsKernel,
                          val q2di: Long => (Int, Long, Long), val zorder: Long => Long,
                          val zorderMaxRes: Int, val zorderString: Long => String)

  private val hexes: Seq[Hex] = {
    val h3 = Grids.isea3h
    val h4 = Grids.isea4h
    val mixed = Seq(0, 2, 3).map { n4 =>
      val g = Grids.isea43h(n4)
      new Hex(s"ISEA43H/$n4", g, g.toQ2di, g.toZorder, g.ZorderMaxRes, g.toZorderString)
    }
    Seq(new Hex("ISEA3H", h3, h3.toQ2di, h3.toZorder, 17, h3.toZorderString),
      new Hex("ISEA4H", h4, h4.toQ2di, h4.toZorder, 20, h4.toZorderString)) ++ mixed
  }

  private val sampleRes = Seq(8, 12, 16)

  private val samplePoints: Array[GeoRad] = {
    val rnd = new scala.util.Random(20261019L)
    Array.fill(3000)(GeoRad(math.asin(2.0 * rnd.nextDouble() - 1.0),
      math.Pi * (2.0 * rnd.nextDouble() - 1.0)))
  }

  /** every cell at res r: the two caps' all-zero paths and every digit
    * path of the ten quad bases
    */
  private def allCells(k: DggsKernel, r: Int): Seq[Long] = {
    var cur: Seq[Long] = (0 to 11).map(b => k.fromCellString(f"$b%02d"))
    for (_ <- 1 to r) cur = cur.flatMap(k.children)
    cur
  }

  private def cells(k: DggsKernel, r: Int): Seq[Long] =
    if (r <= 4) allCells(k, r) else samplePoints.toSeq.map(k.cellForPoint(_, r))

  /** MurmurHash3's 64-bit finalizer */
  private def mix(z: Long): Long = {
    var k = z
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def hashOf(h: Hex, r: Int): Long = {
    var acc = 0L
    def add(x: Long): Unit = acc = acc * 1000003L + mix(x)
    def addGeo(g: GeoRad): Unit = {
      add(java.lang.Double.doubleToRawLongBits(g.lat))
      add(java.lang.Double.doubleToRawLongBits(g.lon))
    }
    def addString(s: String): Unit = { add(s.length.toLong); s.foreach(c => add(c.toLong)) }
    for (z <- cells(h.kern, r)) {
      add(z)
      addGeo(h.kern.cellCenter(z))
      val ring = h.kern.cellBoundary(z)
      add(ring.length.toLong)
      ring.foreach(addGeo)
      addString(h.kern.toCellString(z))
      val (q, i, j) = h.q2di(z)
      add(q.toLong); add(i); add(j)
      if (r <= h.zorderMaxRes) add(h.zorder(z))
      addString(h.zorderString(z))
      h.kern.children(z).foreach(add)
    }
    acc
  }

  /** (kernel, res) -> hash, recorded before the hexagon kernel merge */
  private val expected: Map[(String, Int), Long] = Map(
    ("ISEA3H", 0) -> -5211891400135473126L,
    ("ISEA3H", 1) -> -5819917442566361776L,
    ("ISEA3H", 2) -> 4454035900837002444L,
    ("ISEA3H", 3) -> 1563593238792848829L,
    ("ISEA3H", 4) -> -5504270425631975326L,
    ("ISEA3H", 8) -> 6506974557688641579L,
    ("ISEA3H", 12) -> -1240963868096508228L,
    ("ISEA3H", 16) -> -5012488755946257204L,
    ("ISEA4H", 0) -> -2341003848840090280L,
    ("ISEA4H", 1) -> -1359939697650526613L,
    ("ISEA4H", 2) -> -8091243066940872978L,
    ("ISEA4H", 3) -> -9042544336240058377L,
    ("ISEA4H", 4) -> -2588052955456462910L,
    ("ISEA4H", 8) -> 3868730324138881327L,
    ("ISEA4H", 12) -> 4047893125180882545L,
    ("ISEA4H", 16) -> 1421455684851274321L,
    ("ISEA43H/0", 0) -> -601876865295795176L,
    ("ISEA43H/0", 1) -> -9153515454230793461L,
    ("ISEA43H/0", 2) -> -1930429920202279062L,
    ("ISEA43H/0", 3) -> 587523187966971717L,
    ("ISEA43H/0", 4) -> 2757074842488803574L,
    ("ISEA43H/0", 8) -> 680489833237232988L,
    ("ISEA43H/0", 12) -> 5942321472483107592L,
    ("ISEA43H/0", 16) -> -871605049263552470L,
    ("ISEA43H/2", 0) -> -2341003848840090280L,
    ("ISEA43H/2", 1) -> 1924185253895223219L,
    ("ISEA43H/2", 2) -> -4655741046845845041L,
    ("ISEA43H/2", 3) -> -5224036457095232616L,
    ("ISEA43H/2", 4) -> -4162834697043281501L,
    ("ISEA43H/2", 8) -> 7023152621062178019L,
    ("ISEA43H/2", 12) -> -3462938608096909185L,
    ("ISEA43H/2", 16) -> 6723200295720923247L,
    ("ISEA43H/3", 0) -> -2341003848840090280L,
    ("ISEA43H/3", 1) -> 1924185253895223219L,
    ("ISEA43H/3", 2) -> -5422361574752734258L,
    ("ISEA43H/3", 3) -> 8284080822439109549L,
    ("ISEA43H/3", 4) -> 6506863883530848023L,
    ("ISEA43H/3", 8) -> 4357375974866509821L,
    ("ISEA43H/3", 12) -> 3129308998554022899L,
    ("ISEA43H/3", 16) -> 6667513923870609644L
  )

  test("cell geometry and address forms pinned: ISEA3H, ISEA4H, ISEA43H n4 {0,2,3}") {
    val got = for (h <- hexes; r <- (0 to 4) ++ sampleRes) yield ((h.label, r), hashOf(h, r))
    val bad = got.filter { case (key, v) => !expected.get(key).contains(v) }
    assert(bad.isEmpty, bad.map { case ((l, r), v) => s"""("$l", $r) -> ${v}L""" }.mkString(",\n"))
  }
}
