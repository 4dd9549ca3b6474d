package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, If, IsNull, KnownNotNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ObjectType}
import graft.dggs.{DggsKernel, HexKernel, IGeo7, Isea3H, Isea43H, Isea4D, Isea4H, Isea4T,
  KernelSpec, Sphere, Z7}
import Sphere.GeoRad

/** The default-orientation kernels. Instances come from the one per-JVM
  * cache, [[graft.dggs.DggsKernel.apply]], keyed by kind, n4 and
  * orientation: a kernel is built once per JVM (~ms: quad charts, shift
  * tables) and shared by all tasks.
  */
object Grids {
  val DefaultLat: Double = DggsKernel.DefaultLat
  val DefaultLon: Double = DggsKernel.DefaultLon
  val DefaultAz: Double = DggsKernel.DefaultAz

  private def kernel(kind: String, n4: Int = 0, lat0: Double = DefaultLat,
                     lon0: Double = DefaultLon, az: Double = DefaultAz): DggsKernel =
    DggsKernel(KernelSpec(kind, n4, lat0, lon0, az))

  /** IGEO7 at an orientation */
  def get(lat0: Double, lon0: Double, az: Double): IGeo7 =
    kernel("IGEO7", 0, lat0, lon0, az).asInstanceOf[IGeo7]

  lazy val default: IGeo7 = get(DefaultLat, DefaultLon, DefaultAz)
  lazy val isea3h: Isea3H = kernel("ISEA3H").asInstanceOf[Isea3H]
  lazy val isea4h: Isea4H = kernel("ISEA4H").asInstanceOf[Isea4H]
  /** ISEA43H with `n4` leading aperture-4 levels (mixed_aperture_level) */
  def isea43h(n4: Int): Isea43H = kernel("ISEA43H", n4).asInstanceOf[Isea43H]
  lazy val isea4t: Isea4T = kernel("ISEA4T").asInstanceOf[Isea4T]
  lazy val isea4d: Isea4D = kernel("ISEA4D").asInstanceOf[Isea4D]
}

/** Column-level DGGS functions (SURVEY.md §7 layer 3). Scalar cell math
  * is a narrow map — no shuffle; Catalyst prunes/pushes around it.
  * Every kernel function takes the kernel as its last argument (IGEO7 by
  * default). The point assignment (`cellForPoint`) and the hierarchy
  * reads (`resolution`, `parent`, `ancestorAt`) are one native call each
  * into the kernel's own scalar method, so they are bit-identical to it
  * and raise where it raises; the rest are UDFs.
  * Either way the kernel ships as its [[graft.dggs.KernelSpec]] and
  * resolves to each executor's cached instance.
  */
object DggsFunctions {

  /** (lon°, lat°) → int64 cell id at resolution `res`: one native call
    * into the kernel's degree overload of `cellForPoint` (plans print
    * `invoke(KernelSpec(…).cellForPoint(lon, lat, 9))`), the same value
    * as the scalar method with no ScalaUDF boxing.
    *
    * The call sits under an explicit null guard, `if (isnull(lon) ||
    * isnull(lat) || isnull(res)) null else call(knownnotnull(…)×3)`,
    * which is the shape Spark's `HandleNullInputsForUDF` gives a UDF with
    * primitive parameters. A null input gives a null cell; and since the
    * call itself is not nullable, an `isnotnull(cell)` that Catalyst
    * infers below a join folds to null tests on the inputs alone. A bare
    * null-propagating call is nullable, so the inferred filter would
    * evaluate the kernel a second time inside a `Filter` (PlanAuditSpec).
    * Being a non-cheap expression, the call is not inlined into several
    * consumers of the column either.
    *
    * Two traps when the result keys a hash join:
    *  - slot collapse: a coarse id ends in all-ones pad bits, so Spark's
    *    long-keyed hash relation puts every key of a cover in one slot
    *    and each probe scans the cluster. Join on [[z7SpreadKey]] of the
    *    id instead (measured 1.24 s → 0.21 s for 1M cached points
    *    against a 2,559-cell cover; plans/r10).
    *  - inferred filter: an INNER join on a projected key column
    *    derived from this one through native expressions
    *    (ancestor, spread) makes Catalyst infer
    *    `isnotnull(key)` and push it below the projection, inlining
    *    this call again inside a `Filter`. Either write the key
    *    expression into the join condition (`SpatialOps.joinOnCell`:
    *    only `isnotnull(cell)` is inferred, which folds to a null test
    *    on lon/lat) or use a LEFT join (`Bench.flagship`). PlanAuditSpec
    *    checks both.
    */
  def cellForPoint(lon: Column, lat: Column, res: Column,
                   kernel: DggsKernel = Grids.default): Column = {
    val args = Seq(lon.cast("double"), lat.cast("double"), res.cast("int"))
      .map(ExprBridge.expression)
    val call = Invoke(kernelLiteral(kernel), "cellForPoint", LongType,
      args.map(KnownNotNull(_)), propagateNull = false, returnNullable = false)
    ExprBridge.column(If(args.map(IsNull(_): Expression).reduce(Or(_, _)),
      Literal(null, LongType), call))
  }

  /** cell id → the kernel's string form (Z7_STRING, Z3_STRING, …) */
  def cellString(cell: Column, kernel: DggsKernel = Grids.default): Column =
    udf((z: Long) => kernel.toCellString(z)).apply(cell)
  def cellFromString(s: Column, kernel: DggsKernel = Grids.default): Column =
    udf((x: String) => kernel.fromCellString(x)).apply(s)

  /** parent cell at res-1 (raises on res 0) */
  def parent(cell: Column, kernel: DggsKernel = Grids.default): Column =
    kernelCall(kernel, "parent", LongType, cell.cast("long"))

  /** ancestor at resolution r (raises unless 0 ≤ r ≤ the cell's res) */
  def ancestorAt(cell: Column, r: Column, kernel: DggsKernel = Grids.default): Column =
    kernelCall(kernel, "ancestorAt", LongType, cell.cast("long"), r.cast("int"))
  def z7AncestorAt(cell: Column, r: Column): Column = ancestorAt(cell, r)

  def resolution(cell: Column, kernel: DggsKernel = Grids.default): Column =
    kernelCall(kernel, "resolution", IntegerType, cell.cast("long"))

  /** `kernel.<method>(args)` as one native expression: codegen emits a
    * direct call on the kernel, which rides the generated class's
    * references (shipped as its KernelSpec). Same result and same raise
    * as the scalar method, with no ScalaUDF boxing.
    */
  private def kernelCall(kernel: DggsKernel, method: String, dataType: DataType,
                         args: Column*): Column =
    ExprBridge.column(Invoke(kernelLiteral(kernel), method,
      dataType, args.map(ExprBridge.expression), returnNullable = false))

  private def kernelLiteral(kernel: DggsKernel): Literal =
    Literal(kernel, ObjectType(classOf[DggsKernel]))

  /** [[graft.dggs.Z7.spreadKey]] as native bit math (shift + xor: no
    * multiply, which ANSI mode would raise on overflow). Join on this,
    * not on the raw id, wherever Spark builds a long-keyed hash relation
    * over cell ids (broadcast or shuffled hash join). For that relation
    * only: the JVM hash of a spread key is the id's all-ones low half
    * (see [[graft.dggs.Z7.spreadKey]]), so driver-side maps key on raw
    * ids.
    */
  def z7SpreadKey(cell: Column): Column =
    cell.bitwiseXOR(shiftrightunsigned(cell, 32))

  /** immediate children — explode for children-of-parent (COARSE_CELLS)
    * expansion.
    */
  def children(cell: Column, kernel: DggsKernel = Grids.default): Column =
    udf((z: Long) => kernel.children(z)).apply(cell)

  /** all descendants at resolution r. */
  def descendantsAt(cell: Column, r: Column, kernel: DggsKernel = Grids.default): Column =
    udf((z: Long, rr: Int) => kernel.descendants(z, rr)).apply(cell, r)

  /** cell center as struct(lon, lat) degrees. */
  def cellCenter(cell: Column, kernel: DggsKernel = Grids.default): Column =
    udf { (z: Long) =>
      val c = kernel.cellCenter(z)
      (c.lonDeg, c.latDeg)
    }.apply(cell).cast("struct<lon:double,lat:double>")

  /** cell boundary ring as array<struct<lon,lat>> (closed implicitly). */
  def cellBoundary(cell: Column, kernel: DggsKernel = Grids.default): Column =
    udf((z: Long) => kernel.cellBoundary(z).map(g => (g.lonDeg, g.latDeg)))
      .apply(cell).cast("array<struct<lon:double,lat:double>>")

  /** cell boundary as WKT POLYGON (closed ring). */
  def cellBoundaryWkt(cell: Column, kernel: DggsKernel = Grids.default): Column =
    udf((z: Long) => polygonWkt(kernel.cellBoundary(z))).apply(cell)

  private def polygonWkt(ring: Seq[GeoRad]): String =
    (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
      .mkString("POLYGON ((", ", ", "))")

  // ---- ZORDER / ZORDER_STRING / Q2DI over the aperture-3/4 hex grids ----
  def toZorder(cell: Column, kernel: HexKernel): Column =
    udf((z: Long) => kernel.toZorder(z)).apply(cell)
  def fromZorder(zo: Column, kernel: HexKernel): Column =
    udf((z: Long) => kernel.fromZorder(z)).apply(zo)
  def toZorderString(cell: Column, kernel: HexKernel): Column =
    udf((z: Long) => kernel.toZorderString(z)).apply(cell)
  def fromZorderString(sx: Column, kernel: HexKernel): Column =
    udf((x: String) => kernel.fromZorderString(x)).apply(sx)
  def toQ2di(cell: Column, kernel: HexKernel): Column =
    udf((z: Long) => kernel.toQ2di(z)).apply(cell).cast("struct<q:int,i:bigint,j:bigint>")
  def fromQ2di(q: Column, i: Column, j: Column, res: Column, kernel: HexKernel): Column =
    udf((qq: Int, ii: Long, jj: Long, r: Int) => kernel.fromQ2di(qq, ii, jj, r)).apply(q, i, j, res)

  /** cell as a GeoJSON Feature string (sink parity: the reference's
    * GDAL formats — GeoJSON/GPKG/FlatGeobuf, dggrid_runner.py:44-62 —
    * are interchange artifacts; GeoJSON is the portable one).
    */
  def cellGeoJson(cell: Column, grid: IGeo7 = Grids.default): Column =
    udf { (z: Long) =>
      val ring = grid.cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(g => f"[${g.lonDeg}%.12f,${g.latDeg}%.12f]").mkString(",")
      s"""{"type":"Feature","properties":{"name":"${Z7.toCellString(z)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[$coords]]}}"""
    }.apply(cell)

  /** cell as a KML Placemark (Polygon/outerBoundaryIs/LinearRing) — one
    * of the reference's GDAL cell output drivers (get_geo_out
    * dggrid_runner.py:44-62 lists KML among the fiona formats). KML
    * coordinates are `lon,lat[,alt]` whitespace-separated tuples, ring
    * closed; a file sink is these Placemarks inside the standard
    * kml/Document envelope. Mirrors [[cellGeoJson]]'s shape: a pure
    * per-row string column, so the writer stays an ordinary
    * distributed text sink.
    */
  def cellKml(cell: Column, grid: IGeo7 = Grids.default): Column =
    udf { (z: Long) =>
      val ring = grid.cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(g => f"${g.lonDeg}%.12f,${g.latDeg}%.12f,0").mkString(" ")
      s"<Placemark><name>${Z7.toCellString(z)}</name><Polygon>" +
        "<outerBoundaryIs><LinearRing><coordinates>" + coords +
        "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"
    }.apply(cell)

  /** cell as an Arc/Info Generate (AIGEN) polygon record — a GDAL-side
    * format in the reference's address-type zoo (dggrid_runner.py:130
    * 'AIGEN', admitted on BOTH sides: input literals :199, 218 — see
    * GridOps.addressTransform for the input direction). Format:
    * id line (SEQNUM-style numeric id = the Z7 int64), one `lon lat`
    * vertex line per boundary vertex with the ring closed, then `END`.
    * A file sink is these records concatenated + a final `END`.
    */
  def cellAigen(cell: Column, grid: IGeo7 = Grids.default): Column =
    udf { (z: Long) =>
      val ring = grid.cellBoundary(z)
      val verts = (ring :+ ring.head)
        .map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f").mkString("\n")
      s"$z\n$verts\nEND"
    }.apply(cell)

  /** boundary with n extra vertices per edge (reference `densification`
    * param — projection-plane interpolation; pentagons geodesic).
    */
  def cellBoundaryDensified(cell: Column, densify: Column, grid: IGeo7 = Grids.default): Column =
    udf((z: Long, n: Int) => grid.cellBoundaryDensified(z, n).map(g => (g.lonDeg, g.latDeg)))
      .apply(cell, densify).cast("array<struct<lon:double,lat:double>>")

  /** densified WKT (keeps the `wkt` column consistent with a densified
    * `boundary` column)
    */
  def cellBoundaryWktDensified(cell: Column, densify: Column,
                               grid: IGeo7 = Grids.default): Column =
    udf((z: Long, n: Int) => polygonWkt(grid.cellBoundaryDensified(z, n))).apply(cell, densify)

  /** k-disk: all cells within graph distance k, including the cell
    * itself (BFS over ring1 in index space — 1+6+12=19 cells for an
    * interior hexagon at k=2).
    */
  def z7Disk(cell: Column, k: Int, grid: IGeo7 = Grids.default): Column =
    udf((z: Long) => grid.disk(z, k)).apply(cell)

  /** engine-canonical SEQNUM (1..N(r), dense, hierarchical order) and
    * inverse. NOTE: deterministic and bijective, but NOT DGGRID's quad
    * scan order (insufficient public data to reproduce that — two golden
    * samples only; documented divergence).
    */
  private lazy val z7ToSeqnumUdf = udf((z: Long) => Seqnum.toSeqnum(z))
  def z7ToSeqnum(cell: Column): Column = z7ToSeqnumUdf(cell)
  private lazy val seqnumToZ7Udf = udf((n: Long, r: Int) => Seqnum.toZ7(n, r))
  def seqnumToZ7(seq: Column, res: Column): Column = seqnumToZ7Udf(seq, res)
}

/** Dense hierarchical sequence numbers: cells at resolution r numbered
  * 1..10·7^r+2 in (base, digit-path) lexicographic order, accounting for
  * pentagon subtrees (which lack digit 2).
  */
object Seqnum {
  /** number of res-(k+d) descendants of a pentagon at res k */
  def pentCount(d: Int): Long = 1L + 5L * (pow7(d) - 1) / 6
  def pow7(d: Int): Long = { var v = 1L; var i = 0; while (i < d) { v *= 7; i += 1 }; v }

  def toSeqnum(z: Long): Long = {
    val r = Z7.resolution(z)
    val base = Z7.baseCell(z)
    var rank = base.toLong * perBase(r)
    var pentagonSoFar = true
    var k = 1
    while (k <= r) {
      val d = Z7.digit(z, k)
      val digitsHere = if (pentagonSoFar) Seq(0, 1, 3, 4, 5, 6) else Seq(0, 1, 2, 3, 4, 5, 6)
      for (dd <- digitsHere if dd < d) {
        val subPent = pentagonSoFar && dd == 0
        rank += (if (subPent) pentCount(r - k) else pow7(r - k))
      }
      if (d != 0) pentagonSoFar = false
      k += 1
    }
    rank + 1
  }

  /** cells per base at resolution r (pentagon subtree) */
  def perBase(r: Int): Long = pentCount(r)

  def toZ7(seq: Long, r: Int): Long = {
    require(seq >= 1 && seq <= 12 * perBase(r), s"seqnum $seq out of range at res $r")
    var rank = seq - 1
    val base = (rank / perBase(r)).toInt
    rank %= perBase(r)
    val digits = new Array[Int](r)
    var pentagonSoFar = true
    var k = 1
    while (k <= r) {
      val digitsHere = if (pentagonSoFar) Seq(0, 1, 3, 4, 5, 6) else Seq(0, 1, 2, 3, 4, 5, 6)
      var chosen = -1
      val it = digitsHere.iterator
      while (chosen < 0 && it.hasNext) {
        val dd = it.next()
        val sz = if (pentagonSoFar && dd == 0) pentCount(r - k) else pow7(r - k)
        if (rank < sz) chosen = dd else rank -= sz
      }
      digits(k - 1) = chosen
      if (chosen != 0) pentagonSoFar = false
      k += 1
    }
    Z7.pack(base, digits.toSeq)
  }
}

/** Authalic latitude conversions as Column functions (reference
  * auxlat.py — applied per vertex for geometry, per point for inputs).
  */
object AuthalicFunctions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Authalic
  private lazy val toAuthalicUdf = udf((lat: Double) => Authalic.toAuthalicDeg(lat))
  private lazy val toGeodeticUdf = udf((lat: Double) => Authalic.toGeodeticDeg(lat))
  def toAuthalicLat(lat: org.apache.spark.sql.Column) = toAuthalicUdf(lat)
  def toGeodeticLat(lat: org.apache.spark.sql.Column) = toGeodeticUdf(lat)
}

/** Q2DI-style quad coordinates (engine-canonical: the kernel's owner
  * quad 1..10 + exact integer lattice coords at the cell's resolution;
  * the reference consumes DGGRID's "Q I J" strings the same shape —
  * igeo7_ext.py:60-73).
  */
object Q2diFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Z7

  private lazy val toQ2diUdf = udf { (z: Long) =>
    val fix = Grids.default.decode(z)
    (fix.quad, fix.v.a, fix.v.b)
  }
  /** cell -> struct(q, i, j) */
  def z7ToQ2di(cell: Column): Column =
    toQ2diUdf(cell).cast("struct<q:int,i:bigint,j:bigint>")

  private lazy val fromQ2diUdf = udf { (q: Int, i: Long, j: Long, res: Int) =>
    val g = Grids.default
    val (vtx, digits) = g.digitsOf(g.CellFix(q, graft.dggs.Lattice.Eis(i, j), res))
    Z7.pack(g.baseOfVertex(vtx), digits.toSeq)
  }
  /** (q, i, j, res) -> cell */
  def q2diToZ7(q: Column, i: Column, j: Column, res: Column): Column =
    fromQ2diUdf(q, i, j, res)
}

/** Q2DD / PROJTRI / PLANE address transforms (graft.dggs.Addr — see its
  * scaladoc for the engine-canonical frame definitions).
  */
object AddrFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Addr

  private lazy val q2ddUdf = udf((z: Long) => Addr.z7ToQ2dd(Grids.default, z))
  def z7ToQ2dd(cell: Column): Column =
    q2ddUdf(cell).cast("struct<q:int,x:double,y:double>")
  private lazy val q2ddInvUdf =
    udf((q: Int, x: Double, y: Double, r: Int) => Addr.q2ddToZ7(Grids.default, q, x, y, r))
  def q2ddToZ7(q: Column, x: Column, y: Column, res: Column): Column =
    q2ddInvUdf(q, x, y, res)

  private lazy val projtriUdf = udf((z: Long) => Addr.z7ToProjtri(Grids.default, z))
  def z7ToProjtri(cell: Column): Column =
    projtriUdf(cell).cast("struct<t:int,x:double,y:double>")
  private lazy val projtriInvUdf =
    udf((t: Int, x: Double, y: Double, r: Int) => Addr.projtriToZ7(Grids.default, t, x, y, r))
  def projtriToZ7(t: Column, x: Column, y: Column, res: Column): Column =
    projtriInvUdf(t, x, y, res)

  private lazy val vertex2ddUdf = udf((z: Long) => Addr.z7ToVertex2dd(Grids.default, z))
  def z7ToVertex2dd(cell: Column): Column =
    vertex2ddUdf(cell).cast("struct<v:int,t:int,x:double,y:double>")
  private lazy val vertex2ddInvUdf =
    udf((t: Int, x: Double, y: Double, r: Int) => Addr.vertex2ddToZ7(Grids.default, t, x, y, r))
  def vertex2ddToZ7(t: Column, x: Column, y: Column, res: Column): Column =
    vertex2ddInvUdf(t, x, y, res)

  private lazy val planeUdf = udf((z: Long) => Addr.z7ToPlane(Grids.default, z))
  def z7ToPlane(cell: Column): Column =
    planeUdf(cell).cast("struct<x:double,y:double>")
  private lazy val planeInvUdf =
    udf((x: Double, y: Double, r: Int) => Addr.planeToZ7(Grids.default, x, y, r))
  def planeToZ7(x: Column, y: Column, res: Column): Column = planeInvUdf(x, y, res)
}
