package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dggs.{IGeo7, Sphere, Z7}
import Sphere.GeoRad

/** Executor-side kernel cache: IGeo7 construction is ~ms (quad charts +
  * shift tables); one instance per orientation per JVM, shared by all
  * tasks (the kernel is immutable/thread-safe after construction).
  */
object Grids extends Serializable {
  val DefaultLat = 58.28252559
  val DefaultLon = 11.25
  val DefaultAz = 0.0

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[(Double, Double, Double), IGeo7]()

  def get(lat0: Double, lon0: Double, az: Double): IGeo7 =
    cache.computeIfAbsent((lat0, lon0, az),
      k => new IGeo7(k._1, k._2, k._3))

  def default: IGeo7 = get(DefaultLat, DefaultLon, DefaultAz)
}

/** Column-level DGGS functions (SURVEY.md §7 layer 3). Scalar cell math
  * is a narrow map — no shuffle; Catalyst prunes/pushes around it.
  * Implemented as Scala UDFs over the pure kernel; the hot ones are
  * candidates for codegen `Expression`s in a later round.
  */
object DggsFunctions {

  /** (lon°, lat°) → Z7 int64 cell id at resolution `res`.
    *
    * Deliberately a Scala UDF, NOT the native `CellForPointExpr`:
    * measured head-to-head the UDF already runs at raw-kernel speed
    * (the projection math dominates, boxing is noise), and Catalyst
    * treats UDFs as expensive — it will not inline them into multiple
    * consuming expressions, whereas the native expression got
    * re-evaluated per reference in the flagship plan (a measured 35%
    * regression). `cellForPointExpr` remains available for
    * single-reference pipelines. Plans print it as `cellForPoint(...)`.
    *
    * Two traps when the result keys a hash join:
    *  - slot collapse: a coarse id ends in all-ones pad bits, so Spark's
    *    long-keyed hash relation puts every key of a cover in one slot
    *    and each probe scans the cluster. Join on [[z7SpreadKey]] of the
    *    id instead (measured 1.24 s → 0.21 s for 1M cached points
    *    against a 2,559-cell cover; plans/r10).
    *  - inferred filter: an INNER join on a projected key column
    *    derived from this one through null-intolerant native
    *    expressions (ancestor, spread) makes Catalyst infer
    *    `isnotnull(key)` and push it below the projection, inlining
    *    this UDF again inside a `Filter`. Either write the key
    *    expression into the join condition (`SpatialOps.joinOnCell`:
    *    only `isnotnull(cell)` is inferred, which folds to a null test
    *    on lon/lat) or use a LEFT join (`Bench.flagship`). PlanAuditSpec
    *    checks both.
    */
  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Grids.get(lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }.withName("cellForPoint")
    f(lon, lat, res)
  }

  /** native codegen variant (no boxing; see cellForPoint scaladoc for
    * when NOT to use it).
    */
  def cellForPointExpr(lon: Column, lat: Column, res: Column,
                       lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                       az: Double = Grids.DefaultAz): Column = {
    import org.apache.spark.sql.graft.{CellForPointExpr, ExprBridge}
    ExprBridge.column(CellForPointExpr(
      expression(lon), expression(lat), expression(res.cast("int")), lat0, lon0, az))
  }

  private def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ExprBridge.expression(c)

  /** `1L << bits` with a COLUMN shift count (the Scala `shiftleft`
    * wrapper only takes an Int literal) — native codegen, used by the
    * hex/Quat2 ancestor expressions below.
    */
  private[spark] def shiftLeftC(v: Column, bits: Column): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graft.ExprBridge.expression(v),
        org.apache.spark.sql.graft.ExprBridge.expression(bits)))

  /** native ancestor-at for the base<<60 / all-ones-pad hex layouts
    * (Z3: 2-bit digits, Z4/Z43: 3-bit): pad every level deeper than r.
    * No validity raise (mirrors [[z7AncestorAtExpr]]): r above the
    * cell's res is a no-op, callers needing the loud contract use the
    * UDF forms.
    */
  private[spark] def hexAncestorAtExpr(slotBits: Int)(cell: Column, r: Column): Column =
    cell.bitwiseOR(
      shiftLeftC(lit(1L), lit(60) - lit(slotBits) * r.cast("int")) - lit(1L))

  /** native ancestor-at for the Quat2 (T4/D4) layout: explicit res
    * field in the high bits, zero-padded digits (Quat2Codec.ancestorAt;
    * same no-raise contract as the hex variant).
    */
  private[spark] def quat2AncestorAtExpr(cell: Column, r: Column): Column = {
    val ri = r.cast("int")
    val digitMask = when(ri === 0, lit(0L)).otherwise(
      shiftLeftC(lit(1L), lit(48)) -
        shiftLeftC(lit(1L), lit(48) - lit(2) * ri))
    shiftleft(shiftrightunsigned(cell, 48).bitwiseAND(lit(~31L))
        .bitwiseOR(ri.cast("long")), 48)
      .bitwiseOR(cell.bitwiseAND(digitMask))
  }

  /** Z7 int64 → Z7_STRING (2-digit base + digit chars). */
  private lazy val z7StringUdf = udf((z: Long) => Z7.toZ7String(z))
  def z7String(cell: Column): Column = z7StringUdf(cell)

  /** Z7_STRING → Z7 int64. */
  private lazy val z7FromStringUdf = udf((x: String) => Z7.fromZ7String(x))
  def z7FromString(s: Column): Column = z7FromStringUdf(s)

  /** parent cell at res-1 (error on res 0). */
  private lazy val z7ParentUdf = udf((z: Long) => Z7.parent(z))
  def z7Parent(cell: Column): Column = z7ParentUdf(cell)

  /** ancestor at resolution r (pure bit math — prefix padding). */
  private lazy val z7AncestorAtUdf =
    udf((z: Long, rr: Int) => Z7.ancestorAt(z, rr)).withName("z7AncestorAt")
  def z7AncestorAt(cell: Column, r: Column): Column = z7AncestorAtUdf(cell, r)
  /** native codegen variant of z7AncestorAt (inline bit math). */
  def z7AncestorAtExpr(cell: Column, r: Column): Column = {
    import org.apache.spark.sql.graft.{Z7AncestorExpr, ExprBridge}
    ExprBridge.column(Z7AncestorExpr(expression(cell), expression(r.cast("int"))))
  }

  /** [[graft.dggs.Z7.spreadKey]] as native bit math (shift + xor: no
    * multiply, which ANSI mode would raise on overflow). Join on this,
    * not on the raw id, wherever Spark builds a long-keyed hash relation
    * over cell ids (broadcast or shuffled hash join).
    */
  def z7SpreadKey(cell: Column): Column =
    cell.bitwiseXOR(shiftrightunsigned(cell, 32))

  private lazy val z7ResolutionUdf = udf((z: Long) => Z7.resolution(z))
  def z7Resolution(cell: Column): Column = z7ResolutionUdf(cell)
  private lazy val z7IsPentagonUdf = udf((z: Long) => Z7.isPentagon(z))
  def z7IsPentagon(cell: Column): Column = z7IsPentagonUdf(cell)
  private lazy val z7IsCenterUdf = udf((z: Long) => Z7.isCenter(z))
  def z7IsCenter(cell: Column): Column = z7IsCenterUdf(cell)
  private lazy val z7LocalPosUdf = udf((z: Long) => Z7.localPos(z))
  def z7LocalPos(cell: Column): Column = z7LocalPosUdf(cell)

  /** immediate children (7, or 6 for pentagons) — explode for
    * children-of-parent (COARSE_CELLS) expansion.
    */
  private lazy val z7ChildrenUdf = udf((z: Long) => Z7.children(z))
  def z7Children(cell: Column): Column = z7ChildrenUdf(cell)

  /** all descendants at resolution r. */
  private lazy val z7DescendantsAtUdf = udf((z: Long, rr: Int) => Z7.descendants(z, rr))
  def z7DescendantsAt(cell: Column, r: Column): Column = z7DescendantsAtUdf(cell, r)

  /** contiguous int64 range [min,max] covering all descendants — the
    * Parquet row-group / partition pruning predicate pair.
    */
  private lazy val z7RangeMinUdf = udf((z: Long) => Z7.rangeMin(z))
  def z7RangeMin(cell: Column): Column = z7RangeMinUdf(cell)
  private lazy val z7RangeMaxUdf = udf((z: Long) => Z7.rangeMax(z))
  def z7RangeMax(cell: Column): Column = z7RangeMaxUdf(cell)

  /** cell center as struct(lon, lat) degrees. */
  def cellCenter(cell: Column, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      val c = Grids.get(lat0, lon0, az).cellCenter(z)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  /** cell boundary ring as array<struct<lon,lat>> (closed implicitly;
    * 6 vertices for hexagons, 5 for pentagons).
    */
  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      Grids.get(lat0, lon0, az).cellBoundary(z).map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  /** cell boundary as WKT POLYGON (closed ring). */
  def cellBoundaryWkt(cell: Column, lat0: Double = Grids.DefaultLat,
                      lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      val ring = Grids.get(lat0, lon0, az).cellBoundary(z)
      val pts = (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
      pts.mkString("POLYGON ((", ", ", "))")
    }
    f(cell)
  }

  /** cell as a GeoJSON Feature string (sink parity: the reference's
    * GDAL formats — GeoJSON/GPKG/FlatGeobuf, dggrid_runner.py:44-62 —
    * are interchange artifacts; GeoJSON is the portable one).
    */
  def cellGeoJson(cell: Column, lat0: Double = Grids.DefaultLat,
                  lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      val ring = Grids.get(lat0, lon0, az).cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(g => f"[${g.lonDeg}%.12f,${g.latDeg}%.12f]").mkString(",")
      s"""{"type":"Feature","properties":{"name":"${Z7.toZ7String(z)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[$coords]]}}"""
    }
    f(cell)
  }

  /** cell as a KML Placemark (Polygon/outerBoundaryIs/LinearRing) — one
    * of the reference's GDAL cell output drivers (get_geo_out
    * dggrid_runner.py:44-62 lists KML among the fiona formats). KML
    * coordinates are `lon,lat[,alt]` whitespace-separated tuples, ring
    * closed; a file sink is these Placemarks inside the standard
    * kml/Document envelope. Mirrors [[cellGeoJson]]'s shape: a pure
    * per-row string column, so the writer stays an ordinary
    * distributed text sink.
    */
  def cellKml(cell: Column, lat0: Double = Grids.DefaultLat,
              lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      val ring = Grids.get(lat0, lon0, az).cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(g => f"${g.lonDeg}%.12f,${g.latDeg}%.12f,0").mkString(" ")
      s"<Placemark><name>${Z7.toZ7String(z)}</name><Polygon>" +
        "<outerBoundaryIs><LinearRing><coordinates>" + coords +
        "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"
    }
    f(cell)
  }

  /** cell as an Arc/Info Generate (AIGEN) polygon record — a GDAL-side
    * format in the reference's address-type zoo (dggrid_runner.py:130
    * 'AIGEN', admitted on BOTH sides: input literals :199, 218 — see
    * GridOps.addressTransform for the input direction). Format:
    * id line (SEQNUM-style numeric id = the Z7 int64), one `lon lat`
    * vertex line per boundary vertex with the ring closed, then `END`.
    * A file sink is these records concatenated + a final `END`.
    */
  def cellAigen(cell: Column, lat0: Double = Grids.DefaultLat,
                lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) =>
      val ring = Grids.get(lat0, lon0, az).cellBoundary(z)
      val verts = (ring :+ ring.head)
        .map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f").mkString("\n")
      s"$z\n$verts\nEND"
    }
    f(cell)
  }

  /** boundary with n extra vertices per edge (reference `densification`
    * param — projection-plane interpolation; pentagons geodesic).
    */
  def cellBoundaryDensified(cell: Column, densify: Column,
                            lat0: Double = Grids.DefaultLat,
                            lon0: Double = Grids.DefaultLon,
                            az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long, n: Int) =>
      Grids.get(lat0, lon0, az).cellBoundaryDensified(z, n).map(g => (g.lonDeg, g.latDeg))
    }
    f(cell, densify).cast("array<struct<lon:double,lat:double>>")
  }

  /** densified WKT (keeps the `wkt` column consistent with a densified
    * `boundary` column)
    */
  def cellBoundaryWktDensified(cell: Column, densify: Column,
                               lat0: Double = Grids.DefaultLat,
                               lon0: Double = Grids.DefaultLon,
                               az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long, n: Int) =>
      val ring = Grids.get(lat0, lon0, az).cellBoundaryDensified(z, n)
      (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
        .mkString("POLYGON ((", ", ", "))")
    }
    f(cell, densify)
  }

  /** k=1 ring: the 6 (5 for pentagons) adjacent cells (igeo7_ext.py
    * z7_k1_ring semantics, computed exactly in lattice space).
    */
  def z7Ring1(cell: Column, lat0: Double = Grids.DefaultLat,
              lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) => Grids.get(lat0, lon0, az).ring1(z) }
    f(cell)
  }

  /** k-disk: all cells within graph distance k, including the cell
    * itself (BFS over ring1 in index space — 1+6+12=19 cells for an
    * interior hexagon at k=2).
    */
  def z7Disk(cell: Column, k: Int, lat0: Double = Grids.DefaultLat,
             lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (z: Long) => Grids.get(lat0, lon0, az).disk(z, k) }
    f(cell)
  }

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

/** Column functions for the ISEA4T aperture-4 triangle kernel (T4 ids;
  * graft.dggs.Isea4T). Same narrow-map UDF design as DggsFunctions.
  */
object T4Functions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.{Isea4TGrids, T4}

  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Isea4TGrids.get(lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }
    f(lon, lat, res)
  }

  private lazy val toStringUdf = udf((id: Long) => T4.toT4String(id))
  def t4String(cell: Column): Column = toStringUdf(cell)
  private lazy val fromStringUdf = udf((s: String) => T4.fromT4String(s))
  def t4FromString(s: Column): Column = fromStringUdf(s)
  private lazy val parentUdf = udf((id: Long) => T4.parent(id))
  def t4Parent(cell: Column): Column = parentUdf(cell)
  private lazy val ancestorUdf = udf((id: Long, r: Int) => T4.ancestorAt(id, r))
  def t4AncestorAt(cell: Column, r: Column): Column = ancestorUdf(cell, r)
  /** native codegen variant (inline bit math; no validity raise). */
  def t4AncestorAtExpr(cell: Column, r: Column): Column =
    DggsFunctions.quat2AncestorAtExpr(cell, r)
  private lazy val resolutionUdf = udf((id: Long) => T4.resolution(id))
  def t4Resolution(cell: Column): Column = resolutionUdf(cell)
  private lazy val childrenUdf = udf((id: Long) => T4.children(id))
  def t4Children(cell: Column): Column = childrenUdf(cell)
  private lazy val descendantsUdf = udf((id: Long, r: Int) => T4.descendants(id, r))
  def t4DescendantsAt(cell: Column, r: Column): Column = descendantsUdf(cell, r)

  def cellCenter(cell: Column, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val c = Isea4TGrids.get(lat0, lon0, az).cellCenter(id)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  /** the 3 triangle corners as array<struct<lon,lat>> */
  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      Isea4TGrids.get(lat0, lon0, az).cellBoundary(id).map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  def cellBoundaryWkt(cell: Column, lat0: Double = Grids.DefaultLat,
                      lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val ring = Isea4TGrids.get(lat0, lon0, az).cellBoundary(id)
      (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
        .mkString("POLYGON ((", ", ", "))")
    }
    f(cell)
  }
}

/** Column functions for the ISEA4D aperture-4 diamond kernel (D4 ids;
  * graft.dggs.Isea4D).
  */
object D4Functions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.{Isea4DGrids, D4}

  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Isea4DGrids.get(lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }
    f(lon, lat, res)
  }

  private lazy val toStringUdf = udf((id: Long) => D4.toD4String(id))
  def d4String(cell: Column): Column = toStringUdf(cell)
  private lazy val fromStringUdf = udf((s: String) => D4.fromD4String(s))
  def d4FromString(s: Column): Column = fromStringUdf(s)
  private lazy val ancestorUdf = udf((id: Long, r: Int) => D4.ancestorAt(id, r))
  def d4AncestorAt(cell: Column, r: Column): Column = ancestorUdf(cell, r)
  /** native codegen variant (inline bit math; no validity raise). */
  def d4AncestorAtExpr(cell: Column, r: Column): Column =
    DggsFunctions.quat2AncestorAtExpr(cell, r)
  private lazy val childrenUdf = udf((id: Long) => D4.children(id))
  def d4Children(cell: Column): Column = childrenUdf(cell)
  private lazy val descendantsUdf = udf((id: Long, r: Int) => D4.descendants(id, r))
  def d4DescendantsAt(cell: Column, r: Column): Column = descendantsUdf(cell, r)

  def cellCenter(cell: Column, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val c = Isea4DGrids.get(lat0, lon0, az).cellCenter(id)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      Isea4DGrids.get(lat0, lon0, az).cellBoundary(id).map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  def cellBoundaryWkt(cell: Column, lat0: Double = Grids.DefaultLat,
                      lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val ring = Isea4DGrids.get(lat0, lon0, az).cellBoundary(id)
      (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
        .mkString("POLYGON ((", ", ", "))")
    }
    f(cell)
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

/** Column functions for the ISEA3H aperture-3 hexagon kernel (Z3 ids;
  * graft.dggs.Isea3H). Same narrow-map UDF design as T4Functions; all
  * hierarchy ops are pure integer arithmetic on the Z3 layout, so they
  * need no kernel instance.
  */
object Z3Functions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.{Isea3HGrids, Z3}

  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Isea3HGrids.get(lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }
    f(lon, lat, res)
  }

  private lazy val toStringUdf = udf((id: Long) => Z3.toZ3String(id))
  def z3String(cell: Column): Column = toStringUdf(cell)
  private lazy val fromStringUdf = udf((s: String) => Z3.fromZ3String(s))
  def z3FromString(s: Column): Column = fromStringUdf(s)
  private lazy val parentUdf = udf((id: Long) => Z3.parent(id))
  def z3Parent(cell: Column): Column = parentUdf(cell)
  private lazy val ancestorUdf = udf((id: Long, r: Int) => Z3.ancestorAt(id, r))
  def z3AncestorAt(cell: Column, r: Column): Column = ancestorUdf(cell, r)
  /** native codegen variant (inline bit math; no validity raise). */
  def z3AncestorAtExpr(cell: Column, r: Column): Column =
    DggsFunctions.hexAncestorAtExpr(2)(cell, r)
  private lazy val resolutionUdf = udf((id: Long) => Z3.resolution(id))
  def z3Resolution(cell: Column): Column = resolutionUdf(cell)
  private lazy val childrenUdf = udf((id: Long) => Z3.children(id))
  def z3Children(cell: Column): Column = childrenUdf(cell)
  private lazy val descendantsUdf = udf((id: Long, r: Int) => Z3.descendants(id, r))
  def z3DescendantsAt(cell: Column, r: Column): Column = descendantsUdf(cell, r)

  def cellCenter(cell: Column, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val c = Isea3HGrids.get(lat0, lon0, az).cellCenter(id)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  /** hexagon (6) / pentagon (5) corners as array<struct<lon,lat>> */
  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      Isea3HGrids.get(lat0, lon0, az).cellBoundary(id).toSeq.map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  // ---- address forms (ZORDER / Q2DI / INTERLEAVE over the 3H grid) ----
  private lazy val zorderUdf =
    udf((id: Long) => Isea3HGrids.default.toZorder(id))
  def z3ToZorder(cell: Column): Column = zorderUdf(cell)
  private lazy val zorderInvUdf =
    udf((zo: Long) => Isea3HGrids.default.fromZorder(zo))
  def zorderToZ3(zo: Column): Column = zorderInvUdf(zo)
  private lazy val zorderStrUdf =
    udf((id: Long) => Isea3HGrids.default.toZorderString(id))
  def z3ToZorderString(cell: Column): Column = zorderStrUdf(cell)
  private lazy val zorderStrInvUdf =
    udf((sx: String) => Isea3HGrids.default.fromZorderString(sx))
  def zorderStringToZ3(sx: Column): Column = zorderStrInvUdf(sx)
  private lazy val q2diUdf = udf { (id: Long) =>
    val (q, i, j) = Isea3HGrids.default.toQ2di(id)
    (q, i, j)
  }
  def z3ToQ2di(cell: Column): Column =
    q2diUdf(cell).cast("struct<q:int,i:bigint,j:bigint>")
  private lazy val q2diInvUdf =
    udf((q: Int, i: Long, j: Long, r: Int) => Isea3HGrids.default.fromQ2di(q, i, j, r))
  def q2diToZ3(q: Column, i: Column, j: Column, res: Column): Column =
    q2diInvUdf(q, i, j, res)
}

/** Column functions for the ISEA4H aperture-4 hexagon kernel (Z4 ids;
  * graft.dggs.Isea4H). Same narrow-map UDF design as Z3Functions; all
  * hierarchy ops are pure integer arithmetic on the Z4 layout, so they
  * need no kernel instance.
  */
object Z4Functions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.{Isea4HGrids, Z4}

  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Isea4HGrids.get(lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }
    f(lon, lat, res)
  }

  private lazy val toStringUdf = udf((id: Long) => Z4.toZ4String(id))
  def z4String(cell: Column): Column = toStringUdf(cell)
  private lazy val fromStringUdf = udf((s: String) => Z4.fromZ4String(s))
  def z4FromString(s: Column): Column = fromStringUdf(s)
  private lazy val parentUdf = udf((id: Long) => Z4.parent(id))
  def z4Parent(cell: Column): Column = parentUdf(cell)
  private lazy val ancestorUdf = udf((id: Long, r: Int) => Z4.ancestorAt(id, r))
  def z4AncestorAt(cell: Column, r: Column): Column = ancestorUdf(cell, r)
  /** native codegen variant (inline bit math; no validity raise). */
  def z4AncestorAtExpr(cell: Column, r: Column): Column =
    DggsFunctions.hexAncestorAtExpr(3)(cell, r)
  private lazy val resolutionUdf = udf((id: Long) => Z4.resolution(id))
  def z4Resolution(cell: Column): Column = resolutionUdf(cell)
  private lazy val childrenUdf = udf((id: Long) => Z4.children(id))
  def z4Children(cell: Column): Column = childrenUdf(cell)
  private lazy val descendantsUdf = udf((id: Long, r: Int) => Z4.descendants(id, r))
  def z4DescendantsAt(cell: Column, r: Column): Column = descendantsUdf(cell, r)

  def cellCenter(cell: Column, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val c = Isea4HGrids.get(lat0, lon0, az).cellCenter(id)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  /** hexagon (6) / pentagon (5) corners as array<struct<lon,lat>> */
  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      Isea4HGrids.get(lat0, lon0, az).cellBoundary(id).toSeq.map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  // ---- address forms (ZORDER / Q2DI / INTERLEAVE over the 4H grid) ----
  private lazy val zorderUdf =
    udf((id: Long) => Isea4HGrids.default.toZorder(id))
  def z4ToZorder(cell: Column): Column = zorderUdf(cell)
  private lazy val zorderInvUdf =
    udf((zo: Long) => Isea4HGrids.default.fromZorder(zo))
  def zorderToZ4(zo: Column): Column = zorderInvUdf(zo)
  private lazy val zorderStrUdf =
    udf((id: Long) => Isea4HGrids.default.toZorderString(id))
  def z4ToZorderString(cell: Column): Column = zorderStrUdf(cell)
  private lazy val zorderStrInvUdf =
    udf((sx: String) => Isea4HGrids.default.fromZorderString(sx))
  def zorderStringToZ4(sx: Column): Column = zorderStrInvUdf(sx)
  private lazy val q2diUdf = udf { (id: Long) =>
    val (q, i, j) = Isea4HGrids.default.toQ2di(id)
    (q, i, j)
  }
  def z4ToQ2di(cell: Column): Column =
    q2diUdf(cell).cast("struct<q:int,i:bigint,j:bigint>")
  private lazy val q2diInvUdf =
    udf((q: Int, i: Long, j: Long, r: Int) => Isea4HGrids.default.fromQ2di(q, i, j, r))
  def q2diToZ4(q: Column, i: Column, j: Column, res: Column): Column =
    q2diInvUdf(q, i, j, res)
}

/** Column functions for the ISEA43H MIXED-aperture hexagon kernel
  * (graft.dggs.Isea43H — `n4` leading aperture-4 resolutions, then
  * aperture-3; ids in the shared 3-bit-digit Z4 layout). `n4` is a
  * plan-time Scala parameter captured by the UDF closures (a grid
  * CONFIG, not data — the reference passes mixed_aperture_level the
  * same way, dggrid_runner.py:447-449).
  */
object Z43Functions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.{Isea43HGrids, Z4}

  def cellForPoint(lon: Column, lat: Column, res: Column, n4: Int,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column = {
    val f = udf { (lo: Double, la: Double, r: Int) =>
      Isea43HGrids.get(n4, lat0, lon0, az).cellForPoint(GeoRad.fromDeg(la, lo), r)
    }
    f(lon, lat, res)
  }

  // id layout ops are the shared Z4 layout (digits 0-3, 3-bit, pad 7)
  private lazy val toStringUdf = udf((id: Long) => Z4.toZ4String(id))
  def z43String(cell: Column): Column = toStringUdf(cell)
  private lazy val fromStringUdf = udf((s: String) => Z4.fromZ4String(s))
  def z43FromString(s: Column): Column = fromStringUdf(s)
  private lazy val parentUdf = udf((id: Long) => Z4.parent(id))
  def z43Parent(cell: Column): Column = parentUdf(cell)
  private lazy val ancestorUdf = udf((id: Long, r: Int) => Z4.ancestorAt(id, r))
  def z43AncestorAt(cell: Column, r: Column): Column = ancestorUdf(cell, r)
  /** native codegen variant (inline bit math; no validity raise). */
  def z43AncestorAtExpr(cell: Column, r: Column): Column =
    DggsFunctions.hexAncestorAtExpr(3)(cell, r)

  /** children / descendants need the aperture sequence (digit alphabet
    * is per-level), so they go through the kernel.
    */
  def z43Children(cell: Column, n4: Int): Column = {
    val f = udf((id: Long) => Isea43HGrids.default(n4).children(id))
    f(cell)
  }
  def z43DescendantsAt(cell: Column, r: Column, n4: Int): Column = {
    val f = udf((id: Long, toRes: Int) => Isea43HGrids.default(n4).descendants(id, toRes))
    f(cell, r)
  }

  def cellCenter(cell: Column, n4: Int, lat0: Double = Grids.DefaultLat,
                 lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      val c = Isea43HGrids.get(n4, lat0, lon0, az).cellCenter(id)
      (c.lonDeg, c.latDeg)
    }
    f(cell).cast("struct<lon:double,lat:double>")
  }

  /** hexagon (6) / pentagon (5) corners as array<struct<lon,lat>> */
  def cellBoundary(cell: Column, n4: Int, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val f = udf { (id: Long) =>
      Isea43HGrids.get(n4, lat0, lon0, az).cellBoundary(id).toSeq.map(g => (g.lonDeg, g.latDeg))
    }
    f(cell).cast("array<struct<lon:double,lat:double>>")
  }

  // ---- address forms (mixed-radix ZORDER / Q2DI / INTERLEAVE) ----
  def z43ToZorder(cell: Column, n4: Int): Column = {
    val f = udf((id: Long) => Isea43HGrids.default(n4).toZorder(id))
    f(cell)
  }
  def zorderToZ43(zo: Column, n4: Int): Column = {
    val f = udf((z: Long) => Isea43HGrids.default(n4).fromZorder(z))
    f(zo)
  }
  def z43ToZorderString(cell: Column, n4: Int): Column = {
    val f = udf((id: Long) => Isea43HGrids.default(n4).toZorderString(id))
    f(cell)
  }
  def zorderStringToZ43(sx: Column, n4: Int): Column = {
    val f = udf((x: String) => Isea43HGrids.default(n4).fromZorderString(x))
    f(sx)
  }
  def z43ToQ2di(cell: Column, n4: Int): Column = {
    val f = udf { (id: Long) =>
      val (q, i, j) = Isea43HGrids.default(n4).toQ2di(id)
      (q, i, j)
    }
    f(cell).cast("struct<q:int,i:bigint,j:bigint>")
  }
  def q2diToZ43(q: Column, i: Column, j: Column, res: Column, n4: Int): Column = {
    val f = udf((qq: Int, ii: Long, jj: Long, r: Int) =>
      Isea43HGrids.default(n4).fromQ2di(qq, ii, jj, r))
    f(q, i, j, res)
  }
}
