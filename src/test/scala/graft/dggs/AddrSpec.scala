package graft.dggs

import graft.spark.Grids
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip properties of the Q2DD / PROJTRI / PLANE address frames
  * (graft.dggs.Addr). The frames are engine-canonical (no DGGRID goldens
  * exist in the reference tests — divergence documented per-type in
  * COVERAGE.md); what must hold exactly is cell → addr → cell identity.
  */
class AddrSpec extends AnyFunSuite {

  private val g = new IGeo7() // default vert0/azimuth

  private def cellsAt(r: Int): Seq[Long] =
    (0 to 11).flatMap(b => Z7.descendants(Z7.pack(b, Seq.empty), r))

  test("Q2DD round-trips every res-3 cell (incl. pentagons)") {
    cellsAt(3).foreach { z =>
      val (q, x, y) = Addr.z7ToQ2dd(g, z)
      assert(q >= 1 && q <= 10)
      assert(Addr.q2ddToZ7(g, q, x, y, 3) == z, Z7.toCellString(z))
    }
  }

  test("PROJTRI round-trips every res-3 cell") {
    cellsAt(3).foreach { z =>
      val (t, x, y) = Addr.z7ToProjtri(g, z)
      assert(t >= 0 && t < 20)
      assert(math.hypot(x, y) <= g.snyder.rc + 1e-12)
      assert(Addr.projtriToZ7(g, t, x, y, 3) == z, Z7.toCellString(z))
    }
  }

  test("PLANE round-trips every res-3 cell; face frames are disjoint") {
    val seen = scala.collection.mutable.HashSet[(Double, Double)]()
    cellsAt(3).foreach { z =>
      val (px, py) = Addr.z7ToPlane(g, z)
      assert(seen.add((px, py)), s"PLANE collision at ${Z7.toCellString(z)}")
      assert(Addr.planeToZ7(g, px, py, 3) == z, Z7.toCellString(z))
    }
  }

  test("VERTEX2DD round-trips every res-3 cell; vertex matches the base cell") {
    cellsAt(3).foreach { z =>
      val (v, t, x, y) = Addr.z7ToVertex2dd(g, z)
      assert(v >= 0 && v <= 11)
      assert(v == g.vertexOfBase(Z7.baseCell(z)), Z7.toCellString(z))
      assert(t >= 0 && t < 20)
      assert(Addr.vertex2ddToZ7(g, t, x, y, 3) == z, Z7.toCellString(z))
    }
  }

  test("error contract: INTERLEAVE/Z3/ZORDER raise the aperture-3/4 constraint") {
    // mirrors the reference's own type constraint (dggrid_runner.py:125)
    // and its ValueError error-contract style (dggrid_runner.py:2077-2086)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val cells = Seq("00123").toDF("name")
    for (bad <- Seq("INTERLEAVE", "Z3", "ZORDER")) {
      val e = intercept[IllegalArgumentException] {
        graft.ops.GridOps.addressTransform(cells, "name", "Z7_STRING", bad, 3)
      }
      assert(e.getMessage.contains("aperture-3/4"), bad)
    }
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.GridOps.addressTransform(cells, "name", "WAT", "Z7", 3)
    }
    assert(e2.getMessage.contains("unsupported input"))
  }

  test("AIGEN output follows the grid's orientation") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val turned = Grids.get(10.0, 20.0, 5.0)
    val z = turned.cellForPoint(24.7, 59.4, 3)
    val aigen = graft.ops.GridOps.addressTransform(Seq(z).toDF("z"), "z", "Z7", "AIGEN", 3, turned)
      .select("out_addr").head().getString(0).split("\n")
    assert(aigen.head == z.toString && aigen.last == "END")
    val verts = aigen.slice(1, aigen.length - 1).toSeq.map { line =>
      val Array(lon, lat) = line.split(" ").map(_.toDouble)
      (lon, lat)
    }
    def closed(k: IGeo7) = {
      val ring = k.cellBoundary(z).toSeq
      (ring :+ ring.head).map(v => (v.lonDeg, v.latDeg))
    }
    def near(a: Seq[(Double, Double)], b: Seq[(Double, Double)]) = a.length == b.length &&
      a.zip(b).forall { case ((x1, y1), (x2, y2)) =>
        math.abs(x1 - x2) < 1e-9 && math.abs(y1 - y2) < 1e-9 }
    assert(near(verts, closed(turned)), verts)
    assert(!near(verts, closed(Grids.default)))
  }

  test("3H transform: full Z3/ZORDER/Q2DI round-trips; INTERLEAVE output-only") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    import graft.ops.GridOps.addressTransform
    val g = graft.spark.Grids.isea3h
    val names = (for (q <- 1 to 10; d1 <- 0 to 2; d2 <- 0 to 2)
      yield f"$q%02d$d1$d2${(d1 + d2) % 3}") ++ Seq("00000", "11000")
    val cells = names.toDF("name")
    // hop chain Z3_STRING -> ZORDER -> ZORDER_STRING -> Q2DI -> Z3 -> Z3_STRING
    val h1 = addressTransform(cells, "name", "Z3_STRING", "ZORDER", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "zo")
    val h2 = addressTransform(h1, "zo", "ZORDER", "ZORDER_STRING", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "zs")
    val h3 = addressTransform(h2, "zs", "ZORDER_STRING", "Q2DI", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "qij")
    val h4 = addressTransform(h3, "qij", "Q2DI", "Z3", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "z3")
    val h5 = addressTransform(h4, "z3", "Z3", "Z3_STRING", 3, Grids.isea3h)
    h5.select("name", "out_addr").collect().foreach { r =>
      assert(r.getString(0) == r.getString(1), r)
    }
    // GEO hop: center of each cell assigns back to the cell
    val geo = addressTransform(cells, "name", "Z3_STRING", "GEO", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "geo")
    val back = addressTransform(geo, "geo", "GEO", "Z3_STRING", 3, Grids.isea3h)
    back.select("name", "out_addr").collect().foreach { r =>
      assert(r.getString(0) == r.getString(1), r)
    }
    // INTERLEAVE = the interleaved-digit string, output-only
    val il = addressTransform(cells, "name", "Z3_STRING", "INTERLEAVE", 3, Grids.isea3h)
      .withColumnRenamed("out_addr", "il")
    val zs = addressTransform(cells, "name", "Z3_STRING", "ZORDER_STRING", 3, Grids.isea3h)
    assert(il.select("il").collect().map(_.getString(0)).toSeq ==
      zs.select("out_addr").collect().map(_.getString(0)).toSeq)
    val e = intercept[IllegalArgumentException] {
      addressTransform(il, "il", "INTERLEAVE", "Z3", 3, Grids.isea3h)
    }
    assert(e.getMessage.contains("output_address_type"))
    // kernel-level deep round-trip: every sampled res-8 cell hops
    // Z3 -> ZORDER -> Z3 and Z3 -> Q2DI -> Z3 exactly
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val id = g.cellForPoint(Sphere.GeoRad(
        math.asin(rng.nextDouble() * 2 - 1), (rng.nextDouble() * 2 - 1) * math.Pi), 8)
      assert(g.fromZorder(g.toZorder(id)) == id)
      val (q, i, j) = g.toQ2di(id)
      assert(g.fromQ2di(q, i, j, 8) == id)
    }
  }

  test("Q2DD chart coords land inside the unit quad chart (deep res spot check)") {
    val ids = (0 until 100).map(i => Z7.pack(i % 12, Seq(1, 3, 0, (i % 7), 5, (i * 3) % 7)))
      .filter(z => !Z7.isPentagon(Z7.ancestorAt(z, 0)) || Z7.digits(z).forall(_ != 2))
    ids.foreach { z =>
      val (q, x, y) = Addr.z7ToQ2dd(g, z)
      assert(Addr.q2ddToZ7(g, q, x, y, 6) == z)
    }
  }
}
