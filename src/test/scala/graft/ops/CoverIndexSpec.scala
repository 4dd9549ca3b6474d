package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.Z7
import graft.spark.Grids

/** `CoverIndex.hits` stands for a cover equi-join plus a JTS refine: per
  * point, it must count exactly the polygons that contain the point among
  * those whose `coverCells` cover holds the point's ancestor at the
  * index's resolution. Checked here against that brute force, as a scalar
  * and as a Column (whole-stage codegen and interpreted).
  */
class CoverIndexSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def box(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

  /** polygons, each with the lon/lat window its seeded points are drawn
    * from (lon may pass 180 and is wrapped)
    */
  private val polygons: Seq[(String, (Double, Double, Double, Double))] =
    graft.Bench.FlagshipPolys.map { case (_, wkt) =>
      val e = JtsCache.envelope(wkt)
      wkt -> ((e._1 - 2, e._2 - 2, e._3 + 2, e._4 + 2))
    } ++ Seq(
      "MULTIPOLYGON (((170 -10, 180 -10, 180 10, 170 10, 170 -10)), " +
        "((-180 -10, -170 -10, -170 10, -180 10, -180 -10)))" -> ((165.0, -12.0, 195.0, 12.0)),
      box(-180, 75, 180, 90) -> ((-180.0, 72.0, 180.0, 90.0)),
      box(0, 0, 20, 20) -> ((-2.0, -2.0, 22.0, 22.0)),
      box(10, 10, 30, 30) -> ((8.0, 8.0, 32.0, 32.0)))

  /** 600 seeded points per window plus 3,000 uniform on the sphere */
  private lazy val points: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(19)
    def wrap(lon: Double) = if (lon > 180) lon - 360 else lon
    val local = polygons.flatMap { case (_, (x0, y0, x1, y1)) =>
      Seq.fill(600)((wrap(x0 + (x1 - x0) * rnd.nextDouble()),
        math.min(90.0, y0 + (y1 - y0) * rnd.nextDouble())))
    }
    val global = Seq.fill(3000)((360 * rnd.nextDouble() - 180,
      math.toDegrees(math.asin(2 * rnd.nextDouble() - 1))))
    local ++ global
  }

  private def pointsDf(rows: Seq[(Long, Double, Double)], local: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("cell_id", LongType),
      StructField("lon", DoubleType), StructField("lat", DoubleType)))
    val rs = rows.map { case (c, lon, lat) => Row(c, lon, lat) }
    if (local) spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), schema)
  }

  for (res <- Seq(4, 5))
    test(s"hits == brute-force JTS count over the covering polygons, res $res") {
      val wkts = polygons.map(_._1)
      val index = CoverIndex(wkts, res)
      val covers = wkts.map(SpatialOps.coverCells(_, res).toSet)
      val cells = points.map { case (lon, lat) => Grids.default.cellForPoint(lon, lat, 9) }
      val want = points.zip(cells).map { case ((lon, lat), c) =>
        val a = Z7.ancestorAt(c, res)
        wkts.indices.count(i => covers(i)(a) && JtsCache.contains(wkts(i), lon, lat)).toLong
      }
      // every polygon is hit, and the overlap counts twice
      for (w <- wkts)
        assert(points.exists { case (lon, lat) => JtsCache.contains(w, lon, lat) }, w)
      assert(want.contains(2L))
      val got = points.zip(cells).map { case ((lon, lat), c) => index.hits(c, lon, lat) }
      assert(got == want)
      for (local <- Seq(false, true)) {
        val rows = pointsDf(cells.zip(points).map { case (c, (lon, lat)) => (c, lon, lat) }, local)
          .select(index.hitsColumn(col("cell_id"), col("lon"), col("lat"))).collect()
        assert(rows.map(_.getLong(0)).toSeq == want, s"local = $local")
      }
      // a null input gives a null count
      val nul = pointsDf(Seq((cells.head, points.head._1, points.head._2)), local = true)
        .select(index.hitsColumn(lit(null).cast(LongType), col("lon"), col("lat"))).head()
      assert(nul.isNullAt(0))
      // a cell coarser than the index raises, as the ancestor does
      intercept[IllegalArgumentException](index.hits(Z7.pack(3, Seq(1, 2)), 0.0, 0.0))
    }

  test("the index is memoized per (polygons, res), within the memo's bound") {
    val wkts = polygons.map(_._1)
    val index = CoverIndex(wkts, 4)
    // an equal polygon list of another collection type is the same key
    assert(CoverIndex(wkts.toList, 4) eq index)
    assert(CoverIndex(wkts.toVector, 4) eq index)
    assert(!(CoverIndex(wkts, 5) eq index))
    assert(!(CoverIndex(wkts.take(2), 4) eq index))
    assert(CoverIndex(wkts.take(2), 4).toString.contains("polygons=2"))
    // more distinct keys than the bound: the memo never holds more
    for (i <- 0 to CoverIndex.MemoEntries + 8) {
      CoverIndex(Seq(box(i, 0, i + 1, 1)), 1)
      assert(CoverIndex.memoSize <= CoverIndex.MemoEntries, i)
    }
    // a key evicted by the clear is rebuilt, equal to the first build
    val again = CoverIndex(wkts, 4)
    assert(again.toString == index.toString)
    assert(CoverIndex(wkts, 4) eq again)
  }
}
