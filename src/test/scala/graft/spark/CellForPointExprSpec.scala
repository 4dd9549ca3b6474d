package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.{DggsKernel, Sphere}
import graft.dggs.Sphere.GeoRad

/** The Column `cellForPoint` is a native call into the kernel's degree
  * overload under an explicit null guard: on every kernel it must agree
  * bit for bit with the scalar method, give null for a null input, and
  * plan without any ScalaUDF (PlanAuditSpec counts it in every driver
  * query's plan).
  */
class CellForPointExprSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val kernels: Seq[(String, DggsKernel)] = Seq(
    "z7" -> Grids.default, "z7 tilted" -> Grids.get(10.0, 20.0, 5.0),
    "z3" -> Grids.isea3h, "z4" -> Grids.isea4h, "z43" -> Grids.isea43h(3),
    "t4" -> Grids.isea4t, "d4" -> Grids.isea4d)
  private val resolutions = Seq(0, 5, 9, 15)

  /** (lon°, lat°): seeded points uniform on the sphere, both poles at
    * several longitudes, the icosahedron vertices and points on its 30
    * edges (the face-edge fallback)
    */
  private lazy val points: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(16)
    val seeded = Seq.fill(300) {
      (360.0 * rnd.nextDouble() - 180.0, math.toDegrees(math.asin(2.0 * rnd.nextDouble() - 1.0)))
    }
    val poles = for (lat <- Seq(-90.0, 90.0); lon <- Seq(-180.0, -90.0, 0.0, 37.5, 180.0))
      yield (lon, lat)
    val ico = Grids.default.ico
    val vs = ico.vertices.map(Sphere.toVec)
    val edges = for {
      a <- 0 until 12; b <- a + 1 until 12
      if math.abs(math.acos(vs(a).dot(vs(b))) - ico.edgeArc) < 1e-9
      t <- Seq(0.25, 0.5, 0.81)
    } yield Sphere.toGeo((vs(a) * (1 - t) + vs(b) * t).normalized)
    val onIco = (ico.vertices.map(v => Sphere.toGeo(Sphere.toVec(v))) ++ edges)
      .map(g => (g.lonDeg, g.latDeg))
    seeded ++ poles ++ onIco
  }

  private val schema = StructType(Seq(StructField("lon", DoubleType),
    StructField("lat", DoubleType), StructField("res", IntegerType)))

  /** `local`: a LocalRelation, which the optimizer folds (interpreted
    * eval); otherwise an RDD scan, which runs whole-stage codegen
    */
  private def pointsDf(rows: Seq[Row], local: Boolean): DataFrame =
    if (local) spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  test("cellForPoint Column == the kernel's scalar cellForPoint on every kernel") {
    val rows = for ((lon, lat) <- points; r <- resolutions)
      yield Row(lon, lat, r)
    val nulls = Seq(Row(null, 10.0, 5), Row(10.0, null, 5), Row(10.0, 10.0, null))
    for ((label, k) <- kernels; local <- Seq(false, true)) {
      val out = pointsDf(rows ++ nulls, local)
        .select(col("lon"), col("lat"), col("res"),
          DggsFunctions.cellForPoint(col("lon"), col("lat"), col("res"), k))
        .collect()
      assert(out.length == rows.size + nulls.size)
      for (row <- out) {
        if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2))
          assert(row.isNullAt(3), s"$label: a null input gives a null cell")
        else {
          val (lon, lat, r) = (row.getDouble(0), row.getDouble(1), row.getInt(2))
          assert(row.getLong(3) == k.cellForPoint(GeoRad.fromDeg(lat, lon), r),
            s"$label (local=$local) at ($lon, $lat) res $r")
        }
      }
    }
  }

  private def scalaUdfNames(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF => u.udfName.getOrElse("")
    }))

  test("cellForPoint plans with no ScalaUDF: a direct kernel call in the generated code") {
    val rows = points.map { case (lon, lat) => Row(lon, lat, 9) }
    for ((label, k) <- kernels) {
      val df = pointsDf(rows, local = false)
        .select(DggsFunctions.cellForPoint(col("lon"), col("lat"), lit(9), k).as("c"))
        .agg(max("c"))
      assert(df.collect().head.getLong(0) != 0L)
      assert(scalaUdfNames(df).isEmpty, s"$label: ${df.queryExecution.optimizedPlan}")
      val code = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
      assert(code.contains(".cellForPoint("), s"$label: no direct call in the generated code")
    }
  }
}
