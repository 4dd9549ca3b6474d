package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.TestBusHook
import graft.dggs.Z7
import graft.dggs.Sphere.GeoRad
import graft.obs.QueryMetrics
import graft.ops.{CorpusOps, JtsCache}
import graft.spark.Grids

/** `Bench.flagship` fuses the assignment, the res-3 rollup and the
  * point-in-polygon join into one pass; its row count must still equal
  * the unfused answer, computed here on the driver: distinct res-3
  * ancestors plus a brute-force containment count over every polygon.
  * The pass is one Spark job: the rollup finishes inside the map stage.
  */
class BenchFlagshipSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("flagship rows == distinct res-3 cells + brute-force PIP count") {
    // a seeded doc-id window of the synthetic corpus, as the benchmark
    // draws one per seed
    val first = 17L * 10000000L
    val docs = spark.range(first, first + 6000, 1, 4).select(col("id").as("doc_id"))
    val geo = CorpusOps.geoSpans(CorpusOps.interleavedDocs(docs))
      .select("doc_id", "offset", "lon", "lat").cache()
    try {
      val pts = geo.select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      val cells3 = pts.map { case (lon, lat) =>
        Z7.ancestorAt(Grids.default.cellForPoint(GeoRad.fromDeg(lat, lon), 9), 3)
      }.distinct.length.toLong
      val hits = pts.map { case (lon, lat) =>
        Bench.FlagshipPolys.count { case (_, wkt) => JtsCache.contains(wkt, lon, lat) }.toLong
      }.sum
      assert(pts.length > 5000 && hits > 0 && cells3 > 0, s"${pts.length} $hits $cells3")
      val (rows, rows2) = Bench.flagship(spark, geo, 9)
      assert(rows == cells3 + hits, s"flagship $rows vs $cells3 cells + $hits hits")
      assert(rows2 == rows)
    } finally geo.unpersist()
  }

  test("the rollup partials count groups as groupBy does, a null key included") {
    def rows(kv: (java.lang.Long, java.lang.Long)*) =
      kv.iterator.map { case (k, h) => new GenericInternalRow(Array[Any](k, h)): InternalRow }
    val a = Bench.Rollup3.fold(rows((5L, 1L), (5L, null), (8191L, 2L), (null, 3L)))
    val b = Bench.Rollup3.fold(rows((5L, 0L), (0L, null), (null, null)))
    val empty = Bench.Rollup3.fold(Iterator.empty)
    // keys {0, 5, 8191} and the null key; hits 1 + 2 + 3 (nulls skipped)
    assert(Bench.Rollup3.merge(Array(a, b, empty)).rows == 4 + 6)
    assert(Bench.Rollup3.merge(Array(b)).rows == 3)
    assert(Bench.Rollup3.merge(Array(empty)).rows == 0)
  }

  test("one flagship call starts exactly one Spark job") {
    val geo = Bench.flagshipInput(spark, 2000)
    val sc = spark.sparkContext
    val m = new QueryMetrics
    try {
      Bench.flagship(spark, geo, 9) // plans and caches outside the window
      TestBusHook.waitUntilEmpty(sc)
      sc.addSparkListener(m)
      try {
        sc.setJobGroup("flagship-once", "flagship-once")
        try Bench.flagship(spark, geo, 9) finally sc.clearJobGroup()
        TestBusHook.waitUntilEmpty(sc)
        assert(m.jobsInGroup("flagship-once") == 1, m.jobsInGroup("flagship-once"))
      } finally sc.removeSparkListener(m)
    } finally geo.unpersist()
  }
}
