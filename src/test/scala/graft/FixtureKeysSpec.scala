package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the FixtureKeys parse contract against the generated
  * OracleFixtures CTE (round-6 verdict #1): the key set is complete,
  * duplicate-free, and the restriction keeps exactly the rows whose
  * integer milli-degree key is frozen, as one filter (no join, no
  * broadcast) over collision-free packed keys.
  */
class FixtureKeysSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("geoKeys parse the full CTE: one key per VALUES row, no dups") {
    val keys = FixtureKeys.geoKeys
    // the header contributes two '(' — `cells(…)` and `AS (VALUES` —
    // every other '(' opens exactly one VALUES row
    val rows = OracleFixtures.geoCellCte.count(_ == '(') - 2
    assert(keys.length == rows, s"parsed ${keys.length} keys, CTE has $rows rows")
    assert(keys.distinct.length == keys.length, "fixture keys must be unique")
    // the first CTE row, literally
    assert(OracleFixtures.geoCellCte.contains(
      s"(${keys.head._1}, ${keys.head._2},"))
  }

  test("restrictGeo keeps exactly the fixture-keyed rows") {
    import spark.implicits._
    val (lonK, latK) = FixtureKeys.geoKeys.head
    val geo = Seq(
      ("doc-a", 0, lonK, latK),   // frozen key → kept
      ("doc-b", 1, lonK, latK),   // same key, other doc → kept too
      ("doc-c", 0, lonK + 1, latK) // off-by-one-mdeg → dropped
    ).toDF("doc_id", "offset", "lon_mdeg", "lat_mdeg")
    val kept = FixtureKeys.restrictGeo(geo).select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("doc-a", "doc-b"))
  }

  test("restrictGeo drops rows with a null coordinate") {
    import spark.implicits._
    val (lonK, latK) = FixtureKeys.geoKeys.head
    val geo = Seq[(String, Option[Long], Option[Long])](
      ("doc-a", Some(lonK), Some(latK)),
      ("doc-b", None, Some(latK)),
      ("doc-c", Some(lonK), None),
      ("doc-d", None, None)
    ).toDF("doc_id", "lon_mdeg", "lat_mdeg")
    assert(FixtureKeys.restrictGeo(geo).select("doc_id").as[String].collect().toSeq == Seq("doc-a"))
  }

  test("restrictGeo is one InSet filter with the left-semi join's rows") {
    import spark.implicits._
    // the bundled sf0.01 corpus: the fixture was frozen from its points
    val docs = spark.read.parquet("perfbench/data/sf0.01/documents.parquet")
    val geo = graft.ops.CorpusOps.geoSpans(graft.ops.CorpusOps.interleavedDocs(docs))
    val df = FixtureKeys.restrictGeo(geo)
    val keys = FixtureKeys.geoKeys.toDF("lon_mdeg", "lat_mdeg")
    val semi = geo.join(keys, Seq("lon_mdeg", "lat_mdeg"), "left_semi")
      .select(geo.columns.map(geo(_)): _*)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) == rows(semi) && rows(df) == rows(geo))
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collectFirst { case j: Join => j }.isEmpty, opt.toString)
    assert(opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[InSet]))), opt.toString)
    val exec = df.queryExecution.executedPlan
    assert(collect(exec) { case b: BroadcastExchangeExec => b }.isEmpty, exec.toString)
  }

  test("packed keys never collide, also for keys that share one coordinate") {
    val keys = FixtureKeys.geoKeys
    assert(keys.map { case (lon, lat) => FixtureKeys.pack(lon, lat) }.distinct.length == keys.length)
    for ((lon, lat) <- keys.take(50); d <- Seq(1L, -1L, 1000L, 179999L)) {
      // same lon, other lat; same lat, other lon (lat kept within ±90,000)
      val lat2 = if (math.abs(lat + d) <= 90000) lat + d else lat - d
      assert(FixtureKeys.pack(lon, lat) != FixtureKeys.pack(lon, lat2))
      assert(FixtureKeys.pack(lon, lat) != FixtureKeys.pack(lon + d, lat))
    }
    // the extreme lats of neighbouring lons stay apart
    assert(FixtureKeys.pack(0, 90000) != FixtureKeys.pack(1, -90000))
    assert(FixtureKeys.pack(-1, 90000) != FixtureKeys.pack(0, -90000))
  }

  test("a row whose pack equals a key's but whose lat is out of range is dropped") {
    import spark.implicits._
    val (lonK, latK) = FixtureKeys.geoKeys.head
    // (lonK − 1)·10⁶ + (latK + 10⁶) == pack(lonK, latK)
    assert(FixtureKeys.pack(lonK - 1, latK + 1000000L) == FixtureKeys.pack(lonK, latK))
    val geo = Seq(("doc-a", lonK, latK), ("doc-z", lonK - 1, latK + 1000000L))
      .toDF("doc_id", "lon_mdeg", "lat_mdeg")
    assert(FixtureKeys.restrictGeo(geo).select("doc_id").as[String].collect().toSeq == Seq("doc-a"))
  }
}
