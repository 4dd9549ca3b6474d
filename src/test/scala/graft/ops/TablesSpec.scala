package graft.ops

import java.nio.file.Files
import graft.obs.QueryMetrics
import org.apache.spark.graft.TestBusHook
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `Tables.tbl`'s schema memo: a memoized read gives what the plain
  * reader gives, a rewritten table is inferred again, and a read of an
  * unchanged table (or `CorpusStore` directory) starts no Spark job.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  private lazy val tmp = Files.createTempDirectory("graft_tables_spec")

  override def afterAll(): Unit = {
    graft.tools.Fs.deleteRecursively(tmp)
    spark.stop()
  }

  /** the tables bundled with the benchmark, relative to the repository root */
  private val bundled = "perfbench/data/sf0.01"

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** jobs started by `body`, counted under a job group of its own */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val m = new QueryMetrics
    TestBusHook.waitUntilEmpty(sc)
    sc.addSparkListener(m)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      TestBusHook.waitUntilEmpty(sc)
      m.jobsInGroup(group)
    } finally sc.removeSparkListener(m)
  }

  test("tbl gives the plain reader's schema and rows for every bundled table") {
    val names = new java.io.File(bundled).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names == Seq("documents", "embeddings", "events"))
    for (n <- names) {
      val plain = spark.read.parquet(s"$bundled/$n.parquet")
      // the first read infers, the second takes the memoized schema
      for (memo <- Seq(Tables.tbl(spark, bundled, n), Tables.tbl(spark, bundled, n))) {
        assert(memo.schema == plain.schema, n) // names, types, nullability, metadata
        assert(rows(memo) == rows(plain), n)
      }
    }
  }

  test("a rewritten table with another schema is inferred again") {
    import spark.implicits._
    val dir = tmp.toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.tbl(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((7L, 0.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.tbl(spark, dir, "t")
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.schema.fieldNames.toSeq == Seq("id", "x", "flag"))
    assert(again.collect().toSeq == Seq(Row(7L, 0.5, true)))
  }

  test("a second tbl of an unchanged table starts no Spark job") {
    import spark.implicits._
    val dir = tmp.toString
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/u.parquet")
    // the plain reader's schema inference is a job: the count can see it
    assert(jobsOf("plain")(spark.read.parquet(s"$dir/u.parquet")) >= 1)
    assert(jobsOf("first")(Tables.tbl(spark, dir, "u")) >= 1)
    assert(jobsOf("second")(Tables.tbl(spark, dir, "u")) == 0)
  }

  test("a second readCellRange of an unchanged store starts no Spark job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = s"$tmp/store"
    val cells = Seq("0123", "0124", "0561", "0655").map(graft.dggs.Z7.fromCellString)
    CorpusStore.writeClustered(cells.toDF("cell_id"), "cell_id", dir, 2)
    val parent = graft.dggs.Z7.fromCellString("012")
    assert(jobsOf("store first")(CorpusStore.readCellRange(spark, dir, "cell_id", parent)) >= 1)
    assert(jobsOf("store second")(CorpusStore.readCellRange(spark, dir, "cell_id", parent)) == 0)
    val got = CorpusStore.readCellRange(spark, dir, "cell_id", parent).as[Long].collect().sorted
    assert(got.toSeq == cells.take(2).sorted)
    assert(spark.read.parquet(dir).where(col("cell_id") === cells(2)).count() == 1)
  }

  test("a missing table still raises at the tbl call") {
    val e = intercept[AnalysisException](Tables.tbl(spark, tmp.toString, "absent"))
    assert(e.getMessage.contains("absent.parquet"), e.getMessage)
  }
}
