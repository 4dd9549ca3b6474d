package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.{DggsKernel, Z3, Z4, Z7, T4, D4}

/** The Column hierarchy reads (`ancestorAt`, `ancestorKey`, `parent`,
  * `resolution`) are native calls into the kernel's own scalar methods:
  * on every kernel they must agree bit for bit with those methods, raise
  * where the methods raise, and plan without any ScalaUDF.
  */
class AncestorExprSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** `local`: a LocalRelation, which the optimizer folds (interpreted
    * eval); otherwise an RDD scan, which runs whole-stage codegen
    */
  private def cellsDf(ids: Seq[java.lang.Long], local: Boolean = false): DataFrame = {
    val schema = StructType(Seq(StructField("cell_id", LongType)))
    val rows = ids.map(org.apache.spark.sql.Row(_))
    if (local) spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** the six kernels (ISEA43H at n4 = 3, IGEO7 also at a non-default
    * orientation) with 200 seeded cells each at res 0..8
    */
  private lazy val kernelCells: Seq[(String, DggsKernel, Seq[Long])] = {
    val rnd = new scala.util.Random(7)
    def hexCells(pack: (Int, Seq[Int]) => Long, radix: Int) = (0 until 200).map { _ =>
      val base = rnd.nextInt(12)
      val res = rnd.nextInt(9)
      pack(base, Seq.fill(res)(if (base == 0 || base == 11) 0 else rnd.nextInt(radix)))
    }
    val z3Cells = hexCells(Z3.pack, 3)
    val z4Cells = hexCells(Z4.pack, 4)
    val t4Cells = (0 until 200).map { _ =>
      T4.pack(rnd.nextInt(20), Seq.fill(rnd.nextInt(9))(rnd.nextInt(4)))
    }
    val d4Cells = (0 until 200).map { _ =>
      D4.pack(1 + rnd.nextInt(10), Seq.fill(rnd.nextInt(9))(rnd.nextInt(4)))
    }
    val z7Cells = (0 until 200).map { _ =>
      Z7.pack(rnd.nextInt(12), Seq.fill(rnd.nextInt(9))(rnd.nextInt(7)))
    }
    Seq(("z3", Grids.isea3h, z3Cells), ("z4", Grids.isea4h, z4Cells),
      ("z43", Grids.isea43h(3), z4Cells), ("t4", Grids.isea4t, t4Cells),
      ("d4", Grids.isea4d, d4Cells), ("z7", Grids.default, z7Cells),
      ("z7 tilted", Grids.get(10.0, 20.0, 5.0), z7Cells))
  }

  test("hex/quat2 ancestorAtExpr == codec ancestorAt over sampled cells") {
    // resolution, parent and the ancestors at 0..8 in one projection; the
    // raising calls are guarded by the cell's res, and a null cell is a
    // null in every column
    for ((label, k, cells) <- kernelCells; local <- Seq(false, true)) {
      val c = col("cell_id")
      val res = DggsFunctions.resolution(c, k)
      val cols = Seq(c, res, when(res > 0, DggsFunctions.parent(c, k))) ++
        (0 to 8).map(r => when(res >= r, DggsFunctions.ancestorAt(c, lit(r), k)))
      val rows = cellsDf(cells.map(Long.box) :+ null, local).select(cols: _*).collect()
      assert(rows.length == cells.size + 1)
      for (row <- rows) {
        if (row.isNullAt(0)) assert((1 until row.length).forall(row.isNullAt), label)
        else {
          val z = row.getLong(0)
          val r = k.resolution(z)
          assert(row.getInt(1) == r, f"$label resolution $z%016x")
          if (r > 0) assert(row.getLong(2) == k.parent(z), f"$label parent $z%016x")
          else assert(row.isNullAt(2))
          for (a <- 0 to 8) {
            if (a <= r) assert(row.getLong(3 + a) == k.ancestorAt(z, a),
              f"$label ancestorAt($a) $z%016x")
            else assert(row.isNullAt(3 + a))
          }
        }
      }
    }
  }

  test("ancestor rollup key plans with no ScalaUDF (codegen bit math)") {
    for ((label, k, cells) <- kernelCells) {
      val df = cellsDf(cells.filter(k.resolution(_) >= 3).map(Long.box))
        .groupBy(DggsFunctions.ancestorAt(col("cell_id"), lit(2), k).as("a"),
          DggsFunctions.parent(col("cell_id"), k).as("p"),
          DggsFunctions.resolution(col("cell_id"), k).as("r"))
        .agg(count(lit(1)))
      assert(df.collect().nonEmpty) // AQE settles the final plan on execution
      val plan = df.queryExecution.executedPlan
      assert(!plan.toString.contains("ScalaUDF"), s"$label: ${plan.toString.take(2000)}")
      // the generated Java calls the kernel's methods directly
      val code = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._2).mkString("\n")
      for (m <- Seq(".ancestorAt(", ".parent(", ".resolution("))
        assert(code.contains(m), s"$label: no direct $m call in the generated code")
    }
  }

  test("ancestorAt / parent Columns raise like the scalars on every kernel") {
    def rootMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $t"))
    def raises(df: DataFrame)(scalar: => Any): Unit = {
      val want = intercept[IllegalArgumentException](scalar).getMessage
      assert(rootMessage(intercept[Exception](df.collect())) == want)
    }
    for ((_, k, cells) <- kernelCells; local <- Seq(false, true)) {
      val z = cells.find(k.resolution(_) == 3).get
      val root = cells.find(k.resolution(_) == 0).get
      val one = cellsDf(Seq(Long.box(z)), local)
      for (r <- Seq(-1, 4))
        raises(one.select(DggsFunctions.ancestorAt(col("cell_id"), lit(r), k)))(
          k.ancestorAt(z, r))
      raises(cellsDf(Seq(Long.box(root)), local)
        .select(DggsFunctions.parent(col("cell_id"), k)))(k.parent(root))
    }
  }

  test("ancestorKey: Column == scalar, injective on res-r ancestors, groups as ancestorAt") {
    for ((label, k, cells) <- kernelCells; local <- Seq(false, true)) {
      val c = col("cell_id")
      val res = DggsFunctions.resolution(c, k)
      val cols = c +: (0 to 3).flatMap(r => Seq(
        when(res >= r, DggsFunctions.ancestorKey(c, lit(r), k)),
        when(res >= r, DggsFunctions.ancestorAt(c, lit(r), k))))
      val rows = cellsDf(cells.map(Long.box), local).select(cols: _*).collect()
      assert(rows.length == cells.size)
      for (row <- rows; r <- 0 to 3) {
        val z = row.getLong(0)
        if (r <= k.resolution(z)) {
          assert(row.getLong(1 + 2 * r) == k.ancestorKey(z, r), f"$label ancestorKey($r) $z%016x")
          assert(row.getLong(2 + 2 * r) == k.ancestorAt(z, r), f"$label ancestorAt($r) $z%016x")
        } else assert(row.isNullAt(1 + 2 * r) && row.isNullAt(2 + 2 * r))
      }
      for (r <- 0 to 3) {
        // one key per ancestor and one ancestor per key
        val pairs = rows.filterNot(_.isNullAt(1 + 2 * r))
          .map(row => (row.getLong(1 + 2 * r), row.getLong(2 + 2 * r))).distinct
        assert(pairs.map(_._1).distinct.length == pairs.length, s"$label res $r: key not injective")
        assert(pairs.map(_._2).distinct.length == pairs.length, s"$label res $r")
      }
      // the aggregate: the same groups, with the same counts, either way
      val deep = cellsDf(cells.filter(k.resolution(_) >= 3).map(Long.box), local)
      val byKey = deep.groupBy(DggsFunctions.ancestorKey(c, lit(3), k).as("g"))
        .agg(count(lit(1)).as("n"), min(DggsFunctions.ancestorAt(c, lit(3), k)).as("lo"),
          max(DggsFunctions.ancestorAt(c, lit(3), k)).as("hi"))
      val keyed = byKey.collect()
      assert(keyed.forall(g => g.getLong(2) == g.getLong(3)),
        s"$label: a key group spans ancestors")
      val byAnc = deep.groupBy(DggsFunctions.ancestorAt(c, lit(3), k).as("a")).count().collect()
        .map(g => (g.getLong(0), g.getLong(1))).sorted.toSeq
      assert(keyed.map(g => (g.getLong(2), g.getLong(1))).sorted.toSeq == byAnc, label)
      if (!local) {
        val plan = byKey.queryExecution.executedPlan
        assert(!plan.toString.contains("ScalaUDF"), s"$label: ${plan.toString.take(2000)}")
        val code = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
          .map(_._2).mkString("\n")
        assert(code.contains(".ancestorKey("), s"$label: no direct .ancestorKey( call")
      }
    }
  }

  test("ancestorKey Column raises like ancestorAt on every kernel") {
    def rootMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $t"))
    for ((label, k, cells) <- kernelCells; local <- Seq(false, true)) {
      val z = cells.find(k.resolution(_) == 3).get
      val one = cellsDf(Seq(Long.box(z)), local)
      for (r <- Seq(-1, 4)) {
        val want = intercept[IllegalArgumentException](k.ancestorAt(z, r)).getMessage
        assert(intercept[IllegalArgumentException](k.ancestorKey(z, r)).getMessage == want, label)
        val e = intercept[Exception](
          one.select(DggsFunctions.ancestorKey(col("cell_id"), lit(r), k)).collect())
        assert(rootMessage(e) == want, label)
      }
    }
  }

  test("z7SpreadKey: Column form == Z7.spreadKey; round-trips at res 0..15") {
    // the 12 base cells and their all-zero-digit pentagon descendants at
    // every res, plus random child walks (valid ids: a walk never takes
    // a pentagon's missing digit-2 child)
    val rnd = new scala.util.Random(11)
    val pentagons = for (b <- 0 until 12; r <- 0 to 15) yield Z7.pack(b, Seq.fill(r)(0))
    val walks = for (r <- 0 to 15; _ <- 0 until 40) yield {
      var z = Z7.pack(rnd.nextInt(12), Seq.empty)
      for (_ <- 0 until r) { val cs = Z7.children(z); z = cs(rnd.nextInt(cs.size)) }
      z
    }
    val cells = (pentagons ++ walks).distinct
    assert((0 to 15).forall(r => cells.exists(Z7.resolution(_) == r)))
    assert(cells.forall(z => Z7.spreadKey(Z7.spreadKey(z)) == z), "Scala round-trip")
    assert(cells.map(Z7.spreadKey).distinct.size == cells.size, "injective on the sample")
    val rows = cellsDf(cells.map(Long.box), local = true)
      .select(col("cell_id"), DggsFunctions.z7SpreadKey(col("cell_id")).as("k"),
        DggsFunctions.z7SpreadKey(DggsFunctions.z7SpreadKey(col("cell_id"))).as("back"))
      .collect()
    assert(rows.length == cells.size)
    for (r <- rows) {
      val z = r.getLong(0)
      assert(r.getLong(1) == Z7.spreadKey(z), f"Column vs Scala form at $z%016x")
      assert(r.getLong(2) == z, f"Column round-trip at $z%016x")
    }
  }
}
