package perfbench

import org.apache.spark.sql.functions._
import graft.dggs._
import graft.dggs.Sphere.GeoRad
import graft.spark.{DggsFunctions => F}

/** Layer probes on seeded points: the six kernels alone on one thread
  * (`dggs.*`), and the Spark wrappers of the Z7 kernel on all cores
  * (`spark.*`). Each probe runs inside a span named after its metric.
  */
object Probes {
  val KernelPoints = 100000
  val InverseCells = 2000
  val SparkPoints = 500000L
  val Res = 9

  /** a kernel as the probes see it: forward, then center and boundary */
  final case class Kernel(name: String, fwd: GeoRad => Long, inv: Long => Int)

  def kernels: Seq[Kernel] = {
    val z7 = new IGeo7(); val h3 = new Isea3H(); val h4 = new Isea4H()
    val h43 = new Isea43H(3); val t4 = new Isea4T(); val d4 = new Isea4D()
    Seq(
      Kernel("igeo7", z7.cellForPoint(_, Res), z => { z7.cellCenter(z); z7.cellBoundary(z).length }),
      Kernel("isea3h", h3.cellForPoint(_, Res), z => { h3.cellCenter(z); h3.cellBoundary(z).length }),
      Kernel("isea4h", h4.cellForPoint(_, Res), z => { h4.cellCenter(z); h4.cellBoundary(z).length }),
      Kernel("isea43h", h43.cellForPoint(_, Res), z => { h43.cellCenter(z); h43.cellBoundary(z).length }),
      Kernel("isea4t", t4.cellForPoint(_, Res), z => { t4.cellCenter(z); t4.cellBoundary(z).size }),
      Kernel("isea4d", d4.cellForPoint(_, Res), z => { d4.cellCenter(z); d4.cellBoundary(z).size }))
  }

  /** seeded points uniform on the sphere */
  def points(seed: Long, n: Int): Array[GeoRad] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(GeoRad(math.asin(2 * rnd.nextDouble() - 1),
      math.Pi * (2 * rnd.nextDouble() - 1)))
  }

  /** consumes probe results so the JIT cannot drop the work */
  @volatile private var sink = 0L

  /** items per second of `f` over `n` items: one warm-up, median of 3 */
  private def rate(t: Tracer, span: String, n: Int)(f: => Long): Double = {
    sink ^= f
    val walls = (0 until 3).map { r =>
      val (x, s) = Stats.timed(t.span(span, r)(f))
      sink ^= x
      s
    }
    n / Stats.median(walls)
  }

  def run(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val pts = points(ctx.seed, KernelPoints)
    for (k <- kernels) {
      val fwd = rate(t, s"dggs.${k.name}.fwd", KernelPoints) {
        var acc = 0L; var i = 0
        while (i < pts.length) { acc ^= k.fwd(pts(i)); i += 1 }
        acc
      }
      ctx.layer(s"dggs.${k.name}.fwd_mpts_per_s") = fwd / 1e6
      val cells = pts.take(InverseCells).map(k.fwd)
      val inv = rate(t, s"dggs.${k.name}.inv", InverseCells) {
        var acc = 0L; var i = 0
        while (i < cells.length) { acc += k.inv(cells(i)); i += 1 }
        acc
      }
      ctx.layer(s"dggs.${k.name}.inv_kcells_per_s") = inv / 1e3
    }
    val z7 = new IGeo7()
    ctx.layer("dggs.snyder.fwd_mpts_per_s") = rate(t, "dggs.snyder.fwd", KernelPoints) {
      var acc = 0L; var i = 0
      while (i < pts.length) { acc ^= z7.snyder.forward(pts(i)).face; i += 1 }
      acc
    } / 1e6
    val fallbacks = t.span("dggs.igeo7.walk") {
      pts.count(p => z7.fastWalkProbe(z7.fixForPoint(p, Res)) == -1L)
    }
    ctx.layer("dggs.igeo7.walk_fallback_frac") = fallbacks.toDouble / pts.length

    sparkProbes(ctx)
  }

  /** Spark wrappers on `local[cores]`: assignment, ancestor and boundary
    * over cached seeded points, each forced with a cheap aggregate
    */
  private def sparkProbes(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val pts = ctx.spark.range(0, SparkPoints, 1, ctx.cores).select(
      (rand(ctx.seed) * 360.0 - 180.0).as("lon"),
      degrees(asin(rand(ctx.seed + 1) * 2.0 - 1.0)).as("lat")).cache()
    pts.count()
    def rows(span: String, n: Long)(action: => Any): Double = {
      action
      n / Stats.median((0 until 3).map(r => Stats.timed(t.span(span, r)(action))._2))
    }
    val assign = rows("spark.cell_for_point", SparkPoints)(
      pts.agg(max(F.cellForPoint(col("lon"), col("lat"), lit(Res)))).collect())
    ctx.layer("spark.cell_for_point.mrows_per_s") = assign / 1e6
    ctx.layer("spark.cell_for_point.wrapper_eff") =
      assign / (ctx.cores * ctx.layer("dggs.igeo7.fwd_mpts_per_s") * 1e6)
    val cells = pts.select(F.cellForPoint(col("lon"), col("lat"), lit(Res)).as("cell_id")).cache()
    val nCells = cells.count()
    ctx.layer("spark.z7_ancestor_at.mrows_per_s") = rows("spark.z7_ancestor_at", nCells)(
      cells.agg(max(F.z7AncestorAt(col("cell_id"), lit(3)))).collect()) / 1e6
    val few = cells.limit(Probes.InverseCells * 10).cache()
    val nFew = few.count()
    ctx.layer("spark.cell_boundary.krows_per_s") = rows("spark.cell_boundary", nFew)(
      few.agg(sum(size(F.cellBoundary(col("cell_id"))))).collect()) / 1e3
    few.unpersist(true); cells.unpersist(true); pts.unpersist(true)
  }
}
