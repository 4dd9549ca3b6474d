package graft.tools

import graft.dggs._
import graft.spark.Grids
import Sphere._

/** Pure-kernel microbenchmark (no Spark; layer 0 of the flagship):
  * phase breakdown of the point→cell hot path so optimization is
  * measured, not guessed. Phases: the Snyder forward, the quad chart,
  * the Z7 nearest-center fix, the Z7 digit walk on precomputed fixes,
  * the cut-edge retry timed on the points that take it, and
  * `cellForPoint` of all six kernels. Single-threaded.
  * Usage: runMain graft.tools.BenchKernel [nPoints] [res]
  */
object BenchKernel {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000000
    val res = if (args.length > 1) args(1).toInt else 9
    val g = new IGeo7()
    val pts = Array.tabulate(n) { i =>
      GeoRad.fromDeg(-90.0 + ((i * 6271L) % 180000L) / 1000.0,
        -180.0 + ((i * 9973L) % 360000L) / 1000.0)
    }
    def time(label: String, count: Int = n)(f: => Long): Unit = {
      f // warmup
      val t0 = System.nanoTime()
      val acc = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$label%-22s ${count / dt / 1e6}%8.3f M/s  (acc=$acc)")
    }
    time("snyder.forward") {
      var acc = 0L; var i = 0
      while (i < n) { val fp = g.snyder.forward(pts(i)); acc ^= fp.face; i += 1 }
      acc
    }
    time("sphereToQuad") {
      var acc = 0L; var i = 0
      while (i < n) { val (q, _, _) = g.quads.sphereToQuad(pts(i)); acc ^= q; i += 1 }
      acc
    }
    time("fixForPoint") {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= g.fixForPoint(pts(i), res).v.a; i += 1 }
      acc
    }
    val fixes = pts.map(g.fixForPoint(_, res))
    time("z7.fastWalk") {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= g.fastWalkProbe(fixes(i)); i += 1 }
      acc
    }
    // the cut-edge retry, on the fixes whose primitive walk rejects
    val cut = fixes.filter(g.fastWalkProbe(_) == -1L)
    println(f"[info] fastWalk fallback rate: ${100.0 * cut.length / n}%.2f%%")
    if (cut.nonEmpty) time("z7.cutEdgeWalk", cut.length) {
      var acc = 0L; var i = 0
      while (i < cut.length) { acc ^= g.cutEdgeWalk(cut(i)); i += 1 }
      acc
    }
    val kernels: Seq[(String, DggsKernel)] = Seq("z7" -> g, "3h" -> Grids.isea3h,
      "4h" -> Grids.isea4h, "43h" -> Grids.isea43h(3), "t4" -> Grids.isea4t, "d4" -> Grids.isea4d)
    for ((name, k) <- kernels) time(s"$name.cellForPoint") {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= k.cellForPoint(pts(i), res); i += 1 }
      acc
    }
  }
}
