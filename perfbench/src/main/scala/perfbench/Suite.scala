package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `suite`: a fixed slice of `SparkEntry.queries` on the bundled sf0.01
  * tables, each forced with `count()`, in an order the seed permutes.
  * Short queries where planning, scheduling and driver work dominate;
  * the bypass workload for kernel changes. The slice spans the sql,
  * text, vector, media and dggs families and the Z7, 3H and 4T kernels;
  * the full registry takes minutes per pass on four cores and stays with
  * `graft.Bench`.
  */
object Suite {
  val Queries: Seq[String] = Seq(
    "q4_time_rollup", "dedup_exact", "emb_pq_codes", "media_features",
    "dggs_cell_assign", "dggs_3h_cell_assign", "dggs_4t_cell_assign", "dggs_3h_cell_geom")

  /** plain warm-up passes after the first: the JIT keeps speeding passes
    * up, by 20–30% over the first seven */
  val PlainWarmups = 4

  /** the module a query exercises, from its registry name */
  def group(q: String): String =
    if (q.startsWith("dggs_")) "dggs"
    else if (q.startsWith("emb_")) "vector"
    else if (q.startsWith("media_")) "media"
    else if (q.matches("q[0-9]+_.*")) "sql"
    else "text"

  /** row count and order-insensitive content hash (the exact sum of
    * every row's xxhash64 over its JSON rendering), in one action
    */
  def countAndHash(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).collect().head
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val sessionS = ctx.sinceStart
    // input preparation: open and scan every bundled table
    val tables = Seq("events", "documents", "embeddings")
    val prep = (0 until 3).map(_ => Stats.timed(
      tables.foreach(n => graft.ops.Tables.tbl(spark, dir, n).count()))._2)
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, List[Long]]
    def pass(rep: Int): Unit = order.foreach { q =>
      ctx.tracer.span(s"entry.q.$q", rep) {
        val (n, s) = Stats.timed(ctx.attempt(q)(SparkEntry.queries(q)(spark, dir).count()))
        n.foreach(c => counts(q) = c :: counts.getOrElse(q, Nil))
        if (n.nonEmpty) times += q -> s
      }
      spark.catalog.clearCache()
    }
    // warm-up passes (part of set-up): the first runs the timed action and
    // then the row count and content hash the checks compare with the
    // pins; the others are plain passes
    val (_, warmS) = Stats.timed(order.foreach { q =>
      ctx.attempt(s"pin $q") {
        val df = SparkEntry.queries(q)(spark, dir)
        df.count()
        val (rows, hash) = countAndHash(df)
        ctx.observed(s"pin.$q") = Map("rows" -> rows, "hash" -> hash)
      }
      spark.catalog.clearCache()
    })
    val (_, warm2S) = Stats.timed(ctx.tracer.off((0 until PlainWarmups).foreach(_ => pass(-1))))
    times.clear()
    ctx.recordSetup(sessionS, prep, warmS + warm2S)

    if (!ctx.trace) {
      val walls = ctx.repeat(5)(pass)
      ctx.recordTimings(walls, Queries.size, times.map(_._2).toSeq)
    } else {
      val tw = ctx.tracedReps(2, "suite.pass")(pass)
      val perQuery = Queries.map(q => q -> ctx.tracer.medianSeconds(s"entry.q.$q")).toMap
      for ((g, qs) <- perQuery.groupBy { case (q, _) => group(q) })
        ctx.layer(s"entry.group.${g}_s") = qs.values.sum
      for ((q, s) <- perQuery) ctx.layer(s"entry.q.${q}_s") = s
      // driver time between queries that no query span covers
      ctx.layer("trace.unattributed_s") = Stats.median(tw) - perQuery.values.sum
      Probes.run(ctx)
    }
    ctx.observed("query_counts") = counts.toMap
    ctx.observed("query_times_s") = times.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2) }
  }
}
