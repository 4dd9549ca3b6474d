package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.spark.{DggsFunctions => F}

/** Structured Streaming surface: the cell math is a narrow stateless
  * map, so every batch operator lifts to streams unchanged; stateful
  * aggregation uses watermarked windows (the reference has no streaming
  * — SURVEY.md §1.1 — this is engine-added capability for continuous
  * ingestion of the 10^12-doc corpus).
  */
object StreamingOps {

  /** assign cells on a stream (works identically on readStream frames) */
  def assignCells(stream: DataFrame, lonCol: String, latCol: String, res: Int): DataFrame =
    stream.withColumn("cell_id", F.cellForPoint(col(lonCol), col(latCol), lit(res)))

  /** per-cell, per-time-window counts with a watermark: the streaming
    * form of BIN_POINT_VALS/occupancy (append-mode compatible).
    */
  def cellCountsWindowed(stream: DataFrame, tsCol: String, lonCol: String,
                         latCol: String, res: Int,
                         windowDur: String, watermarkDur: String): DataFrame =
    assignCells(stream, lonCol, latCol, res)
      .withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur), col("cell_id"))
      .agg(count(lit(1)).as("n"), avg(col(latCol)).as("lat_mean"))

  /** streaming parent rollup at a coarser resolution (one native
    * ancestor call on the assigned cell — no second projection).
    */
  def rollup(assigned: DataFrame, tsCol: String, toRes: Int,
             windowDur: String, watermarkDur: String): DataFrame =
    assigned
      .withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur),
        F.z7AncestorAt(col("cell_id"), lit(toRes)).as("cell_coarse"))
      .agg(count(lit(1)).as("n"))

  /** streaming ZONAL counts: a STATIC polygon-cover relation
    * (`SpatialOps.coverCellsDf` output, lake-resident — broadcast)
    * joined against the point stream by `SpatialOps.spatialJoin` (a
    * stateless stream-static join with the exact JTS refine), then
    * watermarked windowed per-zone counts. Streaming zonal statistics —
    * the per-region live dashboard shape; the batch twin is
    * `dggs_zonal_stats`.
    */
  def zonalCountsWindowed(stream: DataFrame, tsCol: String, lonCol: String,
                          latCol: String, covers: DataFrame, res: Int,
                          windowDur: String, watermarkDur: String): DataFrame =
    SpatialOps.spatialJoin(stream, lonCol, latCol, covers, res, Some(true))
      .withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur), col("poly_id"))
      .agg(count(lit(1)).as("n"))

  /** streaming per-cell, per-window DISTINCT-id estimates via the
    * native KMV sketch aggregate ([[graft.spark.SketchFunctions]]):
    * a TypedImperativeAggregate composes with watermarked streaming
    * aggregation like any built-in sketch — its serialized buffer is
    * the state-store value, so per-(window, cell) state stays ≤ k·8 B
    * no matter how many events the group sees across micro-batches
    * (an exact streaming count-distinct would grow state with every
    * distinct key). Exact below k distinct ids per group; merge across
    * micro-batches is the sketch's exact merge.
    */
  def cellDistinctWindowed(stream: DataFrame, tsCol: String, lonCol: String,
                           latCol: String, idCol: String, res: Int,
                           windowDur: String, watermarkDur: String,
                           k: Int = 64): DataFrame =
    assignCells(stream, lonCol, latCol, res)
      .withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur), col("cell_id"))
      .agg(graft.spark.SketchFunctions.kmvDistinct(col(idCol), k)
        .as("distinct_est"), count(lit(1)).as("n"))

  /** per-content-hash dedup state: the first doc that claimed the hash +
    * how many duplicates have been seen since
    */
  final case class SeenState(firstDocId: String, nDups: Long)
  final case class DedupVerdict(h: String, doc_id: String, keep: Boolean, dup_of: String)

  /** Streaming exact dedup with CUSTOM STATE (flatMapGroupsWithState —
    * the stateful primitive the batch `TextOps.dedupExact` cannot give a
    * stream): first document to arrive with a content hash is kept; every
    * later arrival (same batch or any later batch) is flagged with the
    * keeper's id. Within a batch, arrival order is made deterministic by
    * doc id (min wins), matching `dedupExact`'s `min(doc_id)` contract.
    * State is one (hash → first id, dup count) entry per distinct
    * content hash, partitioned by the hash — the same content-key
    * sharding as the batch pipeline, so hot shards don't form.
    */
  def dedupExactStream(stream: DataFrame, idCol: String, textCol: String)
  : Dataset[DedupVerdict] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(md5(col(textCol).cast("binary")).as("h"),
        col(idCol).cast("string").as("doc_id"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(String, String)], state: GroupState[SeenState]) =>
          val ids = rows.map(_._2).toVector.sorted
          val prior = state.getOption
          val first = prior.map(_.firstDocId).getOrElse(ids.head)
          val dupsBefore = prior.map(_.nDups).getOrElse(0L)
          state.update(SeenState(first,
            dupsBefore + (if (prior.isEmpty) ids.size - 1 else ids.size)))
          ids.iterator.map { id =>
            DedupVerdict(h, id, keep = prior.isEmpty && id == first,
              dup_of = if (id == first && prior.isEmpty) "" else first)
          }
      }
  }
}
