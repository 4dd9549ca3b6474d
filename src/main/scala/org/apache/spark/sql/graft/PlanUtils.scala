package org.apache.spark.sql.graft

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Logical-plan utilities needing the `private[sql]` surface (same
  * placement rationale as [[ExprBridge]]).
  */
object PlanUtils {

  /** Runs `df` as ONE action that folds each partition's rows with `fold`
    * inside the partition's own task and returns the per-partition
    * results to the driver: an aggregate whose partials are small finishes
    * in the map stage, with no exchange, no re-plan and no result stage.
    *
    * `fold` sees the plan's `InternalRow`s (whole-stage codegen output,
    * one reused row): it must read each value in place and keep no row.
    * The action runs as a SQL execution named "collect", as
    * `Dataset.collect` does, so `QueryExecutionListener`s and job groups
    * see exactly one action.
    */
  def foldPartitions[T: ClassTag](df: DataFrame)(
      fold: Iterator[InternalRow] => T): Array[T] = {
    val qe = df.asInstanceOf[Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.toRdd.mapPartitions(rows => Iterator.single(fold(rows))).collect()
    }
  }

  /** Wrap `df` as a LogicalRDD leaf — the lineage-truncation step of the
    * iterative CC algorithms (graft.ops.TextOps) — PRESERVING the
    * physical output partitioning and ordering (the mechanism of
    * `Dataset.checkpoint`, `LogicalRDD.fromDataset`).
    *
    * Two wins over the public-API form
    * (`createDataFrame(df.rdd, df.schema)`) it replaces:
    *  - partitioning survives, so a round's `groupBy`/`join` on the same
    *    key reuses the previous round's shuffle instead of re-exchanging
    *    every iteration (the public form loses outputPartitioning — every
    *    round re-shuffled data that was already correctly placed);
    *  - `queryExecution.toRdd` stays in InternalRow, where `df.rdd`
    *    deserializes to Row and `createDataFrame` re-encodes — a per-row,
    *    per-round conversion tax on the hot loop.
    *
    * AQE wrinkle (measured): with adaptive execution on — the default —
    * the executed plan is an `AdaptiveSparkPlanExec` whose
    * `outputPartitioning` reports Unknown, so `fromDataset` alone
    * captures nothing and every downstream round re-exchanges. The fix
    * unwraps the adaptive plan (`executedPlan`) and maps its real
    * partitioning/ordering onto the LogicalRDD's output attributes.
    * Callers need NOT materialize `df` first: `qe.toRdd` below executes
    * the adaptive root, which runs `getFinalPhysicalPlan()` —
    * materializing every query stage and SETTLING the plan — before this
    * method ever reads `executedPlan` (so AQE coalescing, whose
    * `CoalescedHashPartitioning` still satisfies the clustered
    * distributions the CC rounds need, is already decided). The
    * `isFinalPlan` check below turns any future reordering of that
    * access into a loud failure instead of a silently-wrong stamped
    * partitioning (dropped join matches).
    *
    * Unlike `localCheckpoint` the RDD lineage stays intact: blocks remain
    * recomputable on executor loss and per-round caches stay
    * unpersistable (the properties the CC loops rely on).
    */
  def truncatePreservingPartitioning(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    // ORDERING CONTRACT: `toRdd` MUST be accessed before `executedPlan`
    // is read below — executing the adaptive root finalizes the AQE plan
    // (getFinalPhysicalPlan), so the partitioning stamped on the
    // LogicalRDD is the one the RDD actually satisfies. The isFinalPlan
    // check enforces this at runtime.
    val rdd = qe.toRdd
    val base = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val out =
      if (!base.outputPartitioning.isInstanceOf[UnknownPartitioning]) base
      else {
        val phys = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec =>
            require(a.isFinalPlan,
              "truncatePreservingPartitioning read an adaptive plan before " +
                "it settled — toRdd must be accessed first (see ORDERING " +
                "CONTRACT above); stamping a non-final partitioning would " +
                "silently drop join matches downstream")
            a.executedPlan
          case p => p
        }
        val attrMap = AttributeMap(phys.output.zip(base.output))
        def remap[T <: Expression](e: T): T =
          e.transform { case a: Attribute => attrMap.getOrElse(a, a) }.asInstanceOf[T]
        // flatten a PartitioningCollection to its first leaf like
        // fromDataset does (firstLeafPartitioning): storing collections
        // verbatim would nest them across repeated truncate-join rounds,
        // growing canonicalization cost — the pathology Spark's own
        // guard exists to prevent
        def firstLeaf(p: Partitioning): Partitioning = p match {
          case c: PartitioningCollection => firstLeaf(c.partitionings.head)
          case other => other
        }
        val part: Partitioning = firstLeaf(phys.outputPartitioning) match {
          case u: UnknownPartitioning => u
          case e: Expression with Partitioning => remap(e)
          case other => other
        }
        val ord: Seq[SortOrder] = phys.outputOrdering.map(remap(_))
        if (part.isInstanceOf[UnknownPartitioning]) base
        else {
          // keep the rewritten statistics/constraints fromDataset would
          // have attached (dropping them left every truncated relation
          // at defaultSizeInBytes — un-broadcastable downstream, and a
          // silent plan divergence between the AQE and non-AQE branches)
          val (stats, constraints) =
            LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
          LogicalRDD(base.output, rdd, part, ord,
            isStreaming = false)(ds.sparkSession, stats, constraints)
        }
      }
    Dataset.ofRows(ds.sparkSession, out)
  }
}
