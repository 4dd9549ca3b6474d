package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dggs.Z7
import graft.spark.{DggsFunctions => F}

/** Cell-prefix-clustered storage (north_rule "adaptive partitioning on
  * cell-index prefixes"): rows are range-partitioned AND sorted by the
  * Z7 int64 — because descendants of any prefix occupy ONE contiguous
  * int64 range (Z7.rangeMin/rangeMax), a region query becomes a plain
  * BETWEEN predicate that Parquet row-group min/max statistics and file
  * pruning satisfy without reading unrelated data. Z7 order is also a
  * space-filling order (hierarchical prefixes = spatial locality), so
  * files are compact geographic regions.
  */
object CorpusStore {

  /** write `df` clustered by its Z7 cell column. `numFiles` controls the
    * range partitioning (on a real lake this is the Iceberg sort-order /
    * write distribution).
    */
  def writeClustered(df: DataFrame, cellCol: String, outDir: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(cellCol))
      .sortWithinPartitions(cellCol)
      .write.mode("overwrite").parquet(outDir)

  /** read back all rows whose cell is a descendant of `parent` (any
    * resolution): one contiguous range predicate — pushed to Parquet.
    */
  def readCellRange(spark: SparkSession, dir: String, cellCol: String,
                    parent: Long): DataFrame =
    Tables.read(spark, dir)
      .where(col(cellCol) >= Z7.rangeMin(parent) && col(cellCol) <= Z7.rangeMax(parent))

  /** same by Z7 string prefix */
  def readCellPrefix(spark: SparkSession, dir: String, cellCol: String,
                     prefix: String): DataFrame =
    readCellRange(spark, dir, cellCol, Z7.fromCellString(prefix))

  /** T4/D4 variants: triangle and diamond ids carry the resolution in
    * their high bits, so the descendant range is per-target-resolution
    * (the stored column's resolution). Same contiguous-BETWEEN pruning.
    */
  def readT4Range(spark: SparkSession, dir: String, cellCol: String,
                  parent: Long, storedRes: Int): DataFrame = {
    val (lo, hi) = graft.dggs.T4.rangeAt(parent, storedRes)
    Tables.read(spark, dir).where(col(cellCol) >= lo && col(cellCol) <= hi)
  }

  def readD4Range(spark: SparkSession, dir: String, cellCol: String,
                  parent: Long, storedRes: Int): DataFrame = {
    val (lo, hi) = graft.dggs.D4.rangeAt(parent, storedRes)
    Tables.read(spark, dir).where(col(cellCol) >= lo && col(cellCol) <= hi)
  }
}
