package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The frozen kernel fixture's KEY SET, derived from the fixture itself
  * (round-6 verdict #1 — scale-invariant fixture oracles).
  *
  * [[OracleFixtures.geoCellCte]] freezes the engine's point→cell mapping
  * for the sf0.01 corpus's distinct geo points. Queries whose DuckDB
  * oracle inner-joins that CTE are implicitly restricted to its key set
  * on the oracle side; at any other sf the live corpus has points the
  * fixture doesn't carry, so the two sides would diverge BY DESIGN.
  * Restricting the Spark side to the SAME key set (a filter on the exact
  * milli-degree integers) makes the comparison exercise the
  * identical frozen mapping at ANY scale factor — the 10× sweep reads
  * hash-green instead of "mismatch by design".
  *
  * The keys are PARSED from the generated CTE string rather than frozen
  * a second time: one artifact, zero drift — a FreezeFixtures
  * regeneration updates both sides by construction (format pinned by
  * FixtureKeysSpec).
  */
object FixtureKeys {

  /** (lon_mdeg, lat_mdeg) of every fixture row, in CTE order. */
  lazy val geoKeys: Seq[(Long, Long)] = {
    val row = raw"\((-?\d+), (-?\d+),".r
    val ks = row.findAllMatchIn(OracleFixtures.geoCellCte)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toVector
    require(ks.nonEmpty,
      "FixtureKeys: no (lon_mdeg, lat_mdeg) keys parsed from geoCellCte — " +
        "did the FreezeFixtures VALUES format change?")
    ks
  }

  private val PackScale = 1000000L

  /** One key as one long: `lon·10⁶ + lat`. Collision-free while
    * |lat| ≤ 90,000: two keys with equal packs differ in lon by a
    * multiple of 10⁶ that equals their lat difference, at most 180,000,
    * so both coordinates agree.
    */
  private[graft] def pack(lonMdeg: Long, latMdeg: Long): Long = lonMdeg * PackScale + latMdeg

  private lazy val packedKeys: Seq[Long] = geoKeys.map { case (lon, lat) => pack(lon, lat) }
  private lazy val lonRange = (geoKeys.map(_._1).min, geoKeys.map(_._1).max)
  private lazy val latRange = {
    val r = (geoKeys.map(_._2).min, geoKeys.map(_._2).max)
    require(r._1 >= -90000 && r._2 <= 90000, s"FixtureKeys: lat_mdeg outside ±90,000: $r")
    r
  }

  /** Restrict a [[graft.ops.CorpusOps.geoSpans]] relation to the frozen
    * key set: one `isInCollection` over the packed keys, which Catalyst
    * turns into an `InSet` hash probe — no join, no broadcast, no job.
    * The range test on both coordinates comes first (`And` evaluates
    * left to right): it keeps the packing collision-free and overflow-
    * free for any live row, so the filter keeps exactly the rows a
    * left-semi join on (lon_mdeg, lat_mdeg) keeps; a null coordinate
    * drops the row, as the join did. At the sf0.01 gate scale this is a
    * no-op by construction (the fixture was frozen from exactly that
    * corpus's distinct points).
    */
  def restrictGeo(geo: DataFrame): DataFrame = {
    val (lon, lat) = (col("lon_mdeg"), col("lat_mdeg"))
    geo.where(lon.between(lonRange._1, lonRange._2) && lat.between(latRange._1, latRange._2) &&
      (lon * PackScale + lat).isInCollection(packedKeys))
  }
}
