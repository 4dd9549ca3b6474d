package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's quiet-band file is keyed by scale factor: each sf has its
  * own floors, and a refresh at one sf leaves the others as they were.
  */
class BenchBandSpec extends AnyFunSuite {
  private val committed = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("BENCH/quiet_band.json")), "UTF-8")

  test("quiet band: committed file is keyed by sf and renders back byte-identical") {
    val bands = Bench.parseBands(committed)
    assert(bands.keySet == Set("sf0.1"))
    assert(bands("sf0.1").contains("q1_agg"))
    assert(Bench.renderBands(bands) == committed)
  }

  test("quiet band: adding one sf's entry leaves the other sf unchanged") {
    val bands = Bench.parseBands(committed)
    val updated = Bench.parseBands(Bench.renderBands(
      bands + ("sf0.01" -> Map("q1_agg" -> 0.05, "dggs_pyramid" -> 0.12345))))
    assert(updated("sf0.1") == bands("sf0.1"))
    assert(updated("sf0.01") == Map("q1_agg" -> 0.05, "dggs_pyramid" -> 0.1235))
    assert(Bench.parseBands("""{"q1_agg": 0.2}""").isEmpty, "a flat file has no sf entry")
  }
}
