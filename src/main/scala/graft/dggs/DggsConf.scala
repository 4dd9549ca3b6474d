package graft.dggs

/** Grid configuration — the reference's `Dggs` dataclass + `dgselect`
  * preset parsing (dggrid_runner.py:378-533) as a plain case class; the
  * metafile string protocol disappears (constructor args are the plan).
  */
final case class DggsConf(
    dggsType: String,
    projection: String,
    aperture: Int,
    topology: String,
    resolution: Int,
    vert0LatDeg: Double = 58.28252559,
    vert0LonDeg: Double = 11.25,
    azimuthDeg: Double = 0.0) {
  require(resolution >= 0 && resolution <= 20, s"resolution $resolution out of range [0,20]")
  require(vert0LonDeg >= -180 && vert0LonDeg <= 180, s"vert0 lon $vert0LonDeg out of [-180,180]")
  require(vert0LatDeg >= -90 && vert0LatDeg <= 90, s"vert0 lat $vert0LatDeg out of [-90,90]")
  require(azimuthDeg >= 0 && azimuthDeg <= 360, s"azimuth $azimuthDeg out of [0,360]")

  /** true when a geometry kernel supports this preset: aperture-7
    * hexagonal ISEA (IGEO7/ISEA7H, the Z7 kernel), aperture-3/4
    * hexagonal ISEA (ISEA3H/ISEA4H, the Z3/Z4 kernels), or aperture-4
    * triangle/diamond ISEA (ISEA4T/ISEA4D). Stats are supported for all
    * hex/triangle/diamond apertures (closed form).
    */
  def kernelSupported: Boolean =
    (projection == "ISEA" && topology == "HEXAGON" &&
      (aperture == 7 || aperture == 3 || aperture == 4 || aperture == 43)) ||
      (projection == "ISEA" && topology == "TRIANGLE" && aperture == 4) ||
      (projection == "ISEA" && topology == "DIAMOND" && aperture == 4)

  /** this preset's kernel at this orientation, from the per-JVM cache */
  private def kernel(kind: String, n4: Int = 0): DggsKernel =
    DggsKernel(KernelSpec(kind, n4, vert0LatDeg, vert0LonDeg, azimuthDeg))

  def grid: IGeo7 = {
    require(projection == "ISEA" && topology == "HEXAGON" && aperture == 7,
      s"aperture-7 hex kernel not applicable to $dggsType (ISEA3H has its own " +
        s"kernel via `hexGrid3`, ISEA4T via `triangleGrid`; stats tables are " +
        "available for all presets)")
    kernel("IGEO7").asInstanceOf[IGeo7]
  }

  /** the aperture-3 hexagon kernel (ISEA3H) */
  def hexGrid3: Isea3H = {
    require(projection == "ISEA" && topology == "HEXAGON" && aperture == 3,
      s"aperture-3 hex kernel not implemented for $dggsType (ISEA3H only)")
    kernel("ISEA3H").asInstanceOf[Isea3H]
  }

  /** the aperture-4 hexagon kernel (ISEA4H) */
  def hexGrid4: Isea4H = {
    require(projection == "ISEA" && topology == "HEXAGON" && aperture == 4,
      s"aperture-4 hex kernel not implemented for $dggsType (ISEA4H only)")
    kernel("ISEA4H").asInstanceOf[Isea4H]
  }

  /** the MIXED-aperture hex kernel (ISEA43H): `n4` leading aperture-4
    * resolutions, then aperture-3 — the reference's
    * `mixed_aperture_level` / dggs_num_aperture_4_res parameter
    * (dggrid_runner.py:447-449, 533, 555). PLANETRISK parses to the
    * same (ISEA, 43, HEXAGON) triple here, but DGGRID's preset aperture
    * SEQUENCE is not published in the reference tree, so PLANETRISK
    * callers must supply their own n4 explicitly — the engine does not
    * guess the preset's sequence.
    */
  def hexGridMixed(n4: Int): Isea43H = {
    require(projection == "ISEA" && topology == "HEXAGON" && aperture == 43,
      s"mixed-aperture hex kernel not applicable to $dggsType (ISEA43H only)")
    kernel("ISEA43H", n4).asInstanceOf[Isea43H]
  }

  /** the aperture-4 triangle kernel (ISEA4T) */
  def triangleGrid: Isea4T = {
    require(projection == "ISEA" && topology == "TRIANGLE" && aperture == 4,
      s"triangle kernel not implemented for $dggsType (ISEA4T only)")
    kernel("ISEA4T").asInstanceOf[Isea4T]
  }

  /** the aperture-4 diamond kernel (ISEA4D) */
  def diamondGrid: Isea4D = {
    require(projection == "ISEA" && topology == "DIAMOND" && aperture == 4,
      s"diamond kernel not implemented for $dggsType (ISEA4D only)")
    kernel("ISEA4D").asInstanceOf[Isea4D]
  }
}

object DggsConf {

  /** resolution selection by target cell area / intercell distance
    * (reference `dggs_res_specify_type ∈ {CELL_AREA,
    * INTERCELL_DISTANCE}`, dggrid_runner.py:2186-2228 — whose
    * closest-res helpers raise `not yet implemented`,
    * dggrid_runner.py:613-620; the closed-form stats make them exact
    * here). `roundDown=true` (the reference's dggs_res_specify_rnd_down
    * default) picks the smallest resolution whose cells are ≤ the
    * target; otherwise the closest by ratio.
    */
  /** mean cell area at res r for the given aperture/topology (the same
    * count rules as GridOps.gridStatsTable: hex 10·a^r, triangle 20·4^r,
    * diamond 10·4^r)
    */
  private def meanAreaKm2(r: Int, aperture: Int, topology: String): Double = {
    val R = Sphere.EarthRadiusKm
    val earth = 4.0 * math.Pi * R * R
    (aperture, topology) match {
      case (a, "HEXAGON") => earth / (10.0 * math.pow(a, r))
      case (4, "TRIANGLE") => earth / (20.0 * math.pow(4, r))
      case (4, "DIAMOND") => earth / (10.0 * math.pow(4, r))
      case _ => throw new IllegalArgumentException(s"unsupported $aperture/$topology")
    }
  }

  def resolutionForCellArea(targetKm2: Double, aperture: Int = 7,
                            topology: String = "HEXAGON",
                            roundDown: Boolean = true, maxRes: Int = 20): Int = {
    require(targetKm2 > 0, s"target area $targetKm2")
    def area(r: Int): Double = meanAreaKm2(r, aperture, topology)
    if (roundDown) (0 to maxRes).find(area(_) <= targetKm2).getOrElse(maxRes)
    else (0 to maxRes).minBy(r => math.abs(math.log(area(r) / targetKm2)))
  }

  def resolutionForIntercellDistance(targetKm: Double, aperture: Int = 7,
                                     topology: String = "HEXAGON",
                                     roundDown: Boolean = true, maxRes: Int = 20): Int = {
    require(targetKm > 0, s"target distance $targetKm")
    val R = Sphere.EarthRadiusKm
    def cls(r: Int): Double = {
      val a = meanAreaKm2(r, aperture, topology)
      2.0 * R * math.acos(1.0 - a / (2.0 * math.Pi * R * R))
    }
    if (roundDown) (0 to maxRes).find(cls(_) <= targetKm).getOrElse(maxRes)
    else (0 to maxRes).minBy(r => math.abs(math.log(cls(r) / targetKm)))
  }

  /** the 15 reference presets (dggrid_runner.py:66-85); CUSTOM raises
    * like the reference's `not yet implemented` (dggrid_runner.py:489).
    */
  val Presets: Set[String] = Set(
    "CUSTOM", "SUPERFUND", "PLANETRISK",
    "ISEA3H", "ISEA4H", "ISEA4T", "ISEA4D", "ISEA43H", "ISEA7H", "IGEO7",
    "FULLER3H", "FULLER4H", "FULLER4T", "FULLER4D", "FULLER43H")

  /** dgselect: parse projection/aperture/topology from the preset name
    * (topology from the trailing letter, aperture from the numeric
    * middle — dggrid_runner.py:414-427).
    */
  def apply(dggsType: String, resolution: Int,
            vert0LatDeg: Double, vert0LonDeg: Double, azimuthDeg: Double): DggsConf = {
    val t = dggsType.toUpperCase
    require(Presets.contains(t), s"unknown dggs_type $dggsType (known: ${Presets.toSeq.sorted.mkString(", ")})")
    require(t != "CUSTOM", "CUSTOM dggs_type not yet implemented") // parity with reference
    val (proj, aperture, topo) = t match {
      case "IGEO7" => ("ISEA", 7, "HEXAGON")
      case "SUPERFUND" => ("FULLER", 43, "HEXAGON")
      case "PLANETRISK" => ("ISEA", 43, "HEXAGON")
      case s =>
        val proj = if (s.startsWith("ISEA")) "ISEA" else "FULLER"
        val rest = s.stripPrefix("ISEA").stripPrefix("FULLER")
        val topo = rest.last match {
          case 'H' => "HEXAGON"; case 'T' => "TRIANGLE"; case 'D' => "DIAMOND"
        }
        val ap = rest.dropRight(1).toInt
        (proj, ap, topo)
    }
    DggsConf(t, proj, aperture, topo, resolution, vert0LatDeg, vert0LonDeg, azimuthDeg)
  }

  def apply(dggsType: String, resolution: Int): DggsConf =
    apply(dggsType, resolution, 58.28252559, 11.25, 0.0)
}
